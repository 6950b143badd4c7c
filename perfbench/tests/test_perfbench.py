"""Tests for the benchmark's own code. No Spark session needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))   # gates imports tests.oracle_pandas

import metrics  # noqa: E402
import spans  # noqa: E402

SAMPLE = os.path.join(HERE, "data", "eventlog")
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _fold():
    # the sample is a trimmed event log of one traced batch iteration:
    # two jobs of the spine count, then write_sinks' spine count, the
    # errors, tool_calls and daily-report writes and the manifest pass;
    # one earlier job falls outside both spans
    sp = [spans.Span("spine", 1792192563204, 1792192563244),
          spans.Span("sinks", 1792192574548, 1792192604343)]
    return spans.fold(spans.read_events(SAMPLE), sp, {1: "/data/out"})


def test_fold_sums_per_span():
    f = _fold()
    (spine, spine_t), (sinks, sinks_t) = f.spans
    assert spine_t.jobs == 2
    assert spine_t.sums["tasks"] == 2
    assert spine_t.sums["run_s"] == pytest.approx(0.279)
    assert spine_t.sums["input_records"] == 14
    assert sinks_t.jobs == 5
    assert sinks_t.sums["tasks"] == 130
    assert sinks_t.sums["run_s"] == pytest.approx(16.683)
    assert sinks_t.sums["cpu_s"] == pytest.approx(4.842059, abs=1e-6)
    assert sinks_t.sums["gc_s"] == pytest.approx(0.628)
    assert sinks_t.sums["shuffle_write_bytes"] == 96390
    assert sinks_t.sums["bytes_written"] == 1535494


def test_fold_splits_sinks_by_output_path():
    by_sink = _fold().sinks[1]
    assert set(by_sink) == {"spine", "errors", "tool_calls", "reports",
                            "manifest"}
    assert all(t.jobs == 1 for t in by_sink.values())
    assert by_sink["errors"].sums["bytes_written"] == 33269
    # a stage listed again by a later job ran in the job that listed it
    # first: the daily report's job reuses tool_calls' stage 27
    assert by_sink["tool_calls"].sums["tasks"] == 32
    assert by_sink["tool_calls"].sums["bytes_written"] == 1502225
    assert by_sink["reports"].sums["shuffle_write_bytes"] == 94122
    assert by_sink["manifest"].first_submit_ms == 1792192603343
    # the per-sink totals add up to the span's
    total = sum(t.sums["tasks"] for t in by_sink.values())
    assert total == _fold().spans[1][1].sums["tasks"]


def test_task_skew_is_max_over_median_of_shuffle_read_stage():
    t = spans.Totals()
    base = dict.fromkeys(spans.FIELDS, 0.0)
    for run in (1.0, 1.0, 2.0, 9.0):
        t.add_task(7, {**base, "run_s": run, "shuffle_read_bytes": 10.0})
    t.add_task(8, {**base, "run_s": 50.0, "shuffle_read_bytes": 1.0})
    assert t.task_skew() == pytest.approx(9.0 / 1.5)
    assert spans.Totals().task_skew() == 0.0


def test_sink_of():
    assert spans.sink_of("file:/o/by_role", "/o") == "by_role"
    assert spans.sink_of("file:/o/reports/daily", "/o") == "reports"
    assert spans.sink_of("file:/ckpt/v=1/conv_state", "/o") is None
    assert spans.sink_of(None, "/o") is None


def test_compressed_logs_are_refused(tmp_path):
    d = tmp_path / "eventlog_v2_local-2"
    d.mkdir()
    (d / "events_1_local-2.zstd").write_bytes(b"")
    with pytest.raises(ValueError):
        spans.event_files(str(tmp_path))


def test_metric_names_and_units():
    names = [m.name for m in metrics.END_TO_END + metrics.PER_LAYER]
    assert len(names) == len(set(names))
    for name in names + list(metrics.WORKLOADS):
        assert NAME.fullmatch(name) and len(name) <= 64, name
    for m in metrics.END_TO_END + metrics.PER_LAYER:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m.unit), m
        assert m.better in ("higher", "lower"), m


def test_every_layer_metric_names_what_it_should_move():
    e2e = {m.name for m in metrics.END_TO_END}
    for m in metrics.PER_LAYER:
        assert m.moves, m.name
        for metric, workload in m.moves:
            assert metric in e2e, (m.name, metric)
            assert workload in metrics.WORKLOADS, (m.name, workload)


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == [
        m.name for m in metrics.END_TO_END]
    assert [m["name"] for m in spec["per_layer"]] == [
        m.name for m in metrics.PER_LAYER]
    for m, c in zip(spec["end_to_end"], metrics.END_TO_END):
        assert (m["unit"], m["better"], m["bound"]) == (
            c.unit, c.better, c.bound)
    assert {w["name"] for w in spec["workloads"]} <= set(metrics.WORKLOADS)
    assert spec["end_to_end"][0]["name"] == "setup_s"
    assert max(m["bound"] for m in spec["end_to_end"]) == \
        spec["end_to_end"][0]["bound"] <= 0.25


def test_frame_digest_ignores_row_and_column_order():
    from gates import frame_digest

    a = pd.DataFrame({"k": ["x", "y", "z"], "v": [1, 2, 3]})
    b = a.iloc[::-1][["v", "k"]]
    assert frame_digest(a) == frame_digest(b)
    assert frame_digest(a) != frame_digest(a.assign(v=[1, 2, 4]))
