from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests import oracle_pandas as O
from webalizer_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def result(spark, transcripts, dims):
    res = run_pipeline(spark, transcripts, dims)
    yield res
    res.unpersist()


@pytest.fixture(scope="module")
def oracle(fixture_dir):
    raw = pd.read_parquet(f"{fixture_dir}/transcripts.parquet")
    parsed = O.parse(raw)
    ok = parsed[parsed["parse_ok"]]
    sessions = O.sessionize(ok)
    return raw, parsed, ok, sessions


def test_sink_count_invariants(result, transcripts, oracle):
    """north_rule: per-sink aggregate counts. hits == sum of routed rows."""
    raw, parsed, ok, _ = oracle
    total = transcripts.count()
    n_err = result.errors.count()
    n_ok = result.enriched.count()
    assert n_err + n_ok == total
    assert n_err == int((~parsed["parse_ok"]).sum())
    assert result.tool_calls.count() == int(ok["tool"].notna().sum())


def test_routed_row_equality_errors(result, oracle):
    """north_rule: routed-row equality — the errors sink contains exactly
    the corrupt rows, full-row set equality."""
    raw, parsed, ok, _ = oracle
    got = result.errors.select("conv_id", "turn_idx", "text").toPandas()
    ref = parsed.loc[~parsed["parse_ok"], ["conv_id", "turn_idx", "text"]]
    got_set = set(map(tuple, got.itertuples(index=False)))
    ref_set = set(map(tuple, ref.itertuples(index=False)))
    assert got_set == ref_set


def test_errors_sink_keeps_raw_line(spark, dims):
    """The errors sink holds each bad turn's input line exactly, per
    (conv_id, turn_idx), under both grok strategies: the grok reads a
    sanitized copy, so control characters and text past its 4,096-char
    bound survive in the sink. A good line still parses to its fields."""
    import datetime as dt

    good = ('actor0 - u1 [01/Feb/2024:10:00:00 +0000] '
            '"GET /t/x PROTO/1.1" 200 10 "-" "a/1.0 (os)"')
    ts = dt.datetime(2024, 2, 1, 10)
    rows = [("c1", 0, "user", "corrupt\tline\x01 with ctl", None, ts),
            ("c1", 1, "user", "y" * 5000, None, ts),
            ("c2", 0, "user", good, "t", ts)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
              " tool string, ts timestamp")
    for strategy in ("split", "pandas"):
        res = run_pipeline(spark, df, dims, grok_strategy=strategy)
        try:
            got = {(r["conv_id"], r["turn_idx"]): r["text"]
                   for r in res.errors.collect()}
            assert got == {("c1", 0): rows[0][3], ("c1", 1): rows[1][3]}, \
                strategy
            (r,) = res.enriched.collect()
            assert (r["actor"], r["ident"], r["auth_user"], r["verb"],
                    r["path"], r["status"], r["nbytes"], r["referrer"],
                    r["agent_str"], r["ts_text"]) == (
                "actor0", None, "u1", "GET", "t/x", 200, 10, None,
                "a/1.0 (os)", ts), (strategy, r)
        finally:
            res.unpersist()


def test_daily_totals_match_oracle(result, oracle):
    _, _, _, sessions = oracle
    got = (result.reports["daily"].toPandas()
           .sort_values("day_ts").reset_index(drop=True))
    ref = O.daily_totals(sessions).sort_values("day_ts").reset_index(drop=True)
    assert len(got) == len(ref)
    for col in ["hits", "files", "pages", "errors", "sites", "visits"]:
        assert got[col].astype("int64").tolist() == ref[col].astype("int64").tolist(), col
    assert np.allclose(got["kbytes"], ref["kbytes"], rtol=1e-9)


def test_status_histogram_matches_oracle(result, oracle):
    _, _, ok, _ = oracle
    got = (result.reports["status_codes"].toPandas()
           .sort_values("status").reset_index(drop=True))
    ref = O.status_histogram(ok)
    assert got["status"].tolist() == ref["status"].tolist()
    assert got["hits"].tolist() == ref["hits"].tolist()


def test_top_tools_matches_oracle(result, oracle):
    _, _, ok, _ = oracle
    got = result.reports["top_tools"].toPandas()
    ref = (O.per_tool(ok).sort_values(["hits", "tool"],
                                      ascending=[False, True]).head(30)
           .reset_index(drop=True))
    assert got["tool"].tolist() == ref["tool"].tolist()
    assert got["hits"].tolist() == ref["hits"].tolist()
    assert np.allclose(got["kbytes"], ref["kbytes"], rtol=1e-9)


def test_actor_class_matches_oracle(result, oracle):
    _, _, ok, _ = oracle
    got = (result.reports["by_actor_class"].toPandas()
           .sort_values("actor_class").reset_index(drop=True))
    ref = (O.actor_class_totals(ok).sort_values("actor_class")
           .reset_index(drop=True))
    assert got["actor_class"].tolist() == ref["actor_class"].tolist()
    assert got["hits"].tolist() == ref["hits"].tolist()


def test_entry_exit_reports(result, oracle):
    _, _, _, sessions = oracle
    ref_entries, ref_exits = O.entry_exit_counts(sessions)
    top_entry = result.reports["top_entry"].toPandas()
    ref_top = (ref_entries.sort_values(["entries", "page"],
                                       ascending=[False, True]).head(10))
    assert top_entry["page"].tolist() == ref_top["page"].tolist()
    assert top_entry["entries"].tolist() == ref_top["entries"].tolist()


def test_skew_safe_pipeline_equivalence(spark, transcripts, dims, result):
    """Salting/skew path on vs off -> identical sinks (SURVEY §5.2
    prop d): every report plus the by_role, tool_calls and errors sinks,
    compared as sorted rows. The fixture's convs are far below
    HOT_CONV_ROWS, so the module result took the window path; the
    skew-safe path is forced through the sessionizer seam."""
    from webalizer_spark.operators.sessionize import sessionize_skew_safe

    def sinks(res):
        return {**res.reports, "by_role": res.by_role,
                "tool_calls": res.tool_calls, "errors": res.errors}

    res2 = run_pipeline(spark, transcripts, dims,
                        sessionizer=sessionize_skew_safe)
    try:
        window, skew = sinks(result), sinks(res2)
        assert window.keys() == skew.keys()
        for name in window:
            a = window[name].toPandas()
            b = skew[name].toPandas()
            a = a.sort_values(list(a.columns)).reset_index(drop=True)
            b = b.sort_values(list(b.columns)).reset_index(drop=True)
            assert len(a) > 0, name
            pd.testing.assert_frame_equal(a, b, check_exact=False,
                                          rtol=1e-12, obj=name)
    finally:
        res2.unpersist()


def test_auto_skew_selection_and_metrics(spark, transcripts, dims, tmp_path,
                                        monkeypatch, skew_calls):
    """The pipeline picks the skew-safe path once the sampled hottest conv
    reaches HOT_CONV_ROWS; write_sinks emits the per-partition lineage
    metrics manifest."""
    import json
    from webalizer_spark.operators import sessionize as S
    from webalizer_spark.plans.pipeline import write_sinks

    monkeypatch.setattr(S, "HOT_CONV_ROWS", 100)  # fixture has >100-turn convs
    res = run_pipeline(spark, transcripts, dims)
    try:
        assert skew_calls, "the skew-safe path did not run"
        out = str(tmp_path / "sinks")
        counts = write_sinks(res, out)
        m = json.load(open(f"{out}/_metrics.json"))
        assert m["sinks"] == {k: int(v) for k, v in counts.items()}
        assert sum(p["rows"] for p in m["spine_partitions"]) == \
            int(counts["by_role"])
        assert all("bytes" in p for p in m["spine_partitions"])
    finally:
        res.unpersist()


def test_full_dump_sinks(spark, transcripts, dims):
    """T5/S6: cfg.dumps materializes all_* tables — the FULL sorted
    aggregate, not a top-N slice."""
    from webalizer_spark.config import EngineConfig
    from webalizer_spark.plans.pipeline import run_pipeline

    cfg = EngineConfig(dumps=("tools", "sites"))
    res = run_pipeline(spark, transcripts, dims, cfg=cfg)
    all_tools = res.reports["all_tools"].toPandas()
    n_tools = res.enriched.filter("tool IS NOT NULL") \
        .select("tool").distinct().count()
    assert len(all_tools) == n_tools          # full table, no N cut
    assert (all_tools["hits"].is_monotonic_decreasing)
    assert "all_sites" in res.reports and "all_agents" not in res.reports
    res.unpersist()
