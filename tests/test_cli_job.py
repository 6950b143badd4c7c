"""End-to-end test of the spark-submit entry point (jobs/run_pipeline.py)
as a real subprocess: a checkpointed run over half the input, then a
run over the complete input that resumes from that checkpoint — the
EP1/EP2 lifecycle the north_rule grades, exercised through the packaged
CLI rather than the library functions (tests/test_resume.py covers
those)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIMS = ["role_class", "tool_family", "byte_ranges", "engine_params",
        "name_groups"]


def _run_cli(*args: str) -> str:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
         *args],
        capture_output=True, text=True, timeout=420,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8"})
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def _stage_half(full: str, half) -> int:
    """Stage a time-half input in ``half``: the dims plus the ts <= median
    slice of full's transcripts. Returns the slice's row count."""
    half.mkdir()
    for d in DIMS:
        shutil.copy(f"{full}/{d}.parquet", half / f"{d}.parquet")
    med = duckdb.sql(f"SELECT median(ts) FROM "
                     f"'{full}/transcripts.parquet'").fetchone()[0]
    duckdb.sql(f"COPY (SELECT * FROM '{full}/transcripts.parquet' "
               f"WHERE ts <= TIMESTAMP '{med}') TO "
               f"'{half}/transcripts.parquet' (FORMAT PARQUET)")
    return duckdb.sql(
        f"SELECT COUNT(*) FROM '{half}/transcripts.parquet'").fetchone()[0]


def _hottest(inp: str) -> int:
    return duckdb.sql(
        f"SELECT COUNT(*) AS n FROM '{inp}/transcripts.parquet' "
        f"GROUP BY conv_id ORDER BY n DESC LIMIT 1").fetchone()[0]


def _batches(spark, full: str, half) -> list:
    from pyspark.sql import functions as F

    tr = spark.read.parquet(f"{full}/transcripts.parquet")
    first = spark.read.parquet(f"{half}/transcripts.parquet")
    wm = first.agg(F.max("ts")).first()[0]
    return [tr, first, tr.filter(F.col("ts") > F.lit(wm))]


# "whale": one 120,000-turn conv, so pick_sessionizer takes the skew-safe
# path on the full input while each time-half (51k and 69k turns of it)
# keeps the window path; the daily == full_daily check below then holds
# the one-shot skew path against the resumed window path, visits included
@pytest.mark.parametrize("params, hottest, full_path", [
    (dict(n_convs=300, hot_convs=1, hot_mult=20), 3_040, "sessionize"),
    (dict(n_convs=300, hot_convs=1, hot_mult=600, seed=4), 120_000,
     "sessionize_skew_safe"),
], ids=["flat", "whale"])
def test_cli_incremental_resume(spark, tmp_path, params, hottest, full_path):
    from webalizer_spark.datagen import GenParams, ensure_fixture
    from webalizer_spark.operators.sessionize import pick_sessionizer

    full = ensure_fixture(str(tmp_path / "fix"), GenParams(**params),
                          tag="cli")
    n_total = duckdb.sql(
        f"SELECT COUNT(*) FROM '{full}/transcripts.parquet'").fetchone()[0]

    half = tmp_path / "half"
    n_half = _stage_half(full, half)
    assert _hottest(full) == hottest
    # the sessionize path each run below takes: the one-shot run over
    # full, the first batch over half, the resumed batch past half's max ts
    picked = [pick_sessionizer(df).__name__
              for df in _batches(spark, full, half)]
    assert picked == [full_path, "sessionize", "sessionize"]

    out1, ckpt = str(tmp_path / "out1"), str(tmp_path / "ckpt")
    stdout1 = _run_cli("--input", str(half), "--output", out1,
                       "--checkpoint", ckpt)
    assert f"{n_half} records" in stdout1
    with open(os.path.join(out1, "_metrics.json")) as f:
        metrics1 = json.load(f)
    s1 = metrics1["sinks"]
    # every input row routes exactly once: ok spine (by_role) or errors
    assert s1["errors"] + s1["by_role"] == n_half
    with open(os.path.join(ckpt, "manifest.json")) as f:
        m1 = json.load(f)
    # checkpoint state tracks the parse-OK spine, not raw input
    assert m1["total_rows"] == s1["by_role"] and m1["version"] == 1
    # both lineage records describe the same spine partitions
    assert metrics1["spine_partitions"] == m1["partitions"]

    # resume over the FULL input: only rows past the watermark process
    out2 = str(tmp_path / "out2")
    stdout2 = _run_cli("--input", full, "--output", out2,
                       "--checkpoint", ckpt)
    assert f"{n_total - n_half} records" in stdout2
    with open(os.path.join(out2, "_metrics.json")) as f:
        s2 = json.load(f)["sinks"]
    assert s2["errors"] + s2["by_role"] == n_total - n_half
    with open(os.path.join(ckpt, "manifest.json")) as f:
        m2 = json.load(f)
    assert m2["total_rows"] == m1["total_rows"] + s2["by_role"]
    assert m2["version"] == 2

    # cumulative daily state equals a single full run's without a checkpoint
    # (visits too: the resumed sessionizer continues the saved numbering)
    daily = duckdb.sql(
        f"SELECT CAST(SUM(hits) AS BIGINT), CAST(SUM(visits) AS BIGINT) "
        f"FROM '{ckpt}/v=2/daily_state/*.parquet'").fetchone()
    out3 = str(tmp_path / "out3")
    _run_cli("--input", full, "--output", out3)
    full_daily = duckdb.sql(
        f"SELECT CAST(SUM(hits) AS BIGINT), CAST(SUM(visits) AS BIGINT) "
        f"FROM '{out3}/reports/daily/*.parquet'").fetchone()
    assert daily == full_daily

    # history table upserted with month rows
    hist = duckdb.sql(
        f"SELECT COUNT(*) FROM '{out2}/history/*.parquet'").fetchone()[0]
    assert hist >= 1


def _committed(out: str, ckpt: str) -> dict:
    """What a committed checkpointed run leaves: every sink's row count,
    _metrics.json, the manifest and the history rows."""
    import pyarrow.dataset as ds

    with open(os.path.join(out, "_metrics.json")) as f:
        metrics = json.load(f)
    with open(os.path.join(ckpt, "manifest.json")) as f:
        manifest = json.load(f)
    rows = {name: ds.dataset(os.path.join(out, name), format="parquet",
                             partitioning="hive").count_rows()
            for name in metrics["sinks"]}
    history = sorted(map(tuple, duckdb.sql(
        f"SELECT * FROM '{out}/history/*.parquet'").fetchall()))
    return {"rows": rows, "metrics": metrics, "manifest": manifest,
            "history": history}


def test_cli_rerun_of_committed_batch_keeps_sinks(tmp_path):
    """Repeating a checkpointed run after it committed resumes from the
    checkpoint and finds nothing past the watermark; its sinks,
    _metrics.json, manifest and history must stay exactly as the first
    run left them, neither overwritten with empty tables nor merged into
    the saved state a second time."""
    from webalizer_spark.datagen import GenParams, ensure_fixture

    full = ensure_fixture(str(tmp_path / "fix"), GenParams(n_convs=100),
                          tag="rerun")
    _stage_half(full, tmp_path / "half")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_cli("--input", str(tmp_path / "half"), "--output",
             str(tmp_path / "out1"), "--checkpoint", ckpt)
    resume = ("--input", full, "--output", out, "--checkpoint", ckpt)
    _run_cli(*resume)
    first = _committed(out, ckpt)
    assert first["rows"]["by_role"] > 0 and first["manifest"]["version"] == 2

    stdout = _run_cli(*resume)
    assert "0 records" in stdout
    assert _committed(out, ckpt) == first


def test_cli_late_records_only_batch_keeps_sinks(tmp_path):
    """A resumed run whose batch holds only late records (new turns, all
    at or before the committed watermark) drops every one of them at the
    watermark filter: it exits 0 and leaves the sinks, _metrics.json,
    manifest and history as the checkpointed run committed them."""
    from webalizer_spark.datagen import GenParams, ensure_fixture

    full = ensure_fixture(str(tmp_path / "fix"), GenParams(n_convs=100),
                          tag="late")
    half = tmp_path / "half"
    _stage_half(full, half)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_cli("--input", str(half), "--output", out, "--checkpoint", ckpt)
    first = _committed(out, ckpt)
    assert first["rows"]["by_role"] > 0 and first["manifest"]["version"] == 1

    # late arrivals: turns the first run never saw (fresh turn_idx), each
    # stamped at or before its watermark
    late = tmp_path / "late"
    late.mkdir()
    for d in DIMS:
        shutil.copy(f"{full}/{d}.parquet", late / f"{d}.parquet")
    wm = first["manifest"]["watermark"]
    duckdb.sql(f"COPY (SELECT * REPLACE (turn_idx + 1000000 AS turn_idx) "
               f"FROM '{half}/transcripts.parquet' "
               f"WHERE ts <= TIMESTAMP '{wm}') "
               f"TO '{late}/transcripts.parquet' (FORMAT PARQUET)")
    n_late = duckdb.sql(f"SELECT COUNT(*) FROM "
                        f"'{late}/transcripts.parquet'").fetchone()[0]
    assert n_late > 0

    stdout = _run_cli("--input", str(late), "--output", out,
                      "--checkpoint", ckpt)
    assert "no records past the checkpoint watermark" in stdout, stdout
    assert "0 records" in stdout
    assert _committed(out, ckpt) == first


def _mixed_format_fixture(full_dir, dims_src):
    """Deterministic mixed-grammar transcripts: combined/squid/xferlog/w3c
    rows interleaved per (conv, turn), one #Fields: directive row, and a
    corrupt line every 37th row."""
    import datetime as dt

    import pandas as pd

    os.makedirs(full_dir, exist_ok=True)
    for d in DIMS:
        shutil.copy(f"{dims_src}/{d}.parquet", f"{full_dir}/{d}.parquet")

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    w3c_dir = ("#Fields: date time c-ip cs-username cs-method cs-uri-stem "
               "sc-status sc-bytes cs(User-Agent)")
    rows = [("c-dir", -1, "user", w3c_dir, None, base - dt.timedelta(hours=1))]
    n_data = n_bad = 0
    for c in range(60):
        for t in range(8):
            ts = base + dt.timedelta(minutes=c * 7 + t * 3)
            nb = 100 + t
            fmt = (c + t) % 4
            if fmt == 0:
                text = (f"user{c} - - [{ts:%d/%b/%Y:%H:%M:%S} +0000] "
                        f'"GET /tool{t} PROTO/1.1" 200 {nb} "-" '
                        f'"agent/1.{t} (os)"')
            elif fmt == 1:
                epoch = int(ts.replace(tzinfo=dt.timezone.utc).timestamp())
                text = (f"{epoch}.000    45 user{c} TCP_HIT/200 {nb} "
                        f"GET /tool{t} u{c % 50}")
            elif fmt == 2:
                text = (f"{ts:%a %b} {ts.day} {ts:%H:%M:%S %Y} 3 user{c} "
                        f"{nb} /tool{t} b _ o r u{c % 50} ftp 0 * c")
            else:
                text = (f"{ts:%Y-%m-%d} {ts:%H:%M:%S} user{c} u{c % 50} "
                        f"GET /tool{t}/e{t} 200 {nb} agent{t % 4}")
            n_data += 1
            if n_data % 37 == 0:
                text = "CORRUPT " + text[:10]
                n_bad += 1
            rows.append((f"conv-{c:04d}", t, "user", text, None, ts))
    pdf = pd.DataFrame(rows, columns=[
        "conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["tool"] = pdf["tool"].astype("string")   # all-NULL, keep str type
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")   # Spark rejects NANOS
    pdf.to_parquet(f"{full_dir}/transcripts.parquet", index=False)
    return n_data, n_bad


def test_cli_multi_format_incremental(tmp_path):
    """--grok multi with a checkpoint over a mixed combined/squid/xferlog/w3c
    fixture with a #Fields: directive, split across two batches: the
    directive survives the resume watermark (W3C rows in batch 2 still
    parse), every data row routes exactly once, and manifest totals
    accumulate."""
    from webalizer_spark.datagen import GenParams, ensure_fixture

    dims_src = ensure_fixture(str(tmp_path / "dimfix"),
                              GenParams(n_convs=20), tag="dims")
    full = str(tmp_path / "full")
    n_data, n_bad = _mixed_format_fixture(full, dims_src)

    # time-half batch (directive row ships with both batches' source)
    half = str(tmp_path / "half")
    os.makedirs(half)
    for d in DIMS:
        shutil.copy(f"{full}/{d}.parquet", f"{half}/{d}.parquet")
    med = duckdb.sql(f"SELECT median(ts) FROM '{full}/transcripts.parquet' "
                     f"WHERE turn_idx >= 0").fetchone()[0]
    duckdb.sql(f"COPY (SELECT * FROM '{full}/transcripts.parquet' "
               f"WHERE ts <= TIMESTAMP '{med}' OR turn_idx < 0) TO "
               f"'{half}/transcripts.parquet' (FORMAT PARQUET)")
    n_half = duckdb.sql(
        f"SELECT COUNT(*) FROM '{half}/transcripts.parquet' "
        f"WHERE turn_idx >= 0").fetchone()[0]

    out1, ckpt = str(tmp_path / "out1"), str(tmp_path / "ckpt")
    stdout1 = _run_cli("--input", half, "--output", out1,
                       "--checkpoint", ckpt, "--grok", "multi")
    assert f"{n_half} records" in stdout1
    with open(os.path.join(out1, "_metrics.json")) as f:
        s1 = json.load(f)["sinks"]
    assert s1["errors"] + s1["by_role"] == n_half
    assert s1["errors"] > 0                      # corrupt lines routed

    out2 = str(tmp_path / "out2")
    stdout2 = _run_cli("--input", full, "--output", out2,
                       "--checkpoint", ckpt, "--grok", "multi")
    assert f"{n_data - n_half} records" in stdout2
    with open(os.path.join(out2, "_metrics.json")) as f:
        s2 = json.load(f)["sinks"]
    assert s2["errors"] + s2["by_role"] == n_data - n_half
    with open(os.path.join(ckpt, "manifest.json")) as f:
        m2 = json.load(f)
    assert m2["version"] == 2
    assert m2["total_rows"] == s1["by_role"] + s2["by_role"]

    # W3C rows in the SECOND batch parsed via the directive: paths of the
    # form /toolN/eN appear only in the w3c grammar, and they reach the
    # ok spine (by_role sink) — impossible without the #Fields: row
    # surviving the resume watermark
    w3c_batch2 = duckdb.sql(
        f"SELECT COUNT(*) FROM '{out2}/by_role/*/*.parquet' "
        f"WHERE log_format = 'w3c' AND path LIKE '%/e%'").fetchone()[0]
    assert w3c_batch2 > 0


def test_cli_degenerate_batches_route_to_errors(tmp_path):
    """A first checkpointed run over an all-corrupt batch, and one over an
    empty transcripts table, exits 0: every input row lands in the errors
    sink, by_role is empty, and with no spine to snapshot the run leaves
    no manifest and no history."""
    import pyarrow.dataset as ds

    from webalizer_spark.datagen import GenParams, ensure_fixture

    full = ensure_fixture(str(tmp_path / "fix"), GenParams(n_convs=40),
                          tag="degenerate")
    src = f"'{full}/transcripts.parquet'"
    batches = {
        "all_corrupt": f"SELECT * REPLACE ('CORRUPT ' || conv_id AS text) "
                       f"FROM {src} ORDER BY conv_id, turn_idx LIMIT 200",
        "empty": f"SELECT * FROM {src} LIMIT 0",
    }
    for name, sql in batches.items():
        inp = tmp_path / name
        inp.mkdir()
        for d in DIMS:
            shutil.copy(f"{full}/{d}.parquet", inp / f"{d}.parquet")
        duckdb.sql(f"COPY ({sql}) TO '{inp}/transcripts.parquet' "
                   f"(FORMAT PARQUET)")
        n = duckdb.sql(f"SELECT COUNT(*) FROM "
                       f"'{inp}/transcripts.parquet'").fetchone()[0]
        out, ckpt = str(tmp_path / f"{name}_out"), str(tmp_path / f"{name}_ck")
        stdout = _run_cli("--input", str(inp), "--output", out,
                          "--checkpoint", ckpt)
        assert f"{n} records" in stdout, (name, stdout)
        with open(os.path.join(out, "_metrics.json")) as f:
            sinks = json.load(f)["sinks"]
        assert (sinks["errors"], sinks["by_role"]) == (n, 0), (name, sinks)
        rows = {s: ds.dataset(os.path.join(out, s), format="parquet",
                              partitioning="hive").count_rows()
                for s in ("errors", "by_role")}
        assert rows == {"errors": n, "by_role": 0}, (name, rows)
        assert not os.path.exists(os.path.join(ckpt, "manifest.json")), name
        assert not os.path.exists(os.path.join(out, "history")), name
