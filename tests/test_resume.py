"""Resume-equivalence property (SURVEY §5.2 prop b): run full vs
run-half -> checkpoint -> resume-half => identical results."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from webalizer_spark.operators.filters import page_predicate
from webalizer_spark.operators.sessionize import sessionize
from webalizer_spark.plans.checkpoint import (
    CheckpointPaths,
    load_manifest,
    merge_daily,
    resume_filter,
    resume_sessionize,
    save_state,
)

CKPT = "/root/repo/_gen/_ckpt_test"


@pytest.fixture(scope="module")
def parsed_ok(spark, transcripts):
    from webalizer_spark.operators.parse import parse_transcripts

    parsed = parse_transcripts(transcripts).persist()
    # the spine's default-config is_page column, which the daily state
    # counts as pages
    yield (parsed.filter(F.col("parse_ok"))
           .withColumn("is_page", page_predicate(())))
    parsed.unpersist()


@pytest.fixture(scope="module")
def halves(spark, parsed_ok):
    """Split the fixture at the median ts — the 'already processed' half
    and the 'new log records' half (EP2)."""
    mid_row = parsed_ok.select(
        F.percentile_approx(F.col("ts").cast("timestamp").cast("long"),
                            0.5).alias("m")).collect()[0]
    mid = F.from_unixtime(F.lit(mid_row["m"])).cast("timestamp")
    first = parsed_ok.filter(F.col("ts").cast("timestamp") <= mid)
    second = parsed_ok.filter(F.col("ts").cast("timestamp") > mid)
    return first, second


def test_resume_sessionization_equals_full(spark, parsed_ok, halves):
    first, second = halves
    full = sessionize(parsed_ok)

    shutil.rmtree(CKPT, ignore_errors=True)
    ckpt = CheckpointPaths(CKPT)
    save_state(sessionize(first), ckpt)

    resumed = resume_sessionize(resume_filter(parsed_ok, ckpt), ckpt)

    cols = ["conv_id", "turn_idx", "is_new_session", "session_seq"]
    full_second = (full.join(second.select("conv_id", "turn_idx"),
                             ["conv_id", "turn_idx"])
                   .select(*cols).toPandas()
                   .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    got = (resumed.select(*cols).toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert got.equals(full_second)


def test_resume_daily_merge_equals_full(spark, parsed_ok, halves):
    first, second = halves
    shutil.rmtree(CKPT, ignore_errors=True)
    ckpt = CheckpointPaths(CKPT)
    first_sessions = sessionize(first)
    save_state(first_sessions, ckpt)

    new = resume_sessionize(resume_filter(parsed_ok, ckpt), ckpt)
    merged = merge_daily(new, ckpt).toPandas() \
        .sort_values("day_ts").reset_index(drop=True)

    full = sessionize(parsed_ok)
    ref = (full.groupBy(F.date_trunc("day", "ts").alias("day_ts")).agg(
        F.count(F.lit(1)).alias("hits"),
        F.count_if(F.col("status") == 200).alias("files"),
        F.count_if(F.col("tool").isNotNull()).alias("pages"),
        F.count_if(F.col("status") >= 400).alias("errors"),
        F.sum("nbytes").alias("bytes"),
        F.count_if(F.col("is_new_session")).alias("visits"),
        F.countDistinct("conv_id").alias("sites"))
        .toPandas().sort_values("day_ts").reset_index(drop=True))
    assert merged["day_ts"].tolist() == ref["day_ts"].tolist()
    for c in ["hits", "files", "pages", "errors", "bytes", "visits", "sites"]:
        assert merged[c].astype("int64").tolist() == \
            ref[c].astype("int64").tolist(), c


def test_manifest_lineage(spark, parsed_ok):
    shutil.rmtree(CKPT, ignore_errors=True)
    ckpt = CheckpointPaths(CKPT)
    sessions = sessionize(parsed_ok)
    m = save_state(sessions, ckpt)
    assert m["total_rows"] == parsed_ok.count()
    assert sum(p["rows"] for p in m["partitions"]) == m["total_rows"]
    assert load_manifest(ckpt)["watermark"] == m["watermark"]


def test_second_incremental_run_preserves_prior_state(spark, parsed_ok):
    """Regression (round-1 advice, high): state is MERGED on save, not
    batch-overwritten — a conv/day absent from a later batch keeps its
    saved state, and the SECOND incremental run is still correct."""
    ts_long = F.col("ts").cast("timestamp").cast("long")
    qs = parsed_ok.select(F.percentile_approx(
        ts_long, [1.0 / 3, 2.0 / 3]).alias("q")).collect()[0]["q"]
    t1, t2 = qs
    b1 = parsed_ok.filter(ts_long <= t1)
    b2 = parsed_ok.filter((ts_long > t1) & (ts_long <= t2))
    b3 = parsed_ok.filter(ts_long > t2)

    shutil.rmtree(CKPT, ignore_errors=True)
    ckpt = CheckpointPaths(CKPT)
    s1 = sessionize(b1)
    save_state(s1, ckpt)
    s2 = resume_sessionize(b2, ckpt)
    save_state(s2, ckpt)
    s3 = resume_sessionize(b3, ckpt)
    m = save_state(s3, ckpt)

    # manifest accumulates across runs (not last-batch-only)
    assert m["total_rows"] == parsed_ok.count()

    # per-row equality of the three stitched batches vs one full run
    full = sessionize(parsed_ok)
    cols = ["conv_id", "turn_idx", "is_new_session", "session_seq"]
    got = (s1.select(*cols).unionByName(s2.select(*cols))
           .unionByName(s3.select(*cols)).toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    ref = (full.select(*cols).toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert got.equals(ref)

    # conv_state covers EVERY conv (incl. ones only present in batch 1)
    state = spark.read.parquet(ckpt.conv_state)
    ref_state = full.groupBy("conv_id").agg(
        F.max("ts").alias("last_ts"), F.max("session_seq").alias("sessions"))
    sp = state.toPandas().sort_values("conv_id").reset_index(drop=True)
    rp = ref_state.toPandas().sort_values("conv_id").reset_index(drop=True)
    assert sp["conv_id"].tolist() == rp["conv_id"].tolist()
    assert sp["sessions"].tolist() == rp["sessions"].tolist()
    assert sp["last_ts"].tolist() == rp["last_ts"].tolist()

    # daily_state is the cumulative merge across all three saves
    daily = spark.read.parquet(ckpt.daily_state).toPandas() \
        .sort_values("day_ts").reset_index(drop=True)
    ref_daily = (full.groupBy(F.date_trunc("day", "ts").alias("day_ts")).agg(
        F.count(F.lit(1)).alias("hits"),
        F.count_if(F.col("status") == 200).alias("files"),
        F.count_if(F.col("tool").isNotNull()).alias("pages"),
        F.count_if(F.col("status") >= 400).alias("errors"),
        F.sum("nbytes").alias("bytes"),
        F.count_if(F.col("is_new_session")).alias("visits"))
        .toPandas().sort_values("day_ts").reset_index(drop=True))
    assert daily["day_ts"].tolist() == ref_daily["day_ts"].tolist()
    for c in ["hits", "files", "pages", "errors", "bytes", "visits"]:
        assert daily[c].astype("int64").tolist() == \
            ref_daily[c].astype("int64").tolist(), c

    # each merged day_conv_state file holds its rows in (day_ts, conv_id)
    # order, so the bytes written do not depend on shuffle arrival order
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(f"{ckpt.day_conv_state}/*.parquet")
    assert files
    for path in files:
        t = pq.read_table(path, columns=["day_ts", "conv_id"]).to_pydict()
        keys = list(zip(t["day_ts"], t["conv_id"]))
        assert keys == sorted(keys), path


def test_resume_sessionize_skew_safe_matches_window(spark, parsed_ok, halves,
                                                    monkeypatch, skew_calls):
    """Resume composes with the range-partitioned skew path: identical
    per-row output to the window path."""
    from webalizer_spark.operators import sessionize as S

    first, second = halves
    shutil.rmtree(CKPT, ignore_errors=True)
    ckpt = CheckpointPaths(CKPT)
    save_state(sessionize(first), ckpt)

    cols = ["conv_id", "turn_idx", "is_new_session", "session_seq"]
    new = resume_filter(parsed_ok, ckpt)
    a = (resume_sessionize(new, ckpt).select(*cols).toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert not skew_calls          # small convs: the window path
    monkeypatch.setattr(S, "HOT_CONV_ROWS", 1)
    b = (resume_sessionize(new, ckpt).select(*cols).toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert skew_calls              # the skew-safe path ran
    assert a.equals(b)


def test_tableio_merge_upsert(spark, tmp_path):
    """S9 parquet-shim MERGE: same-key rows replaced, others survive;
    first merge on a missing table creates it."""
    from webalizer_spark.sources.tables import TableIO

    io = TableIO(spark, base_path=str(tmp_path))
    v1 = spark.createDataFrame(
        [("2024-01", 10), ("2024-02", 20)], "month string, hits int")
    io.merge(v1, "history", ["month"])
    v2 = spark.createDataFrame(
        [("2024-02", 25), ("2024-03", 5)], "month string, hits int")
    io.merge(v2, "history", ["month"])
    got = {r["month"]: r["hits"]
           for r in spark.read.parquet(str(tmp_path / "history")).collect()}
    assert got == {"2024-01": 10, "2024-02": 25, "2024-03": 5}


def test_history_from_cumulative_daily_state(spark, parsed_ok, halves):
    """History months re-aggregated from the MERGED daily state equal a
    single full run's month summary, even for a month split across two
    incremental runs."""
    first, second = halves
    shutil.rmtree(CKPT, ignore_errors=True)
    ckpt = CheckpointPaths(CKPT)
    save_state(sessionize(first), ckpt)
    save_state(resume_sessionize(second, ckpt), ckpt)

    hist = (spark.read.parquet(ckpt.daily_state)
            .groupBy(F.date_trunc("month", "day_ts").alias("month_ts"))
            .agg(F.sum("hits").alias("hits"), F.sum("bytes").alias("bytes"))
            .toPandas().sort_values("month_ts").reset_index(drop=True))
    full = (sessionize(parsed_ok)
            .groupBy(F.date_trunc("month", "ts").alias("month_ts"))
            .agg(F.count(F.lit(1)).alias("hits"),
                 F.sum("nbytes").alias("bytes"))
            .toPandas().sort_values("month_ts").reset_index(drop=True))
    assert hist["month_ts"].tolist() == full["month_ts"].tolist()
    assert hist["hits"].astype("int64").tolist() == \
        full["hits"].astype("int64").tolist()
    assert hist["bytes"].astype("int64").tolist() == \
        full["bytes"].astype("int64").tolist()


def test_fold_seq_err_keeps_late_records(spark, parsed_ok, halves):
    """FoldSeqErr recast: late stragglers fold TO the watermark instead
    of being dropped; strict mode still drops them."""
    first, second = halves
    shutil.rmtree(CKPT, ignore_errors=True)
    ckpt = CheckpointPaths(CKPT)
    save_state(sessionize(first), ckpt)
    wm = load_manifest(ckpt)["watermark"]

    # a batch of genuinely-new rows plus 5 stragglers from before the wm
    stragglers = first.orderBy("ts").limit(5)
    batch = second.unionByName(stragglers)

    strict = resume_filter(batch, ckpt)
    assert strict.count() == second.count()          # stragglers dropped

    folded = resume_filter(batch, ckpt, fold_seq_err=True)
    assert folded.count() == second.count() + 5      # stragglers kept
    late = folded.filter("seq_folded")
    assert late.count() == 5
    # folded rows sit exactly at the watermark, never before it
    assert late.filter(
        F.col("ts") != F.lit(wm).cast("timestamp")).count() == 0
    assert folded.filter(
        F.col("ts") < F.lit(wm).cast("timestamp")).count() == 0


def test_month_boundary_visit_counts_once(spark):
    """SURVEY §7 hard-part 4: a visit spanning a month edge. Monthly
    totals split strictly by ts; the session stays unbroken (visits are
    timeout-based, never month-reset [hashtab.c ƒput_hnode: the tstamp
    comparison knows nothing of months]); and an incremental run split
    exactly at the boundary still counts the visit ONCE, in its start
    month."""
    import datetime as dt

    rows = [("mb-1", i, dt.datetime(2024, 1, 31, 23, 50) + dt.timedelta(minutes=m),
             200, "search", 100, "agent/1.0", "u1")
            for i, m in enumerate([0, 5, 12, 16])]   # last two land in Feb
    rows.append(("mb-2", 0, dt.datetime(2024, 2, 1, 9, 0),
                 200, "python", 50, "agent/1.0", "u2"))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, status int,"
              " tool string, nbytes long, agent_str string, ident string"
    ).withColumn("is_page", page_predicate(()))

    sess = sessionize(df, 1800)
    mb1 = sess.filter("conv_id = 'mb-1'").orderBy("turn_idx").collect()
    assert [r["is_new_session"] for r in mb1] == [True, False, False, False]
    assert {r["session_seq"] for r in mb1} == {1}

    from webalizer_spark.operators.aggregates import month_summary
    monthly = {r["month_ts"].month: r for r in month_summary(sess).collect()}
    assert monthly[1]["hits"] == 2 and monthly[2]["hits"] == 3
    assert monthly[1]["visits"] == 1     # the spanning visit, at its start
    assert monthly[2]["visits"] == 1     # only mb-2 begins in February

    # incremental run split at the month boundary: resume must continue
    # the open visit, and the merged daily state counts 2 visits total
    ck = CKPT + "_month"
    shutil.rmtree(ck, ignore_errors=True)
    ckpt = CheckpointPaths(ck)
    save_state(sessionize(
        df.filter("ts < timestamp'2024-02-01 00:00:00'"), 1800), ckpt)
    feb = resume_filter(df, ckpt)
    resumed = resume_sessionize(feb, ckpt, 1800)
    assert resumed.filter("conv_id = 'mb-1'").count() == 2
    assert resumed.filter(
        "conv_id = 'mb-1' AND is_new_session").count() == 0
    merged = merge_daily(resumed, ckpt).collect()
    assert sum(r["visits"] for r in merged) == 2
    shutil.rmtree(ck, ignore_errors=True)


def test_compact_keeps_live_state_resumable(spark, parsed_ok, halves):
    """Checkpoint GC: after three saves, compact(keep_last=1) deletes
    the old version dirs, never the manifest-pointed one, and the
    surviving snapshot still resumes correctly (the merged daily state
    equals the full-run derivation). keep_last<1 refuses; a second
    compact is a no-op."""
    import os

    from webalizer_spark.plans.checkpoint import compact

    first, second = halves
    shutil.rmtree(CKPT, ignore_errors=True)
    ckpt = CheckpointPaths(CKPT)
    s1 = sessionize(first)
    save_state(s1, ckpt)                   # v=1
    save_state(resume_sessionize(resume_filter(second, ckpt), ckpt),
               ckpt)                       # v=2
    save_state(s1, ckpt)                   # v=3 (re-merge, non-empty)

    vdirs = lambda: sorted(d for d in os.listdir(CKPT)  # noqa: E731
                           if d.startswith("v="))
    assert vdirs() == ["v=1", "v=2", "v=3"]
    deleted = compact(ckpt, keep_last=1)
    assert deleted == [1, 2]
    assert vdirs() == ["v=3"]
    assert load_manifest(ckpt)["version"] == 3
    # live snapshot still loads: resuming on the compacted state works
    assert resume_filter(second, ckpt).count() == 0   # all below watermark
    assert compact(ckpt, keep_last=1) == []           # idempotent

    import pytest as _pytest
    with _pytest.raises(ValueError, match="keep_last"):
        compact(ckpt, keep_last=0)


def test_perfbench_history_cols_match_daily_state():
    """The benchmark rebuilds the history table from its own copy of the
    daily-state columns (perfbench/workloads.py HISTORY_COLS); read it
    without importing the benchmark and hold it to DAILY_COLS, so a
    change to the checkpoint's daily columns fails here rather than
    quietly skewing the benchmark's history step."""
    import ast
    import os

    from webalizer_spark.plans.checkpoint import DAILY_COLS

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench", "workloads.py")
    tree = ast.parse(open(path).read())
    found = [ast.literal_eval(node.value) for node in tree.body
             if isinstance(node, ast.Assign)
             and any(getattr(t, "id", None) == "HISTORY_COLS"
                     for t in node.targets)]
    assert found == [DAILY_COLS]
