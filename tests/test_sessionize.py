from __future__ import annotations

from functools import partial

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests import oracle_pandas as O
from webalizer_spark.operators.sessionize import (
    entry_exit,
    pick_sessionizer,
    sessionize,
    sessionize_skew_safe,
)

COLS = ["conv_id", "turn_idx", "is_new_session", "session_seq"]


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_window_matches_pandas_oracle(spark, transcripts, fixture_dir):
    got = _sorted(sessionize(transcripts).select(*COLS).toPandas())
    raw = pd.read_parquet(f"{fixture_dir}/transcripts.parquet")
    ref = _sorted(O.sessionize(raw)[COLS])
    assert (got["session_seq"].to_numpy() == ref["session_seq"].to_numpy()).all()
    assert (got["is_new_session"].to_numpy() == ref["is_new_session"].to_numpy()).all()


def test_skew_safe_equals_window(spark, transcripts):
    a = _sorted(sessionize(transcripts).select(*COLS).toPandas())
    for nparts in [1, 7, 32]:
        b = _sorted(sessionize_skew_safe(transcripts, num_partitions=nparts)
                    .select(*COLS).toPandas())
        assert a.equals(b), f"skew path diverges at num_partitions={nparts}"


def test_pick_sessionizer(spark):
    """The path follows the sampled hottest conv: one 150k-row conv takes
    the skew-safe path; a batch-shaped frame (48k rows, hottest conv
    1,000 rows) keeps the window path."""
    whale = spark.range(150_000).select(F.lit("whale").alias("conv_id"))
    assert pick_sessionizer(whale) is sessionize_skew_safe
    flat = spark.range(48_000).select(
        (F.col("id") % 48).cast("string").alias("conv_id"))
    assert pick_sessionizer(flat) is sessionize


def test_order_independence(spark, transcripts):
    """Shuffling input row order never changes sessionization (a guarantee
    the reference LACKS — it depends on file order; SURVEY §5.2 prop a)."""
    a = _sorted(sessionize(transcripts).select(*COLS).toPandas())
    shuffled = transcripts.orderBy(F.rand(seed=7))
    b = _sorted(sessionize(shuffled).select(*COLS).toPandas())
    assert a.equals(b)


# two ranges on the skew-safe path, so a conv can straddle their boundary
@pytest.mark.parametrize(
    "path", [sessionize, partial(sessionize_skew_safe, num_partitions=2)],
    ids=["window", "skew_safe"])
def test_session_semantics_handcrafted(spark, path):
    rows = [
        # conv A: gaps 10s, 1800s (boundary => NEW), 1799s (same)
        ("A", 0, "2024-01-01 00:00:00"),
        ("A", 1, "2024-01-01 00:00:10"),
        ("A", 2, "2024-01-01 00:30:10"),   # gap == 1800 -> new session
        ("A", 3, "2024-01-01 01:00:09"),   # gap == 1799 -> same session
        # conv B: single turn
        ("B", 0, "2024-01-01 05:00:00"),
        # convs F and P lie outside pandas' nanosecond timestamp range
        # (after 2262-04-11, before 1677-09-21); Spark's microsecond
        # timestamps hold them, so both paths must too
        ("F", 0, "2300-01-01 00:00:00"),
        ("F", 1, "2300-01-01 00:29:59"),   # gap == 1799 -> same session
        ("F", 2, "2300-01-01 01:00:00"),   # gap == 1801 -> new session
        ("P", 0, "1600-06-01 00:00:00"),
        ("P", 1, "1600-06-01 00:30:00"),   # gap == 1800 -> new session
        ("P", 2, "1600-06-01 00:30:05"),   # gap == 5 -> same session
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts_s string") \
              .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    got = {(r["conv_id"], r["turn_idx"]): (r["is_new_session"], r["session_seq"])
           for r in path(df).collect()}
    assert got[("A", 0)] == (True, 1)
    assert got[("A", 1)] == (False, 1)
    assert got[("A", 2)] == (True, 2)    # >= timeout starts a new visit
    assert got[("A", 3)] == (False, 2)
    assert got[("B", 0)] == (True, 1)
    assert [got[("F", i)] for i in range(3)] == [(True, 1), (False, 1),
                                                 (True, 2)]
    assert [got[("P", i)] for i in range(3)] == [(True, 1), (True, 2),
                                                 (False, 2)]


def test_entry_exit_counts(spark, transcripts, fixture_dir):
    sess = sessionize(transcripts)
    got_pages = entry_exit(sess)
    entries = (got_pages.groupBy(F.col("entry_page").alias("page"))
               .agg(F.count(F.lit(1)).alias("entries")).toPandas()
               .sort_values("page").reset_index(drop=True))
    raw = pd.read_parquet(f"{fixture_dir}/transcripts.parquet")
    ref_sessions = O.sessionize(raw)
    ref_entries, ref_exits = O.entry_exit_counts(ref_sessions)
    ref_entries = ref_entries.sort_values("page").reset_index(drop=True)
    assert entries["page"].tolist() == ref_entries["page"].tolist()
    assert entries["entries"].tolist() == ref_entries["entries"].tolist()


def test_month_boundary_does_not_reset_sessions(spark):
    """SURVEY §7 hard-part 4: a conv spanning a month boundary keeps its
    session when the gap < timeout. (The reference resets tables at month
    rollover unless incremental state carries tstamp [webalizer.c
    rollover block; preserve.c]; the engine's pinned rule is GLOBAL
    sessionization — time-grain tables bucket rows by ts, sessions are
    grain-independent. The mini-oracle computes the same rule.)"""
    rows = [
        ("M", 0, "2024-01-31 23:50:00"),
        ("M", 1, "2024-02-01 00:05:00"),   # 15-min gap across months
        ("M", 2, "2024-02-01 01:00:00"),   # 55-min gap -> new session
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, s string") \
              .withColumn("ts", F.col("s").cast("timestamp")).drop("s")
    got = {r["turn_idx"]: (r["is_new_session"], r["session_seq"])
           for r in sessionize(df).collect()}
    assert got[0] == (True, 1)
    assert got[1] == (False, 1)   # month rollover does NOT cut the visit
    assert got[2] == (True, 2)
