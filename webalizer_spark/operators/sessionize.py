"""Sessionization — Webalizer's 30-minute visit-timeout logic
(SURVEY §2.5 W1-W3; reference: [hashtab.c ƒput_hnode timeout branch ~150;
webalizer.h Visit_Timeout default 1800]).

Reference semantics, preserved exactly: within one host (here: conv_id),
a record whose gap from the previous record is >= timeout starts a new
visit; the first-ever record of a host starts visit 1. Ordering is
(ts, turn_idx) — turn_idx is the stable tie-break mandated by input_hint
(the C code gets stability implicitly from file order).

Two physical strategies over one gap-and-island window (_islands),
identical output (property-tested):

  sessionize()            the window partitioned by conv_id: one shuffle
                          hash-partitioned by conv_id. The right default:
                          convs are small, partial aggregation downstream
                          is unaffected, AQE coalesces the shuffle.

  sessionize_skew_safe()  the hot-conv path (SURVEY §4 O9). A window
                          partition cannot be split by AQE, so a conv with
                          10^8 turns would pin one task. Instead the window
                          runs per (range, conv_id) over repartitionByRange
                          (conv_id, ts, turn_idx); a small window over one
                          row per (range, conv_id) yields the corrections,
                          which are broadcast-joined back. All Catalyst; no
                          window partition holds more than one range.

pick_sessionizer() chooses between them from a sample of the data, the
way the reference applies one timeout rule per host with no switch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _epoch(ts_col: str) -> F.Column:
    # NTZ-safe epoch seconds (sub-second truncated): session tz is pinned
    # UTC, so NTZ->LTZ->long is exact
    return F.col(ts_col).cast("timestamp").cast("long")


def _islands(df: DataFrame, keys: list[str], timeout_s: int, ts_col: str,
             tiebreak: str) -> DataFrame:
    """Gap-and-island per window partition ``keys``: a row whose gap from
    the previous row is >= timeout_s, or that has none, starts a session;
    session_seq is the running count of starts."""
    w = Window.partitionBy(*keys).orderBy(ts_col, tiebreak)
    prev_epoch = F.lag(_epoch(ts_col)).over(w)
    is_new = prev_epoch.isNull() | ((_epoch(ts_col) - prev_epoch) >= timeout_s)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        df.withColumn("is_new_session", is_new)
          .withColumn("session_seq",
                      F.sum(F.col("is_new_session").cast("long")).over(run))
    )


def sessionize(df: DataFrame, timeout_s: int = 1800,
               key: str = "conv_id", ts_col: str = "ts",
               tiebreak: str = "turn_idx") -> DataFrame:
    """Append is_new_session (boolean) and session_seq (1-based per key).

    session_id = (key, session_seq) composite.
    """
    return _islands(df, [key], timeout_s, ts_col, tiebreak)


# ---------------------------------------------------------------------------
# skew-safe path
# ---------------------------------------------------------------------------

def sessionize_skew_safe(df: DataFrame, timeout_s: int = 1800,
                         key: str = "conv_id", ts_col: str = "ts",
                         tiebreak: str = "turn_idx",
                         num_partitions: int | None = None) -> DataFrame:
    """Skew-proof sessionization: identical output to sessionize().

      1. range-partition by (key, ts, tiebreak), tag each row with its
         range id (_pid) and checkpoint locally;
      2. _islands per (_pid, key): local session numbers;
      3. per (_pid, key): first and last epoch and local session count;
         a window per key over those rows, ordered by _pid, gives _merge
         (the range's first session continues the previous range's last)
         and _off (the key's sessions in earlier ranges, less the merges);
      4. the few nonzero corrections are broadcast-joined back.
    """
    np_ = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # Range bounds are sampled with a seed taken from the RDD id, so every
    # execution of an un-materialized ranged frame may draw new ranges and
    # the local numbers would not match their corrections. localCheckpoint
    # fixes the ranges once and cuts the lineage; the ContextCleaner frees
    # its blocks once no plan references them. Trade-off: a lost executor
    # fails the job instead of recomputing the ranges.
    ranged = (df.repartitionByRange(np_, key, ts_col, tiebreak)
                .withColumn("_pid", F.spark_partition_id())
                .localCheckpoint())
    local = _islands(ranged, ["_pid", key], timeout_s, ts_col, tiebreak)

    by_key = Window.partitionBy(key).orderBy("_pid")
    merge = F.coalesce(F.col("_first") - F.lag("_last").over(by_key)
                       < timeout_s, F.lit(False))
    upto = by_key.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    net = F.col("_n") - F.col("_merge").cast("long")
    corrections = (
        local.groupBy("_pid", key)
             .agg(F.min(_epoch(ts_col)).alias("_first"),
                  F.max(_epoch(ts_col)).alias("_last"),
                  F.max("session_seq").alias("_n"))
             .withColumn("_merge", merge)
             .withColumn("_off", F.sum(net).over(upto) - F.col("_n"))
             .filter((F.col("_off") != 0) | F.col("_merge"))
             .select("_pid", key, "_off", "_merge")
    )
    fixed = local.join(F.broadcast(corrections), ["_pid", key], "left")
    return fixed.select(
        *df.columns,
        F.when(F.col("_merge") & (F.col("session_seq") == 1), False)
         .otherwise(F.col("is_new_session")).alias("is_new_session"),
        (F.col("session_seq") + F.coalesce("_off", F.lit(0)))
        .alias("session_seq"),
    )


# ---------------------------------------------------------------------------
# path choice
# ---------------------------------------------------------------------------

# estimated turns of the hottest key from which the skew-safe path is
# taken: below it the window path is cheaper (no range sort, no local
# checkpoint, no correction join); above it the one window task holding that key pins the stage
# (BENCH.md §2, whale fixtures)
HOT_CONV_ROWS = 100_000


def pick_sessionizer(df: DataFrame) -> Callable[..., DataFrame]:
    """sessionize or sessionize_skew_safe, chosen from the data: skew-safe
    only when the hottest conv is estimated to hold HOT_CONV_ROWS rows.

    The estimate is a seeded 1% sample of the conv_id column (one small job;
    a conv at the threshold lands ~1k sampled rows), not an exact groupBy
    pre-pass, which at scale would be a full shuffle before any work.
    Both paths produce identical output (property-tested), so estimator
    noise can only change which plan runs, never the result; the seed
    keeps a given input deterministic.
    """
    hottest = (df.select("conv_id").sample(fraction=0.01, seed=7)
               .groupBy("conv_id").count()
               .agg(F.max("count")).collect()[0][0] or 0) * 100
    return sessionize_skew_safe if hottest >= HOT_CONV_ROWS else sessionize


# ---------------------------------------------------------------------------
# entry / exit pages (W2 / W3)
# ---------------------------------------------------------------------------

def entry_exit(sessions: DataFrame, page_col: str = "tool",
               key: str = "conv_id", ts_col: str = "ts",
               tiebreak: str = "turn_idx",
               page_pred: F.Column | None = None) -> DataFrame:
    """Per-session entry and exit page [webalizer.c ƒupdate_entry/ƒupdate_exit;
    hashtab.c hnode.lasturl]: the first and last page-row of each visit.

    "Page" defaults to the recast predicate page_col IS NOT NULL
    (SURVEY P7); a conf-driven PageType pipeline passes page_pred
    (filters.page_predicate over the spine's is_page column) with
    page_col='path' so entries/exits are the matching paths, like the
    reference's URL-based entry/exit tables.
    One shuffle (groupBy key+session); min_by/max_by on the (ts, tiebreak)
    struct keeps it a plain hash aggregate — no second window.
    """
    ordk = F.struct(F.col(ts_col), F.col(tiebreak))
    pred = page_pred if page_pred is not None else F.col(page_col).isNotNull()
    return (
        sessions.filter(pred)
        .groupBy(key, "session_seq")
        .agg(
            F.min_by(page_col, ordk).alias("entry_page"),
            F.max_by(page_col, ordk).alias("exit_page"),
            F.count(F.lit(1)).alias("page_hits"),
        )
    )


def entry_counts(sess_pages: DataFrame) -> DataFrame:
    """Top-entry-table input: sessions entered at each page (T3)."""
    return sess_pages.groupBy(F.col("entry_page").alias("page")) \
                     .agg(F.count(F.lit(1)).alias("entries"))


def exit_counts(sess_pages: DataFrame) -> DataFrame:
    return sess_pages.groupBy(F.col("exit_page").alias("page")) \
                     .agg(F.count(F.lit(1)).alias("exits"))
