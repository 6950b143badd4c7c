"""Top-N operators T1-T6 (SURVEY §2.6) — the recast of output.c's
qsort-the-whole-table-then-take-N [output.c ƒtop_sites_table ƒtop_urls_table
ƒqs_*_cmph/cmpk comparators].

Spark improves on the reference here: orderBy().limit(N) compiles to
TakeOrderedAndProject — a per-partition heap of size N plus a driver
merge, NO global sort, NO full shuffle (reference O8 gap). Ties are
broken deterministically (metric desc, key asc); the reference's tie
order is qsort-unstable file order, so equality tests canonicalize
(SURVEY §5.3).

full_dump() is the '.tab dump / view-all page' analog (T5): a real global
sort (range partition + local sort) feeding a sink write.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_n(df: DataFrame, metric: str | Column, key: str | Column,
          n: int) -> DataFrame:
    """Deterministic top-N: metric desc, key asc."""
    m = F.col(metric) if isinstance(metric, str) else metric
    k = F.col(key) if isinstance(key, str) else key
    return df.orderBy(m.desc(), k.asc()).limit(n)


def with_rank(df: DataFrame, metric: str, key: str, n: int) -> DataFrame:
    """Top-N with an explicit 1-based rank column (report table shape).

    Scale shape: the N-cut happens FIRST via top_n() — TakeOrderedAndProject,
    per-partition size-N heaps, no global sort — so rank work is bounded
    by N, never by input cardinality. Rank itself is computed WITHOUT a
    partition-less window (which would move the whole input to a single
    task if ever applied pre-cut): each surviving row's rank is
    1 + count of cut rows strictly before it in (metric desc, key asc)
    order, via a broadcast self-join over the <=N-row result. key is
    unique (it's the upstream groupBy key), so the order is total and
    ranks are exactly 1..N with deterministic ties.
    """
    # lazy localCheckpoint: the <=N-row cut is materialized ONCE and both
    # the row side and the broadcast side read it — without it the input
    # lineage (often an aggregation over the full table) executes twice
    cut = top_n(df, metric, key, n).localCheckpoint(eager=False)
    # _hit marks a real match: count(_rk) would skip a NULL-key match,
    # while count(*) would count the unmatched left row — both wrong
    other = cut.select(F.col(metric).alias("_rm"), F.col(key).alias("_rk"),
                       F.lit(1).alias("_hit"))
    m, o = F.col(metric), F.col("_rm")
    k, ok_ = F.col(key), F.col("_rk")
    # NULL metrics sort LAST (desc_nulls_last, matching top_n's orderBy):
    # a NULL row is "before" nothing except by key among other NULLs.
    # The key tiebreak is null-safe to match top_n's asc() = NULLS FIRST:
    # a NULL key is before every non-null key; '<' alone yields NULL on
    # either side NULL, which made a NULL-key row and its tied non-null
    # neighbor BOTH rank 1 (round-4 advice).
    key_before = (ok_.isNull() & k.isNotNull()) | (ok_ < k)
    before = (o.isNotNull() & m.isNull()) | (o > m) | (
        o.eqNullSafe(m) & key_before)
    return (
        cut.join(F.broadcast(other), before, "left")
        .groupBy(*cut.columns)
        .agg((F.count("_hit") + F.lit(1)).cast("int").alias("rank"))
    )


def with_share(df: DataFrame, metric: str) -> DataFrame:
    """Append pct share of total — the %-of-total column every reference
    top-N table prints [output.c table bodies].

    The total is a scalar one-row aggregate broadcast back onto the rows
    (partial aggregation map-side, then a 1-row broadcast nested-loop
    join) — NOT a partition-less window, which would move the whole
    table to a single task at scale.

    The input is lazily checkpointed first so its lineage executes ONCE
    for both the row side and the total — callers pass report-table
    aggregates (cardinality bounded by the dimension, like every
    reference %-column table), so the checkpoint is small by contract.
    """
    df = df.localCheckpoint(eager=False)
    tot = df.agg(F.sum(metric).alias("_share_total"))
    return (
        df.crossJoin(F.broadcast(tot))
        .withColumn("pct", F.round(
            F.col(metric) * 100.0 / F.col("_share_total"), 4))
        .drop("_share_total")
    )


def full_dump(df: DataFrame, metric: str, key: str) -> DataFrame:
    """T5: full table sorted desc for .tab dumps [output.c ƒdump_all_*]."""
    return df.orderBy(F.col(metric).desc(), F.col(key).asc())
