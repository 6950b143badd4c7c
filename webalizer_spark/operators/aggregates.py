"""Aggregation operators A1-A14 (SURVEY §2.4) — the recast of webalizer's
hash tables [hashtab.c ƒput_hnode/ƒput_unode/ƒput_rnode/ƒput_anode/
ƒput_inode/ƒput_snode] and counter arrays [webalizer.c th_*/tm_*/t_*].

Every aggregate is a plain groupBy().agg() — Spark's HashAggregateExec
gives partial (map-side) + final aggregation with spill for free, which
replaces the reference's bounded in-memory tables. Metric vocabulary:

  hits    = rows (reference: every parsed record)
  files   = rows with status == 200 [webalizer.c 'file' tally]
  pages   = rows with is_page (PageType; default tool IS NOT NULL, the
            P7 recast of ispage())
  kbytes  = sum(nbytes)/1024 [output.c KBytes math]
  visits  = count of session-start rows (is_new_session)
  sites   = distinct conv_id [hashtab.c t_site = node count]

Multi-grain time tables (hourly/daily/monthly [webalizer.c counter block])
use date_trunc.
At 100 TB every one of these is a single AQE-coalesced shuffle whose key
cardinality (hours, tools, statuses...) is tiny, so partial aggregation
collapses virtually all input map-side — hot conv_ids do not skew any
aggregate keyed on something else.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from webalizer_spark.operators.filters import group_name

# metric factories (Columns can't be built before a SparkContext exists)
def HITS() -> Column:
    return F.count(F.lit(1)).alias("hits")


def FILES() -> Column:
    return F.count_if(F.col("status") == 200).alias("files")


def PAGE_ROWS() -> Column:
    """pages: rows whose is_page column is set. The spine computes
    is_page once from the PageType predicate (filters.page_predicate);
    a frame built elsewhere adds it with the same predicate."""
    return F.count_if(F.col("is_page")).alias("pages")


def ERRORS() -> Column:
    return F.count_if(F.col("status") >= 400).alias("errors")


def KBYTES() -> Column:
    return (F.sum("nbytes") / F.lit(1024.0)).alias("kbytes")


def VISITS() -> Column:
    return F.count_if(F.col("is_new_session")).alias("visits")


def SITES() -> Column:
    return F.countDistinct("conv_id").alias("sites")


def _core() -> list[Column]:
    return [HITS(), FILES(), PAGE_ROWS(), ERRORS(), KBYTES()]


def _grain(grain: str) -> Column:
    return F.date_trunc(grain, F.col("ts")).alias(f"{grain}_ts")


def time_totals(df: DataFrame, grain: str = "day",
                with_sessions: bool = False) -> DataFrame:
    """A7/A8/A9: hourly/daily/monthly totals incl. per-bucket distinct
    sites (reference daily table sd_htab) and visit starts."""
    metrics = [*_core(), SITES()]
    if with_sessions:
        metrics.append(VISITS())
    return df.groupBy(_grain(grain)).agg(*metrics)


def hour_of_day_profile(df: DataFrame) -> DataFrame:
    """A7 variant: the reference's hourly table is hour-OF-DAY within the
    month [webalizer.c th_* arrays] — a 24-row profile."""
    return df.groupBy(F.hour("ts").alias("hour")).agg(*_core())


def per_site(df: DataFrame) -> DataFrame:
    """A1: per-conv (per-site) table [hashtab.c ƒput_hnode]: hits, files,
    pages, kbytes, visits, last-seen ts."""
    return df.groupBy("conv_id").agg(
        *_core(), VISITS(), F.max("ts").alias("last_ts"),
    )


def per_url(df: DataFrame) -> DataFrame:
    """A2: per-tool (per-URL) table [hashtab.c ƒput_unode] over page rows."""
    return (
        df.filter(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(HITS(), FILES(), KBYTES())
    )


def per_referrer(df: DataFrame) -> DataFrame:
    """A3 [hashtab.c ƒput_rnode]; NULL referrer -> '-' bucket like the
    reference's blank-referrer slot."""
    return df.groupBy(
        F.coalesce("referrer", F.lit("-")).alias("referrer")
    ).agg(HITS())


def per_agent(df: DataFrame, mangled_col: str = "agent_str") -> DataFrame:
    """A4 [hashtab.c ƒput_anode] (post-mangle when cfg.mangle_agents>0)."""
    return df.groupBy(F.col(mangled_col).alias("agent")).agg(HITS())


def per_user(df: DataFrame) -> DataFrame:
    """A5 [hashtab.c ƒput_inode]: authuser/ident table, sessionful."""
    return (
        df.filter(F.col("ident").isNotNull())
        .groupBy(F.col("ident").alias("user"))
        .agg(HITS(), FILES(), KBYTES(), VISITS())
    )


def per_search_term(df: DataFrame) -> DataFrame:
    """A6 [hashtab.c ƒput_snode] over extracted search terms."""
    return (
        df.filter(F.col("search_term").isNotNull())
        .groupBy("search_term")
        .agg(HITS())
    )


def status_histogram(df: DataFrame) -> DataFrame:
    """A10: response-code histogram [webalizer.c response[] tally]."""
    return df.groupBy("status").agg(HITS())


def per_class(df: DataFrame, class_col: str = "actor_class") -> DataFrame:
    """A11: country-table recast — hits/files/kbytes per enrichment class."""
    return df.groupBy(class_col).agg(HITS(), FILES(), KBYTES())


def month_summary(df: DataFrame) -> DataFrame:
    """A9: month totals + distinct cardinalities (t_site/t_url/t_agent/
    t_user) — the webalizer.hist row [preserve.c ƒput_history]."""
    return df.groupBy(_grain("month")).agg(
        *_core(), VISITS(), SITES(),
        F.countDistinct("tool").alias("urls"),
        F.countDistinct("agent_str").alias("agents"),
        F.countDistinct("ident").alias("users"),
    )


def grouped_rollup(df: DataFrame, key: str,
                   groups: Sequence[tuple[str, str]],
                   metrics: Sequence[Column] | None = None) -> DataFrame:
    """A12: Group* wildcard rollup [linklist.c ƒisinglist; hashtab.c
    OBJ_GRP nodes]: named groups aggregated IN ADDITION to individuals.

    One shuffle via GROUPING SETS ((key), (group_name)); rows where the
    other column is NULL belong to the opposite set. is_group marks the
    group rows (OBJ_GRP flag analog). Ungrouped values contribute no
    group row, like the reference.
    """
    mets = list(metrics) if metrics is not None else [HITS(), KBYTES()]
    tagged = df.withColumn("group_name", group_name(F.col(key), groups))
    gs = tagged.groupingSets(
        [[F.col(key)], [F.col("group_name")]], F.col(key), F.col("group_name")
    ).agg(*mets, F.grouping(key).alias("_gkey"))
    return (
        gs.withColumn("is_group", F.col("_gkey") == 1)
        .filter(
            (F.col("is_group") & F.col("group_name").isNotNull())
            | (~F.col("is_group") & F.col(key).isNotNull())
        )
        .drop("_gkey")
    )


def rolling_zscore(df: DataFrame, value_col: str, order_col: str,
                   partition_col: str | None = None) -> DataFrame:
    """Rolling z-score anomaly detection over an (already-aggregated)
    time series — the traffic-spike flag on top of the daily rollup
    family (A8): each row is scored against the mean/std of the 7
    PRECEDING units of order_col (the current row is excluded so a
    spike cannot mask itself), and |z| > 3 flags an anomaly. The frame
    is a RANGE frame over a NUMERIC order column (e.g. a day number),
    so calendar gaps shrink the baseline instead of silently stretching
    it across weeks of missing days, and rows sharing an order value get
    identical windows (no arbitrary row-order tie-breaking — a ROWS
    frame over duplicate keys is nondeterministic).

    Determinism recipe: the rolling mean/variance come from exact
    DECIMAL window sums of x and x^2 (x is cast to decimal BEFORE
    squaring — a bigint square overflows under ANSI at counts above
    ~3e9; engines also disagree in the last bits of their streaming
    stddev implementations, and sum-then-derive on decimals is
    order-independent and bit-identical cross-engine), then one shared
    double expression for mean/var/z. Rows with fewer than 2 in-window
    observations or zero variance get a NULL z.

    Scale note: this runs on ROLLUP output (one row per
    (series, grain) — bounded by construction, e.g. types x days), not
    on the fact table; with partition_col set the window partitions on
    the series key, so no global single-partition window exists. 100 TB
    of raw events still reduces to that rollup through the ordinary A8
    partial-aggregation path before this operator ever runs."""
    part = [partition_col] if partition_col else []
    w = Window.partitionBy(*part).orderBy(F.col(order_col)) \
        .rangeBetween(-7, -1)
    x = F.col(value_col).cast("double")
    xd = F.col(value_col).cast("decimal(19,0)")
    s = F.sum(F.col(value_col).cast("decimal(38,6)")).over(w) \
        .cast("double")
    ss = F.sum(xd * xd).over(w).cast("double")
    n = F.count(F.col(value_col)).over(w).cast("double")
    mean = s / n
    var = F.greatest((ss - s * s / n) / (n - 1.0), F.lit(0.0))
    std = F.sqrt(var)
    z = F.when((n >= 2) & (std > 0), (x - mean) / std)
    return df.select(
        *df.columns,
        F.round(z, 6).alias("z"),
        F.coalesce(F.abs(z) > 3.0, F.lit(False))
        .alias("is_anomaly"))


def cohort_retention(events: DataFrame) -> DataFrame:
    """Cohort retention over the event stream: users grouped by their
    FIRST-seen day (the cohort), then counted per (cohort_day,
    day_offset) where offset is days since the cohort day — the
    returning-visitor analysis the reference's visits table gestures
    at `[webalizer.c ƒput_hnode visit accounting (U)]`, generalized to
    the standard retention triangle.

    Scale shape: one groupBy(user) min-aggregation for cohort
    assignment (map-side partial), one distinct over (user, day)
    activity pairs, then an equi-join on user_id — the join carries
    only (user_id, day) pairs, never event payloads; the final
    (cohort, offset) aggregate is tiny by construction. At whale user
    counts the join is the one shuffle and AQE sizes both sides."""
    first = (events.groupBy(F.col("user_id").alias("u"))
             .agg(F.min(F.to_date("ts")).alias("cohort_day")))
    active = (events.select(F.col("user_id").alias("u"),
                            F.to_date("ts").alias("day"))
              .distinct())
    return (active.join(first, "u")
            .groupBy("cohort_day",
                     F.datediff("day", "cohort_day").alias("day_offset"))
            .agg(F.count(F.lit(1)).alias("users"))
            .withColumn("cohort_day", F.col("cohort_day").cast("string")))


def funnel_counts(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered funnel conversion over (user_id, event_type, ts): how
    many users reached step k having
    passed steps 1..k-1 IN ORDER (each step's first occurrence must be
    strictly after the previous step's). One aggregation computes every
    user's first-occurrence time per step (pivot-style min-filter
    aggregates, map-side combined); the order predicate and the
    per-step counts then collapse in a single pass — no joins, no
    windows, two shuffles total (user grouping + the final tiny
    rollup)."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    firsts = events.groupBy(F.col("user_id").alias("u")).agg(*[
        F.min(F.when(F.col("event_type") == s, F.col("ts")))
        .alias(f"_t{i}") for i, s in enumerate(steps)])
    reached = [F.col("_t0").isNotNull()]
    for i in range(1, len(steps)):
        reached.append(reached[i - 1]
                       & F.col(f"_t{i}").isNotNull()
                       & (F.col(f"_t{i}") > F.col(f"_t{i - 1}")))
    agg = firsts.agg(*[
        F.coalesce(F.sum(r.cast("bigint")), F.lit(0)).alias(f"_s{i}")
        for i, r in enumerate(reached)])
    rows = F.array(*[
        F.struct(F.lit(i + 1).cast("int").alias("step"),
                 F.lit(s).alias("step_name"),
                 F.col(f"_s{i}").alias("users"))
        for i, s in enumerate(steps)])
    return (agg.select(F.explode(rows).alias("_r"))
            .select("_r.step", "_r.step_name", "_r.users"))
