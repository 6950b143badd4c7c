from __future__ import annotations

from webalizer_spark.queries import (ORACLE, QUERIES, UNGRADED,
                                     UNGRADED_ORACLE)

# registry-agnostic lookups: graded-window rotations move rows
# between QUERIES and UNGRADED without changing what they compute
ALL_Q = {**UNGRADED, **QUERIES}
ALL_O = {**UNGRADED_ORACLE, **ORACLE}

SF = "/root/testdata/sf0.01"


# rows the ungraded sweep below does not derive: graded rows that
# tools/verify_queries.py also checks, and one headline leaf
_EXTRA_CHECKED = ("doc_span_dedup", "doc_lm_ppl", "tr2_json",
                  "emb_semdedup_keep", "doc_tfidf_top", "evt_pagerank",
                  "doc_normalize", "evt_anomalies", "evt_cohorts",
                  "evt_funnel", "doc_mixture_rows")


def test_ungraded_rows_match_duckdb(spark):
    """Every UNGRADED oracle row that no headline bench leaf gates (the
    perfbench ``queries`` workload gates those against DuckDB itself),
    plus _EXTRA_CHECKED, matches its DuckDB twin bit-exact — the canon
    comparison tools/verify_queries.py runs for graded rows, executed
    here because the graded window is capped at 50."""
    import os
    import sys

    import duckdb

    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "tools"))
    import bench
    from verify_queries import canon

    names = sorted(set(UNGRADED_ORACLE) - set(bench.HEADLINE)) \
        + list(_EXTRA_CHECKED)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * "
            f"FROM '{SF}/documents.parquet'")
    con.sql(f"CREATE VIEW events AS SELECT * "
            f"FROM '{SF}/events.parquet'")
    con.sql(f"CREATE VIEW embeddings AS SELECT * "
            f"FROM '{SF}/embeddings.parquet'")
    for name in names:
        sdf = ALL_Q[name](spark, SF).toPandas()
        odf = con.sql(ALL_O[name]).df()
        sc, sr = canon(sdf)
        oc, orows = canon(odf)
        assert sc == oc, (name, sc, oc)
        assert sr == orows, (name, len(sr), len(orows))


def test_approx_distinct_tolerance(spark):
    """A8 scale tier: HLL++ approx distinct within its documented rsd of
    exact (default 5% rsd — allow 15% absolute here)."""
    from pyspark.sql import functions as F
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = {r["day_ts"]: r["sites"] for r in
             ev.groupBy(F.date_trunc("day", "ts").alias("day_ts"))
               .agg(F.countDistinct("user_id").alias("sites")).collect()}
    approx = {r["day_ts"]: r["approx_sites"] for r in
              ALL_Q["evt_approx_distinct"](spark, SF).collect()}
    assert set(exact) == set(approx)
    for d, e in exact.items():
        assert abs(approx[d] - e) <= max(2, 0.15 * e), (d, e, approx[d])


def test_rolling_zscore_flags_planted_spike(spark):
    """A planted 10x spike in an otherwise steady series is flagged;
    warm-up rows (under 2 preceding) and zero-variance stretches get
    NULL z; the window excludes the current row so the spike can't
    mask itself; series are scored independently per partition."""
    from webalizer_spark.operators.aggregates import rolling_zscore

    rows = []
    for d in range(14):
        n = 1000 if d == 10 else 100 + (d % 3)   # mild wiggle + spike
        rows.append(("a", d, n))
        rows.append(("b", d, 50))                # flat series: std 0
    df = spark.createDataFrame(rows, "series string, day int, n long")
    out = {(r["series"], r["day"]): r
           for r in rolling_zscore(df, "n", "day",
                                   partition_col="series").collect()}
    assert out[("a", 0)]["z"] is None            # no preceding rows
    assert out[("a", 1)]["z"] is None            # one preceding row
    assert out[("a", 10)]["is_anomaly"]          # the spike
    assert out[("a", 10)]["z"] > 3
    assert not out[("a", 9)]["is_anomaly"]
    # the day AFTER the spike is judged against a window CONTAINING the
    # spike, so its z is negative but modest — not flagged
    assert not out[("a", 13)]["is_anomaly"]
    for d in range(2, 14):
        assert out[("b", d)]["z"] is None        # zero variance -> NULL
        assert not out[("b", d)]["is_anomaly"]

    # RANGE frame: a calendar gap EMPTIES the baseline instead of
    # stretching it across weeks of missing days (a ROWS frame would
    # score day 40 against days 0-5)
    gap = spark.createDataFrame(
        [("c", d, 100 + d) for d in range(6)] + [("c", 40, 500)],
        "series string, day int, n long")
    gout = {r["day"]: r for r in
            rolling_zscore(gap, "n", "day",
                           partition_col="series").collect()}
    assert gout[5]["z"] is not None
    assert gout[40]["z"] is None and not gout[40]["is_anomaly"]


def test_funnel_order_and_cohort_math(spark):
    """Funnel: a user whose purchase precedes the click counts at
    'view' only — order is enforced step-to-step, and each later step
    requires ALL earlier ones. Cohorts: offsets measure days since the
    user's first-seen day; a user active twice on one day counts once."""
    import datetime as dt

    from webalizer_spark.operators.aggregates import (
        cohort_retention,
        funnel_counts,
    )

    t = lambda d, h=0: dt.datetime(2024, 1, d, h)
    rows = [
        # u1: clean full funnel in order
        (1, "view", t(1)), (1, "click", t(2)), (1, "signup", t(3)),
        (1, "purchase", t(4)),
        # u2: skips signup entirely (purchase can't count without it)
        (2, "view", t(1)), (2, "purchase", t(2)), (2, "click", t(3)),
        # u3: view+click only, same-day double activity
        (3, "view", t(5)), (3, "click", t(5, 6)), (3, "click", t(5, 9)),
        # u4: never views -> contributes to no step
        (4, "click", t(1)), (4, "purchase", t(2)),
        # u5: purchase BEFORE signup -> order check stops it at signup
        (5, "view", t(1)), (5, "click", t(2)), (5, "purchase", t(3)),
        (5, "signup", t(4)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string,"
                                     " ts timestamp")
    fun = {r["step_name"]: r["users"] for r in
           funnel_counts(ev, ["view", "click", "signup", "purchase"])
           .collect()}
    assert fun == {"view": 4, "click": 4, "signup": 2, "purchase": 1}

    coh = {(r["cohort_day"], r["day_offset"]): r["users"]
           for r in cohort_retention(ev).collect()}
    # u1/u2/u4/u5 cohort 1/1 (u1 active days 1-4, u2 1-3, u4 1-2,
    # u5 1-4); u3 cohort 1/5, one active day
    assert coh[("2024-01-01", 0)] == 4
    assert coh[("2024-01-01", 1)] == 4
    assert coh[("2024-01-01", 2)] == 3
    assert coh[("2024-01-01", 3)] == 2
    assert coh[("2024-01-05", 0)] == 1
    assert ("2024-01-05", 1) not in coh

    import pytest
    with pytest.raises(ValueError, match="at least 2"):
        funnel_counts(ev, ["view"])

    # empty input -> zeros, not NULLs (SUM over the empty set is NULL
    # without the coalesce)
    empty = ev.filter("user_id < 0")
    zeros = {r["step_name"]: r["users"] for r in
             funnel_counts(empty, ["view", "click"]).collect()}
    assert zeros == {"view": 0, "click": 0}
