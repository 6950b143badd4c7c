"""Hypothesis property tests: sessionization semantics hold on arbitrary
inputs, not just the fixture (SURVEY §5.2 item 3), on both sessionize
paths."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from webalizer_spark.operators.sessionize import (
    sessionize,
    sessionize_skew_safe,
)

TIMEOUT = 1800


@st.composite
def convs(draw):
    n_convs = draw(st.integers(1, 5))
    rows = []
    for c in range(n_convs):
        n = draw(st.integers(1, 12))
        t = draw(st.integers(0, 10**6))
        for i in range(n):
            rows.append((f"c{c}", i, t))
            # gaps straddle the timeout boundary incl. exactly 1800
            t += draw(st.sampled_from([1, 10, 1799, 1800, 1801, 7200]))
    return rows


def _pandas_sessions(rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "es"]) \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    newconv = pdf["conv_id"].ne(pdf["conv_id"].shift())
    gap = pdf["es"] - pdf["es"].shift()
    isnew = newconv | (gap >= TIMEOUT)
    seq = isnew.astype("int64").groupby(pdf["conv_id"]).cumsum()
    return {(r.conv_id, r.turn_idx): int(s)
            for r, s in zip(pdf.itertuples(), seq)}


def _skew_safe(df):
    # few ranges, so convs straddle partition boundaries and the
    # cross-partition corrections run
    return sessionize_skew_safe(df, num_partitions=3)


@pytest.mark.parametrize("path", [sessionize, _skew_safe],
                         ids=["window", "skew_safe"])
@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(rows=convs())
def test_sessionize_matches_pandas_on_random_inputs(spark, path, rows):
    df = (spark.createDataFrame(rows, "conv_id string, turn_idx int, es long")
          .withColumn("ts", st_ts()))
    got = {(r["conv_id"], r["turn_idx"]): r["session_seq"]
           for r in path(df).collect()}
    assert got == _pandas_sessions(rows)


def st_ts():
    from pyspark.sql import functions as F
    return F.timestamp_seconds(F.col("es"))
