from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webalizer_spark import get_spark  # noqa: E402
from webalizer_spark.datagen import GenParams, ensure_fixture  # noqa: E402

FIXTURE_BASE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "_gen")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="webalizer_spark_tests",
                  extra_confs={"spark.sql.shuffle.partitions": "8",
                               "spark.ui.showConsoleProgress": "false"})
    yield s


@pytest.fixture
def skew_calls(monkeypatch) -> list:
    """One entry per sessionize_skew_safe call during the test.
    pick_sessionizer looks the path up in its module, so the spy set
    there sees every pick."""
    from webalizer_spark.operators import sessionize as S

    calls: list = []
    real = S.sessionize_skew_safe

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(S, "sessionize_skew_safe", spy)
    return calls


@pytest.fixture(scope="session")
def fixture_dir() -> str:
    return ensure_fixture(FIXTURE_BASE, GenParams())


@pytest.fixture(scope="session")
def small_fixture_dir() -> str:
    """Tiny fixture for exhaustive row-level assertions."""
    return ensure_fixture(
        FIXTURE_BASE, GenParams(n_convs=200, hot_convs=1, hot_mult=20),
        tag="sf_small")


@pytest.fixture(scope="session")
def transcripts(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/transcripts.parquet")


@pytest.fixture(scope="session")
def dims(spark, fixture_dir):
    return {n: spark.read.parquet(f"{fixture_dir}/{n}.parquet")
            for n in ["role_class", "tool_family", "byte_ranges",
                      "engine_params", "name_groups"]}
