from __future__ import annotations

import itertools
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "sf01_gate: rotating sf0.1 oracle spot-gate (scale-dependent semantics)",
    )


_JOB_GROUPS = itertools.count()


def jobs_in(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` submits, read through a job group of
    its own (public ``setJobGroup`` + ``statusTracker``, no py4j handle)."""
    sc = spark.sparkContext
    group = f"jobs_in_{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(scope="session")
def spark():
    from remote_shuffle_spark import EngineConfig, get_session

    session = get_session(EngineConfig(app_name="remote_shuffle_spark_tests"))
    yield session


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT
