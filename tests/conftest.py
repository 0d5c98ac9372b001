import contextlib
import os
import sys
import uuid

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")

# Two-tier suite (r16): `pytest tests/` runs the default tier and must
# finish well inside a CI/driver verify window (~15 min); tests marked
# `slow` — the full-bench canary, the long randomized schedule
# properties, anything that boots extra JVMs — only run in the explicit
# slow lane: SPARK_GRAFT_SLOW_TESTS=1 python -m pytest tests/.
# The slow tier is a superset gate, not a different gate: it re-runs
# everything plus the marked tests.
RUN_SLOW = os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running test (full bench, 100x probes, extra JVMs); "
        "skipped unless SPARK_GRAFT_SLOW_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if RUN_SLOW:
        return
    skip = pytest.mark.skip(
        reason="slow tier: set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from ftp_blueprints_spark.session import get_spark

    s = get_spark(app_name="ftp-blueprints-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs() as ids:`` collects into ``ids`` the ids of the
    Spark jobs started on this thread inside the block (one fresh job
    group per use)."""

    @contextlib.contextmanager
    def track():
        sc = spark.sparkContext
        group = f"track-{uuid.uuid4().hex}"
        ids: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return track
