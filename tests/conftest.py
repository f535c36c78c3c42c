import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.session import (  # noqa: E402
    fork_free_io_conf,
)

# Two-tier suite (README "Tests"): the default run keeps the fast
# example/golden/plan/degenerate tests (~12 min) and deselects the
# deep property tiers — the hypothesis suites, the Python-replay
# property suites, and the crash-replay protocol tests (~50 min
# combined, growing every round).  FULL_SUITE=1 runs everything; the
# full suite is still the campaign gate and must stay green.
_DEEP_PREFIXES = (
    "test_hypothesis",
    "test_replay_properties",
    "test_crash_replay",
    "test_planted_truth",
)


def pytest_collection_modifyitems(config, items):
    if os.environ.get("FULL_SUITE"):
        return
    keep, dropped = [], []
    for item in items:
        name = os.path.basename(str(item.fspath))
        (dropped if name.startswith(_DEEP_PREFIXES) else keep).append(item)
    if dropped:
        config.hook.pytest_deselected(items=dropped)
        items[:] = keep


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .config(map=fork_free_io_conf("local[4]"))
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        # the whole suite shares one JVM; the default 1g driver heap
        # OOMs mid-run now that ~380 tests (hundreds of StreamingQuery
        # lifecycles and cached index frames) accumulate in it
        .config("spark.driver.memory", "8g")
        .appName("tests")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _clear_spark_cache(request):
    """Unpersist everything between tests: operators legitimately
    .cache() within an entry (e.g. the LSH bucket index), but nothing
    is meant to survive a test — without this the shared session pins
    every cached frame for the whole suite."""
    yield
    if "spark" in request.fixturenames:
        request.getfixturevalue("spark").catalog.clearCache()


@pytest.fixture(autouse=True)
def _no_active_streams(request):
    """Fail a test that leaves a StreamingQuery running on the shared
    session: a leaked query keeps reading its source dirs and writing
    its sinks under later tests.  The leaked queries are stopped first,
    so the failure stays with the test that leaked them."""
    yield
    if "spark" not in request.fixturenames:
        return
    leaked = request.getfixturevalue("spark").streams.active
    for q in leaked:
        q.stop()
    assert not leaked, f"test left {len(leaked)} streaming queries active: " + ", ".join(
        str(q.name or q.id) for q in leaked
    )
