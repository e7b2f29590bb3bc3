"""Shared pytest fixtures: one SparkSession per test session.

Test-session core count (r14, VERDICT r13 task 1): the suite asserts
SEMANTICS at sf0.001 — per-task scheduling overhead dominates every
Spark action at that size, and local[32] made the gate ~3x slower than
local[4] on identical tests (measured: the interval_join differential
141 s at 32 cores vs 49 s at 6 and 44 s at 4; the r13 driver gate
truncated mid-suite for exactly this throughput reason).  Tests that
reason about parallelism do so relative to defaultParallelism, so they
scale down with the session.  `SPARK_GRAFT_TEST_CPUS` overrides, then
a user's own `SPARK_GRAFT_CPUS`, then the default of 4.

`test_plans.py` runs last: a plan-gate failure must not stop a run
(the first failure ends some CI runs) before the semantic pins in the
other files have reported.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ["SPARK_GRAFT_CPUS"] = (
    os.environ.get("SPARK_GRAFT_TEST_CPUS") or os.environ.get("SPARK_GRAFT_CPUS") or "4"
)

from flink_1_20_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(session, config, items):
    """Run the plan-regression file after every other test (stable
    sort: the order inside each group is unchanged)."""
    items.sort(key=lambda item: item.path.name == "test_plans.py")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from flink_1_20_spark.catalog import load_tables

    return load_tables(spark, sf_dir)
