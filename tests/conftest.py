from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# Two-tier suite: the full suite takes ~49 min at 1105 tests. The DEFAULT run is the fast
# correctness tier; SPARK_GRAFT_FULL_TESTS=1 runs everything. Three
# mechanisms, all keyed on FULL_TESTS:
#   1. tests marked @pytest.mark.slow (the measured slow tail, >= ~9 s
#      per call on an idle host: integration composites and hand-value
#      pins re-covered by the oracle sweep and the 50-key correctness
#      check) skip in the default tier;
#      `SPARK_GRAFT_FULL_TESTS=1 pytest -m slow` runs just them;
#   2. hypothesis property tests run a reduced example budget
#      (test_properties._ex);
#   3. the 373-key oracle sweep parametrizes a deterministic subset
#      (test_queries) — every bench-suite key plus every
#      SWEEP_STRIDE-th registry key.
FULL_TESTS = os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1"
SWEEP_STRIDE = 5


def pytest_collection_modifyitems(items):
    if FULL_TESTS:
        return
    skip = pytest.mark.skip(
        reason="slow tier — run with SPARK_GRAFT_FULL_TESTS=1"
    )
    for item in items:
        if item.get_closest_marker("slow"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from component_delta_lake_writer_spark import get_spark

    s = get_spark(threads=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def oracle_con():
    from oracle import duckdb_conn

    return duckdb_conn(SF_SMALL)
