"""Differential tests: every oracle-backed query key vs DuckDB at
sf0.001 (fast mirror of the driver's sf0.01 gate), rows-only keys
smoke-checked for non-failure + stable schema.

Two-tier suite (see tests/conftest.py): the default tier sweeps a
deterministic SUBSET — every bench-suite key plus every
``SWEEP_STRIDE``-th registry key (~110 of 373) — to stay inside its
time budget; SPARK_GRAFT_FULL_TESTS=1 sweeps all 373 keys."""

from __future__ import annotations

import pytest

from conftest import FULL_TESTS, SF_SMALL, SWEEP_STRIDE


def _registry():
    from component_delta_lake_writer_spark.plans import ORACLES, QUERIES

    return QUERIES, ORACLES


QUERIES, ORACLES = _registry()


def _sweep_keys() -> list[str]:
    keys = sorted(ORACLES)
    if FULL_TESTS:
        return keys
    from bench import HEADLINE, HEADLINE_V2

    # streaming keys are the most expensive per probe (micro-batch
    # machinery at any SF) and the driver's own gate samples them —
    # the default tier only keeps those the SWEEP_STRIDE hits
    suite = {
        k for k in set(HEADLINE) | set(HEADLINE_V2)
        if not k.startswith("stream")
    }
    return [
        k for i, k in enumerate(keys) if k in suite or i % SWEEP_STRIDE == 0
    ]


@pytest.mark.parametrize("key", _sweep_keys())
def test_oracle_match(spark, oracle_con, key):
    from oracle import compare

    compare(QUERIES[key](spark, SF_SMALL), oracle_con, ORACLES[key], key)


def test_every_key_has_an_oracle():
    """Invariant since round 3: no rows-only keys — every registered
    query carries a DuckDB oracle (the driver's strongest gate)."""
    assert set(QUERIES) == set(ORACLES)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
