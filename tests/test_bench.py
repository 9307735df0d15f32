"""bench.py's own contracts: the compact stdout line fits the budget
of the bench record, and ``time_key`` times a key by computing every
one of its output columns."""

from __future__ import annotations

import json

from bench import (
    HEADLINE,
    LINE_BUDGET,
    SUITE_VERSION,
    SUITE_VERSION_V2,
    _compact_line,
    time_key,
)
from conftest import REPO, SF_SMALL


def test_compact_line_fits_budget():
    r = json.loads((REPO / "bench_full.json").read_text())
    r["suite_version"] = SUITE_VERSION
    r["suite_version_v2"] = SUITE_VERSION_V2
    compact = _compact_line(r)
    assert len(json.dumps(compact)) <= LINE_BUDGET <= 1990
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in compact
    assert compact["queries"].keys() == set(HEADLINE)


def test_time_key_runs_every_output_column(spark, monkeypatch):
    """A Python-UDF column counts its calls: a ``count()`` prunes it and
    calls it zero times, a full materialisation once per row."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.plans import QUERIES

    rows = 1000
    calls = spark.sparkContext.accumulator(0)

    def probe(spark, sf_dir):
        @F.udf("long")
        def counted(x):
            calls.add(1)
            return x

        return spark.range(rows).withColumn("y", counted("id"))

    monkeypatch.setitem(QUERIES, "bench_udf_probe", probe)
    profile = time_key(spark, "bench_udf_probe", SF_SMALL)
    assert calls.value == rows
    assert profile["jobs"] >= 1
    assert profile["executor_cpu_s"] > 0
    assert profile["s"] >= profile["exec_s"] > 0
    # a second run reports its own jobs, not the first run's as well
    again = time_key(spark, "bench_udf_probe", SF_SMALL)
    assert calls.value == 2 * rows
    assert again["jobs"] == profile["jobs"]
