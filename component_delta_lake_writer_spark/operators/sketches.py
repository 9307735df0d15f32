"""Mergeable frequency sketches.

Count-min sketch (Cormode & Muthukrishnan, "An improved data stream
summary: the count-min sketch and its applications", J. Algorithms
2005): a ``depth x width`` counter grid where every value increments
one counter per row (position = row-seeded hash mod width) and a
frequency estimate is the MIN over its counters — always >= the true
count, with the overestimate bounded by collisions.

Scale posture: the sketch build is ONE aggregation keyed on
(row, position) — at most ``depth*width`` groups survive per task
after map-side partial aggregation, so shuffle volume is O(depth *
width * tasks) no matter how many input rows; the grid itself is
``depth*width`` rows of metadata. The heavy-hitter query joins a
candidate set against the broadcast grid. Positions come from the
portable hash (``functions/hashing.py``), which the SQL oracle
reproduces, so the estimates are deterministic — no seed state, no
model files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.hashing import portable_hash

__all__ = ["countmin_sketch", "countmin_estimate", "countmin_heavy_hitters"]


def _pos(j, value_col, width: int):
    """Row-j hash position of a value: the portable hash of
    ``'<j>|<value>'`` mod width."""
    return portable_hash(
        F.concat_ws("|", j.cast("string"), value_col)
    ) % F.lit(width)


def countmin_sketch(
    values: DataFrame, col: str, width: int = 64, depth: int = 3
) -> DataFrame:
    """Build the grid: (j, pos, c) with one row per non-empty counter.
    Mergeable by construction — grids from different partitions,
    days, or tables combine by summing ``c`` on (j, pos)."""
    j = F.explode(
        F.sequence(F.lit(0), F.lit(depth - 1))
    ).alias("j")
    return (
        values.select(F.col(col).alias("_v"), j)
        .select("j", _pos(F.col("j"), F.col("_v"), width).alias("pos"))
        .groupBy("j", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def countmin_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    col: str,
    width: int = 64,
    depth: int = 3,
) -> DataFrame:
    """Estimated frequency of each candidate value: MIN over its
    ``depth`` counters. The grid broadcasts (<= depth*width rows);
    the candidate set streams through it.

    The grid is SPARSE (only non-empty counters materialize), so the
    probe LEFT-joins and coalesces a missing counter to 0 — a
    candidate that was never inserted and hits at least one empty
    counter must estimate 0, exactly like the dense-array CMS (an
    inner join silently took the min over only the colliding
    counters, turning "absent" into a positive overestimate)."""
    j = F.explode(
        F.sequence(F.lit(0), F.lit(depth - 1))
    ).alias("j")
    cpos = candidates.select(F.col(col), j).select(
        col, "j", _pos(F.col("j"), F.col(col), width).alias("pos")
    )
    return (
        cpos.join(F.broadcast(sketch), ["j", "pos"], "left")
        .groupBy(col)
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est_count")
        )
    )


def countmin_heavy_hitters(
    values: DataFrame,
    col: str,
    k: int = 20,
    width: int = 64,
    depth: int = 3,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` most frequent values by count-min estimate,
    descending (ties by value). ``candidates`` defaults to the
    distinct input values — fine when the domain is bounded (event
    types, languages, status codes); for an unbounded domain pass a
    sampled or tracked candidate set, which is the standard CMS
    deployment (the sketch answers, the candidates ask)."""
    sketch = countmin_sketch(values, col, width, depth)
    cand = (
        candidates
        if candidates is not None
        else values.select(col).distinct()
    )
    return (
        countmin_estimate(sketch, cand, col, width, depth)
        .orderBy(F.col("est_count").desc(), F.col(col).asc())
        .limit(k)
    )
