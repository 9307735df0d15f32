"""Skew-mitigation join: salting for heavy-hitter keys.

AQE's skew-join split (enabled in the session factory) handles most
runtime skew for sort-merge joins; salting is the explicit-plan tool
for the cases AQE can't fix — e.g. a broadcast-ineligible dim joined
on a key where one value holds 30% of the fact rows.

``salted_join`` replicates each right-side row SALT times and sprays
the left side's rows uniformly across the salt space, so the heavy
key's rows spread over SALT tasks instead of one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.exact import exact_sum


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join on ``on`` with the left (large/skewed) side salted.

    Correctness: every left row gets one deterministic salt (content
    hash of the whole row — stable under task retries, which matters:
    a nondeterministic salt feeding a shuffle can duplicate or drop
    rows when a stage recomputes), every right row is replicated to
    all salts — so each (key, salt) bucket joins exactly once. Result
    equals the unsalted join — for INNER and LEFT joins. right/full
    outer are refused: the replicated right side would emit one
    null-padded "unmatched" row per unmatched salt bucket (salt-1
    spurious rows per right row).
    """
    from component_delta_lake_writer_spark.errors import UserException

    if how.replace("_", "").lower() in (
        "right", "rightouter", "full", "fullouter", "outer"
    ):
        raise UserException(
            f"salted_join cannot express how={how!r}: the right side "
            "is replicated per salt, so outer-right semantics emit "
            "spurious null rows. Salt the other side or use a plain "
            "join with AQE skew handling."
        )
    left_s = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)),
    )
    right_s = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = left_s.join(right_s, [on, "__salt"], how).drop("__salt")
    return out


def salted_two_stage_agg(
    df: DataFrame, key: str, value: str, salt: int = 16
) -> DataFrame:
    """Heavy-hitter-safe aggregation: groupBy((key, salt)) partial →
    groupBy(key) final. Where a single key holds a huge share of the
    rows, the plain one-shuffle agg lands that key's every row on one
    reducer; salting spreads the partial over ``salt`` tasks and the
    final stage combines ``salt`` small rows per key.

    (Spark's own partial aggregation already does map-side combines —
    this explicit form matters when the per-key state is too big to
    combine map-side, e.g. large collect-style or sketch states.)

    The salt is a deterministic content hash, never rand() — stable
    under task retries. Emits exact COUNT and SUM per key, equal to
    the unsalted groupBy."""
    # hash the WHOLE row, not just the value column: a heavy-hitter
    # key whose rows share one value (or NULL) would collapse to a
    # single (key, salt) bucket and re-create the hotspot
    salted = df.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt)),
    )
    partial = salted.groupBy(key, "__salt").agg(
        F.count(F.lit(1)).alias("_n"),
        exact_sum(value, 4).alias("_s"),
    )
    return (
        partial.groupBy(key)
        .agg(
            F.sum("_n").cast("long").alias("n_rows"),
            F.round(F.sum("_s").cast("double"), 4).alias("sum_value"),
        )
    )


def skew_profile(
    df: DataFrame, cols: list[str], k: int = 5
) -> DataFrame:
    """Heavy-hitter report per candidate join/partition key: the top
    ``k`` values of each column by row count, with their share of the
    table — the measurement that DECIDES between a plain shuffle,
    AQE's skew split, and ``salted_join`` (a key holding 30% of the
    rows needs salting; one holding 0.3% does not).

    One pass over (column, value) pairs (stack-style explode, map-side
    combinable count), then TWO-PHASE top-k: a local rank inside each
    shuffle partition prunes to ≤k candidates per (column, partition)
    BEFORE the per-column global rank — a single per-column window
    would sort ALL of a column's distinct values in one task, the
    exact single-reducer bottleneck this operator exists to detect.
    (Two-phase is lossless: anything in the global top-k under
    (count desc, value asc) is in its own partition's top-k under the
    same ordering.)  Per-column totals come from their own tiny
    aggregation, broadcast back.  Shuffle volume is bounded by the
    DISTINCT-VALUE count — for an id-like column the profile answer
    ("no skew") costs a near-table-size shuffle, so feed it candidate
    KEYS, not every column.

    Returns (column, value, n_rows, rank, pct) — value stringified so
    heterogeneous key columns share one shape, pct of the table's
    rows rounded 6dp, rank 1..k by (count desc, value asc) so ties
    are deterministic.
    """
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.column", "p.value")
    counts = pairs.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    from pyspark.sql import Window

    order = [F.col("n_rows").desc(), F.col("value").asc_nulls_last()]
    # phase 1: local top-k inside each post-groupBy partition — sort
    # state bounded by a partition's slice of the distinct values
    w_local = Window.partitionBy(
        "column", F.spark_partition_id()
    ).orderBy(*order)
    pruned = (
        counts.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= k)
    )
    # phase 2: global rank over ≤ k·partitions survivors per column
    w = Window.partitionBy("column").orderBy(*order)
    # per-column totals: |columns| rows, map-side combinable,
    # broadcast back (must aggregate BEFORE the top-k prune)
    totals = counts.groupBy("column").agg(
        F.sum("n_rows").alias("_total")
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(F.broadcast(totals), "column")
        .select(
            "column", "value", "n_rows",
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("pct"),
        )
    )


def partition_advisor(
    df: DataFrame,
    cols: list[str],
    max_values: int = 10_000,
    max_top_share: float = 0.5,
    min_rows_per_value: float = 100_000.0,
) -> DataFrame:
    """Partition-key advisor: for each candidate column, the three
    numbers that decide whether it can be a table's partition column
    — distinct-value count (each value is a directory: too many
    explodes the file listing), the heaviest value's row share (one
    dominant value re-creates the full-scan partition), and average
    rows per value (too few means a small-files table) — plus a
    verdict string applying the thresholds.  skew_profile answers
    "which values are hot"; this answers the upstream question
    "should this column partition the table at all".

    Same pricing as skew_profile: ONE pass over (column, value)
    pairs (projection-level unpivot, map-side-combinable count), then
    per-column reductions over distinct values — shuffle volume is
    bounded by the distinct-value count, so feed it candidate keys,
    not every column.  NULLs are reported separately (they land in a
    __HIVE_DEFAULT_PARTITION__-style bucket, not a value).

    Verdicts, first match wins: ``no_values``, ``single_value``,
    ``too_many_values``, ``skewed``, ``too_granular``, ``ok``.
    Returns (column, n_values, n_nulls, n_rows, avg_rows_per_value,
    top_share, verdict) — ratios rounded 6dp.
    """
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.column", "p.value")
    counts = pairs.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    per_col = counts.groupBy("column").agg(
        F.sum(
            F.when(F.col("value").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_values"),
        F.coalesce(
            F.sum(F.when(F.col("value").isNull(), F.col("n_rows"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_nulls"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.max(
            F.when(F.col("value").isNotNull(), F.col("n_rows"))
        ).alias("_top"),
    )
    nn = F.col("n_rows") - F.col("n_nulls")
    avg = F.when(
        F.col("n_values") > 0,
        F.round(nn.cast("double") / F.col("n_values"), 6),
    )
    top_share = F.when(
        nn > 0, F.round(F.col("_top").cast("double") / nn, 6)
    )
    staged = per_col.select(
        "column", "n_values", "n_nulls", "n_rows",
        avg.alias("avg_rows_per_value"),
        top_share.alias("top_share"),
    )
    verdict = (
        F.when(F.col("n_values") == 0, F.lit("no_values"))
        .when(F.col("n_values") == 1, F.lit("single_value"))
        .when(
            F.col("n_values") > max_values, F.lit("too_many_values")
        )
        .when(
            F.col("top_share") > max_top_share, F.lit("skewed")
        )
        .when(
            F.col("avg_rows_per_value") < min_rows_per_value,
            F.lit("too_granular"),
        )
        .otherwise(F.lit("ok"))
    )
    return staged.select("*", verdict.alias("verdict"))
