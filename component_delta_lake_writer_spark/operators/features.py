"""Feature engineering over corpus-scale columns: distribution
alignment (quantile normalization) built on a DISTRIBUTED global
value rank.

Quantile normalization maps a column onto a reference column's
distribution by rank — the batch-effect correction that makes scores
from different annotators / models / crawl batches comparable before
thresholding ("this quality model's 0.7 is that one's 0.55").  The
textbook spelling needs a global sort-rank of both sides; Spark's
``row_number() OVER (ORDER BY v)`` executes that on ONE partition, so
the rank here reuses the shard_export idiom
(operators/sampling.py::shard_export): range-repartition on the sort
key, local sort + local row_number, one tiny per-partition count
collect whose cumulative offsets lift local ranks to global ones.
The reference side then collapses to a BOUNDED anchor set (its exact
quantile rows at integer-arithmetic anchor ranks), which ships to the
map side as a literal sorted array — the normalization itself is a
pure projection, no join, no second shuffle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.exact import (
    exact_sum,
    exact_sum_product,
)


def global_value_rank(
    df: DataFrame,
    value_col: str,
    id_col: str,
    partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """df + ``_rank`` (0-based, dense in input order of
    (value, id) — a total order, so the rank is a pure function of
    the data at any parallelism) and the total row count.  NULL
    values are excluded (a NULL has no quantile).  Distributed: no
    single-partition window anywhere."""
    src = df.filter(
        F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
    )
    p = (
        partitions
        or df.sparkSession.sparkContext.defaultParallelism
    )
    ranged = (
        src.repartitionByRange(p, F.col(value_col), F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
    )
    # localCheckpoint for the same two reasons shard_export documents:
    # range boundaries are SAMPLED (recompute could re-bucket rows
    # after the counts below are collected), and checkpoint blocks are
    # released with the DataFrame instead of pinning an app-lifetime
    # cache
    ranged = ranged.localCheckpoint(eager=True)
    counts = {
        r["__pid"]: r["n"]
        for r in ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:
        # drop the internal __pid here too — the empty branch must
        # return the SAME schema as the ranked branch (r10 advice)
        return (
            ranged.withColumn(
                "_rank", F.lit(0).cast("long")
            ).drop("__pid"),
            0,
        )
    off = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in sorted(offsets)]),
            F.array(*[F.lit(offsets[k]) for k in sorted(offsets)]),
        ),
        F.col("__pid"),
    )
    w = Window.partitionBy("__pid").orderBy(
        F.col(value_col), F.col(id_col)
    )
    return (
        ranged.withColumn(
            "_rank", (off + F.row_number().over(w) - 1).cast("long")
        ).drop("__pid"),
        acc,
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    id_col: str,
    ref: DataFrame,
    ref_value_col: str,
    ref_id_col: str,
    anchors: int = 101,
) -> DataFrame:
    """Map ``df[value_col]`` onto ``ref``'s distribution: each row
    gets the reference value whose quantile position is the greatest
    one ≤ the row's own percent-rank (step-function quantile mapping
    — the backward as-of convention).

    Both sides get a distributed global rank; the reference then
    keeps only its ``anchors`` exact quantile rows — anchor ranks are
    chosen with INTEGER arithmetic (i·(n−1) // (anchors−1)) so the
    set is bit-identical on any engine — and those ≤``anchors`` rows
    are collected (bounded by construction) into a literal sorted
    array.  The mapping is then a per-row array filter + last-element
    pick: a projection, not a join.  percent-rank = rank/(n−1)
    (0 when n = 1), a single double division of exact integers.

    Returns (id, value, pr, normalized) — pr rounded 9dp, value and
    normalized carried verbatim (no arithmetic on either).
    """
    from component_delta_lake_writer_spark.errors import UserException

    if anchors < 2:
        raise UserException("quantile_normalize needs anchors >= 2")
    b_ranked, n_b = global_value_rank(ref, ref_value_col, ref_id_col)
    if n_b == 0:
        raise UserException(
            "quantile_normalize: reference has no non-null values"
        )
    anchor_ranks = sorted(
        {i * (n_b - 1) // (anchors - 1) for i in range(anchors)}
    )
    anchor_rows = (
        b_ranked.filter(F.col("_rank").isin(anchor_ranks))
        .select(
            "_rank", F.col(ref_value_col).cast("double").alias("_v")
        )
        .collect()
    )
    denom_b = max(n_b - 1, 1)
    lit_anchors = F.array(
        *[
            F.struct(
                F.lit(
                    (r["_rank"] / denom_b) if n_b > 1 else 0.0
                ).alias("pr"),
                F.lit(r["_v"]).alias("v"),
            )
            for r in sorted(anchor_rows, key=lambda r: r["_rank"])
        ]
    )
    a_ranked, n_a = global_value_rank(df, value_col, id_col)
    denom_a = max(n_a - 1, 1)
    pr = (
        F.col("_rank").cast("double") / F.lit(float(denom_a))
        if n_a > 1
        else F.lit(0.0)
    )
    staged = a_ranked.select(
        F.col(id_col),
        F.col(value_col).alias("value"),
        pr.alias("_pr"),
    )
    matched = F.element_at(
        F.filter(
            lit_anchors, lambda x: x["pr"] <= F.col("_pr")
        ),
        -1,
    )
    return staged.select(
        id_col,
        "value",
        F.round(F.col("_pr"), 9).alias("pr"),
        matched["v"].alias("normalized"),
    )


def global_weighted_cumsum(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    partitions: int | None = None,
) -> DataFrame:
    """df + ``_cum``: the EXCLUSIVE prefix sum of ``weight_col`` in
    ``order_col`` order (how much weight lies strictly before this
    row) — the weighted generalization of :func:`global_value_rank`,
    computed the same distributed way: range-repartition on the
    order key, local window cumsum per partition, one tiny
    per-partition weight-total collect whose cumulative offsets lift
    local sums to global ones.  ``order_col`` must be unique per row
    (the caller passes DISTINCT values — e.g. one row per distinct
    metric value with its tie count as the weight, which is exactly
    the midrank computation's input).  Weights accumulate as long."""
    p = (
        partitions
        or df.sparkSession.sparkContext.defaultParallelism
    )
    ranged = (
        df.repartitionByRange(p, F.col(order_col))
        .withColumn("__pid", F.spark_partition_id())
    )
    ranged = ranged.localCheckpoint(eager=True)
    totals = {
        r["__pid"]: r["w"]
        for r in ranged.groupBy("__pid")
        .agg(F.sum(F.col(weight_col).cast("long")).alias("w"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    if not offsets:
        # same-schema contract as the non-empty branch (r10 advice
        # on global_value_rank's twin): no internal __pid in output
        return ranged.withColumn(
            "_cum", F.lit(0).cast("long")
        ).drop("__pid")
    off = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in sorted(offsets)]),
            F.array(*[F.lit(offsets[k]) for k in sorted(offsets)]),
        ),
        F.col("__pid"),
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return ranged.withColumn(
        "_cum",
        (
            off
            + F.coalesce(
                F.sum(F.col(weight_col).cast("long")).over(w),
                F.lit(0),
            )
        ).cast("long"),
    ).drop("__pid")


def gini_coefficient(
    df: DataFrame, value_col: str, id_col: str
) -> DataFrame:
    """Gini concentration coefficient of a non-negative column: 0 =
    perfectly even, →1 = one unit holds everything — the
    concentration diagnostic behind "is this corpus dominated by a
    handful of sources" and "does 1% of customers carry the revenue"
    (domain concentration is a training-data risk the mixture quotas
    exist to fix; this measures it).

    Uses the sorted-rank identity G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n
    (rank 1-based ascending) over the DISTRIBUTED global rank — the
    same no-single-partition-sort machinery as quantile_normalize.
    Σ(rank·x) accumulates as DECIMAL (exact, order-free), so G is a
    fixed double expression over exact sums.  Values must be
    non-negative (the identity's precondition — the caller owns the
    filter); NULL values/ids are excluded by the rank.

    Accumulator headroom: Σ(rank·x) is an exact 6-digit sum of
    products (``exact.exact_sum_product``), exact while it stays
    under 10²⁶ — (n²/2)·x̄ for 10¹⁰ rows of mean 10⁴ is 5·10²³.
    The per-VALUE bound is enforced loudly: |x| ≥ 10¹² overflows the
    product operand.  Under ANSI (this engine's session default) the
    cast itself raises; under a non-ANSI session it NULLs, which
    would silently DROP that row from Σ(rank·x) while Σx still
    counts it, so a raise_error guard on max|x| backstops that mode
    too.

    Returns ONE row: (n_rows, total, gini) — total 6dp, gini 6dp,
    NULL gini when n < 2 or Σx = 0.
    """
    ranked, n = global_value_rank(df, value_col, id_col)
    agg = ranked.agg(
        exact_sum_product(F.col("_rank") + 1, value_col, 6).alias("_sxr"),
        exact_sum(value_col, 6).alias("_sx"),
        F.max(F.abs(F.col(value_col).cast("double"))).alias(
            "_xmax"
        ),
    )
    g = (
        F.lit(2.0)
        * F.col("_sxr").cast("double")
        / (F.lit(n) * F.col("_sx").cast("double"))
        - (F.lit(n) + 1.0) / F.lit(n)
    ) if n > 0 else F.lit(None)
    guarded = (
        F.when(
            F.col("_xmax") >= 1e12,
            F.raise_error(
                F.concat(
                    F.lit(
                        "gini_coefficient: |value| >= 1e12 "
                        "overflows the exact rank-product "
                        "term (it would be silently dropped from "
                        "the accumulator); rescale the column "
                        "first (max seen: "
                    ),
                    F.col("_xmax").cast("string"),
                    F.lit(")"),
                )
            ).cast("double"),
        )
        .otherwise(
            F.when(
                (F.lit(n) >= 2) & (F.col("_sx") > 0), F.round(g, 6)
            )
        )
        if n > 0
        else F.lit(None).cast("double")
    )
    return agg.select(
        F.lit(n).cast("long").alias("n_rows"),
        F.round(F.col("_sx").cast("double"), 6).alias("total"),
        guarded.alias("gini"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    id_col: str,
    lo_num: int = 1,
    lo_den: int = 100,
    hi_num: int = 99,
    hi_den: int = 100,
) -> DataFrame:
    """Winsorize a numeric column at exact rank-based percentiles —
    the outlier-taming step before any mean/variance-based feature
    ("clip at p1/p99") that approximate quantiles silently get
    wrong at the tails, which is exactly where winsorizing operates.

    Percentile ranks are INTEGER ratios (the bootstrap-CI tail
    rule): k_lo = ((n−1)·lo_num) div lo_den and k_hi likewise over
    the 0-based DISTRIBUTED global rank (shard-offset idiom, no
    single-partition sort), so both bounds are exact order
    statistics — engine-portable with no interpolation or float
    level.  The two bound rows are a 2-row aggregate broadcast back;
    clipping is a projection.

    Returns (id, value, winsorized) — value verbatim, winsorized =
    clip(value, v[k_lo], v[k_hi]), both carried without arithmetic.
    """
    if not (0 <= lo_num * hi_den <= hi_num * lo_den):
        raise ValueError(
            "winsorize needs lo fraction <= hi fraction, got "
            f"{lo_num}/{lo_den} > {hi_num}/{hi_den}"
        )
    if hi_num > hi_den or lo_num > lo_den:
        # a fraction > 1 maps to a rank past n-1: the bound row would
        # not exist, the aggregate would be NULL, and least/greatest
        # SKIP nulls — clipping silently disabled instead of refused
        # (r11 review)
        raise ValueError(
            "winsorize percentile fractions must be <= 1, got "
            f"lo {lo_num}/{lo_den}, hi {hi_num}/{hi_den}"
        )
    ranked, n = global_value_rank(df, value_col, id_col)
    if n == 0:
        return ranked.select(
            F.col(id_col).alias("id"),
            F.col(value_col).alias("value"),
            F.col(value_col).alias("winsorized"),
        )
    k_lo = ((n - 1) * lo_num) // lo_den
    k_hi = ((n - 1) * hi_num) // hi_den
    bounds = F.broadcast(
        ranked.filter(F.col("_rank").isin(k_lo, k_hi)).agg(
            F.min(
                F.when(
                    F.col("_rank") == k_lo, F.col(value_col)
                )
            ).alias("_vlo"),
            F.min(
                F.when(
                    F.col("_rank") == k_hi, F.col(value_col)
                )
            ).alias("_vhi"),
        )
    )
    return ranked.crossJoin(bounds).select(
        F.col(id_col).alias("id"),
        F.col(value_col).alias("value"),
        F.least(
            F.greatest(F.col(value_col), F.col("_vlo")),
            F.col("_vhi"),
        ).alias("winsorized"),
    )
