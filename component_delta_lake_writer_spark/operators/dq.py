"""Data-quality audits — the expectations layer a load pipeline runs
before/after a write (dbt tests / Deequ / Delta Live Tables
expectations, Spark-first).

The reference's writer trusts its input (validation is schema-level
only, ``/root/reference/src/component.py:38-48``); at 100 TB the
audits below are the difference between a bad batch caught at commit
time and a corrupted downstream training run. All three are single
aggregation passes or broadcast/shuffle anti-joins — no row ever
reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.exact import (
    exact_sum,
    exact_sum_product,
)
from component_delta_lake_writer_spark.session import local_relation


def pk_uniqueness_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """Key tuples appearing more than once: (keys..., n_rows). The
    check behind an informational PRIMARY KEY (OSS Delta does not
    enforce PKs either — this is the audit that makes the metadata
    honest). One map-side-combinable groupBy."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def referential_violations(
    child: DataFrame, parent: DataFrame, fk: dict[str, str]
) -> DataFrame:
    """Child rows whose foreign key has no parent (orphans), as the
    distinct violating key tuples + occurrence counts. Anti-join on
    the FK columns; Spark broadcasts the parent key set when small,
    else shuffles both sides on the key — either way no O(n²)."""
    pk_cols = [parent[v].alias(k) for k, v in fk.items()]
    parent_keys = parent.select(*pk_cols).distinct()
    # simple-match FK semantics: a child key with any NULL component
    # is not a violation
    non_null = F.lit(True)
    for k in fk:
        non_null = non_null & F.col(k).isNotNull()
    child_keys = child.select(*[F.col(k) for k in fk]).filter(non_null)
    return (
        child_keys.join(parent_keys, list(fk), "left_anti")
        .groupBy(*fk)
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )


def expectations_summary(
    df: DataFrame, rules: dict[str, str]
) -> DataFrame:
    """Evaluate named boolean SQL expectations in ONE pass: each rule
    contributes a conditional count of violating rows (NULL results
    count as violations, SQL-ternary like CHECK constraints). Output:
    (check_name, n_violations, n_rows) — long format, one aggregation
    job regardless of rule count."""
    total = F.count(F.lit(1))
    aggs = [total.alias("__n")] + [
        F.sum(
            F.when(
                ~F.coalesce(F.expr(expr), F.lit(False)), F.lit(1)
            ).otherwise(F.lit(0))
        ).alias(f"__v_{i}")
        for i, expr in enumerate(rules.values())
    ]
    row = df.agg(*aggs)
    # one explode over the single aggregated row — NOT a union of N
    # projections, which would re-run the aggregation once per rule
    structs = [
        F.struct(
            F.lit(name).alias("check_name"),
            F.col(f"__v_{i}").cast("long").alias("n_violations"),
            F.col("__n").cast("long").alias("n_rows"),
        )
        for i, name in enumerate(rules)
    ]
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def column_profile(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = True,
    rsd: float = 0.02,
) -> DataFrame:
    """One-pass table profile: per column — row count, null count,
    distinct count, lexicographic min/max (values cast to string so
    heterogeneous columns share one output shape).  The "what is in
    this table?" primitive every ingestion pipeline runs before
    trusting a new source.

    Scale posture: nulls/min/max come from ONE full-scan aggregation
    (map-side partial, no shuffle of data rows — only per-task partial
    states).  The distinct counts:

    - ``exact_distinct=True`` (default): one grouped pass over
      (column, value) pairs, shuffle-bounded by the DISTINCT-VALUE
      volume — the honest cost of exactness, and the wrong default
      only when a column is id-like.  On a 100 TB table with a
      high-cardinality key, that shuffle approaches table size;
    - ``exact_distinct=False``: HyperLogLog++ sketches
      (``approx_count_distinct``, relative error ``rsd``) folded into
      the SAME single full-scan aggregation as nulls/min/max — zero
      extra passes, shuffle stays O(columns × tasks) regardless of
      cardinality.  The profile shape is unchanged; counts are
      estimates.

    Returns (column, n_rows, n_nulls, n_distinct, min_value,
    max_value) — one row per profiled column; deterministic on the
    exact path.
    """
    cols = cols or df.columns
    if not exact_distinct:
        aggs = []
        for c in cols:
            s = F.col(c).cast("string")
            aggs += [
                F.count(F.lit(1)).alias(f"__n_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
                F.min(s).alias(f"__mn_{c}"),
                F.max(s).alias(f"__mx_{c}"),
                F.approx_count_distinct(s, rsd).alias(f"__nd_{c}"),
            ]
        base = df.agg(*aggs).collect()[0]
        rows = [
            (
                c,
                base[f"__n_{c}"],
                int(base[f"__nn_{c}"] or 0),
                int(base[f"__nd_{c}"] or 0),
                base[f"__mn_{c}"],
                base[f"__mx_{c}"],
            )
            for c in cols
        ]
        return local_relation(
            df.sparkSession,
            "column string, n_rows bigint, n_nulls bigint, "
            "n_distinct bigint, min_value string, max_value string",
            list(zip(*rows)),
        )
    aggs = []
    for c in cols:
        s = F.col(c).cast("string")
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            F.min(s).alias(f"__mn_{c}"),
            F.max(s).alias(f"__mx_{c}"),
        ]
    base = df.agg(*aggs).collect()[0]
    # exact distincts: one pass over (column, value) pairs — the
    # stack unpivots map-side, so no per-column job fan-out
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.column", "p.v")
    nd = {
        r["column"]: r["nd"]
        for r in pairs.filter(F.col("v").isNotNull())
        .groupBy("column")
        .agg(F.count_distinct("v").alias("nd"))
        .collect()
    }
    spark = df.sparkSession
    rows = [
        (
            c,
            base[f"__n_{c}"],
            int(base[f"__nn_{c}"] or 0),
            int(nd.get(c, 0)),
            base[f"__mn_{c}"],
            base[f"__mx_{c}"],
        )
        for c in cols
    ]
    return local_relation(
        spark,
        "column string, n_rows bigint, n_nulls bigint, "
        "n_distinct bigint, min_value string, max_value string",
        list(zip(*rows)),
    )


def group_stats(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Per-group (mean, sd) over the round→DECIMAL idiom: exact,
    order-free sums, one map-side-combined aggregation, |groups| rows
    out — the shared stats pass behind zscore_outliers and the
    streaming anomaly monitor.  Returns (group, _m, _sd); the
    variance is clamped at 0 before the sqrt (on a constant group the
    exact decimal sums leave only decimal→double conversion noise,
    which can land a few ulps NEGATIVE — sqrt would then yield NaN,
    and NaN compares GREATER in Spark, silently defeating every
    downstream sd > 0 guard)."""
    return (
        df.select(
            F.col(group_col), F.col(value_col).cast("double").alias("_v")
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            exact_sum("_v", 6).alias("_s"),
            exact_sum_product("_v", "_v", 6).alias("_s2"),
        )
        .select(
            group_col,
            (F.col("_s").cast("double") / F.col("_n")).alias("_m"),
            F.sqrt(
                F.greatest(
                    F.col("_s2").cast("double") / F.col("_n")
                    - (F.col("_s").cast("double") / F.col("_n"))
                    * (F.col("_s").cast("double") / F.col("_n")),
                    F.lit(0.0),
                )
            ).alias("_sd"),
        )
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    z: float = 3.0,
    broadcast_stats: bool = True,
) -> DataFrame:
    """Per-group z-score outlier detection: rows whose value deviates
    more than ``z`` standard deviations from THEIR GROUP's mean — the
    numeric-anomaly audit of the DQ family (a global threshold would
    drown per-segment anomalies in cross-segment variance).

    Group stats ride the round→DECIMAL idiom (exact, order-free sums;
    one map-side-combined aggregation, |groups| rows out), broadcast
    back onto the stream — no window over the full data, no second
    shuffle.  The z computation is a fixed-shape double expression on
    exact-decimal-derived inputs, so the flagged set is deterministic
    across partitionings and engines.

    ``broadcast_stats`` (default True) forces the |groups|-row stats
    side to broadcast — right for segment-cardinality groups (the
    common audit shape).  Flip it off for a HIGH-cardinality
    ``group_col`` (e.g. per-user): the forced broadcast would hit the
    driver/broadcast limit, while a plain join lets AQE pick
    broadcast vs shuffle from the measured stats size.

    Returns (group, id, value, zscore) for flagged rows, zscore
    rounded 6dp.
    """
    v6 = F.round(F.col(value_col).cast("double"), 6)
    stats = group_stats(df, value_col, group_col)
    if broadcast_stats:
        stats = F.broadcast(stats)
    return (
        df.select(
            F.col(group_col), F.col(id_col), v6.alias("value")
        )
        .join(stats, group_col)
        .withColumn(
            "zscore",
            F.round((F.col("value") - F.col("_m")) / F.col("_sd"), 6),
        )
        # sd=0 (constant group): no outliers by definition — without
        # the guard the division yields NaN, and NaN compares GREATER
        # in both engines, silently flagging every row of the group
        .filter(
            (F.col("_sd") > 0)
            & (F.abs((F.col("value") - F.col("_m")) / F.col("_sd")) > z)
        )
        .select(group_col, id_col, "value", "zscore")
    )


def numeric_profile(
    df: DataFrame,
    cols: list[str],
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95, 0.99),
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Distribution profile of numeric columns: count, nulls, exact
    mean, min/max, and interpolated quantiles — the "is this batch's
    value distribution sane?" audit (drift in p99 latency, a price
    column whose p50 halves, an all-zero feature).

    ``exact=True`` uses Spark's exact ``percentile`` (linear
    interpolation on the sorted values — the same definition DuckDB's
    quantile_cont implements, so the probe oracle matches bit-for-bit
    after 6dp rounding). HONEST COST: the exact aggregate buffers
    every non-null value of the column per partial — O(rows) memory
    concentrated into the final merge; right for validation slices
    and mid-size tables, wrong for a 100 TB column.
    ``exact=False`` swaps in ``approx_percentile`` (GK sketch, error
    bounded by 1/``accuracy``, mergeable, constant memory) — the scale
    default, not oracle-comparable across engines.

    Mean rides the round→DECIMAL idiom (exact, order-free sum) so it
    is deterministic across partitionings. One aggregation pass for
    ALL columns; long-format output (column, n, n_nulls, mean, mn,
    mx, q_25, q_50, ... 6dp) — one row per column.
    """
    q_arr = F.array(*[F.lit(float(q)) for q in quantiles])
    aggs = []
    for c in cols:
        v = F.col(c).cast("double")
        pct = (
            F.percentile(v, q_arr)
            if exact
            else F.approx_percentile(v, q_arr, F.lit(accuracy))
        )
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            exact_sum(v, 6).alias(f"__s_{c}"),
            F.round(F.min(v), 6).alias(f"__mn_{c}"),
            F.round(F.max(v), 6).alias(f"__mx_{c}"),
            pct.alias(f"__q_{c}"),
        ]
    row = df.agg(*aggs)
    qnames = [f"q_{str(q).replace('0.', '')}" for q in quantiles]
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__n_{c}").cast("long").alias("n"),
            F.col(f"__nn_{c}").cast("long").alias("n_nulls"),
            F.round(
                F.col(f"__s_{c}").cast("double")
                / (F.col(f"__n_{c}") - F.col(f"__nn_{c}")),
                6,
            ).alias("mean"),
            F.col(f"__mn_{c}").alias("mn"),
            F.col(f"__mx_{c}").alias("mx"),
            *[
                F.round(F.element_at(F.col(f"__q_{c}"), i + 1), 6)
                .alias(qn)
                for i, qn in enumerate(qnames)
            ],
        )
        for c in cols
    ]
    # one explode over the single aggregated row (the
    # expectations_summary idiom) — never one job per column
    return row.select(
        F.explode(F.array(*structs)).alias("s")
    ).select("s.*")


def drift_profile(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
    eps: float = 1e-6,
) -> DataFrame:
    """Distribution drift between a REFERENCE batch and a CURRENT
    batch over FIXED bin edges — the day-over-day monitor that turns
    the profiling family from snapshots into a trend: PSI (population
    stability index, the industry drift score: <0.1 stable, 0.1-0.25
    shifting, >0.25 broken) plus total-variation distance (the
    metric-space half-L1, exact arithmetic — PSI's ``ln`` is libm-
    dependent at the last ulp, TVD is not).

    Edges must be FIXED (lo/hi): auto edges would differ per batch
    and measure the edges, not the data.  Out-of-range mass lands in
    the under/overflow sentinel bins (the ``histogram`` contract), so
    drift PAST an edge reads as drift, not as silent loss.  Empty
    bins smooth to ``eps`` before the PSI log (the standard guard —
    PSI is infinite on a bin one side has and the other lacks; TVD
    needs no smoothing and is reported unsmoothed).

    ONE scan of each input: both sides union under a source tag into
    a single (source, bin) aggregation — a shuffle of 2·(bins+2)
    rows — then conditional-sum into per-bin (ref, cur) counts and a
    final fold to the one summary row.  Returns
    (n_ref, n_cur, psi, tvd) rounded 6dp.
    """
    if hi <= lo:
        raise ValueError(
            f"drift_profile needs hi > lo, got [{lo}, {hi}] — fixed "
            "comparable edges are the whole point; use histogram for "
            "a single batch's shape."
        )
    width = (float(hi) - float(lo)) / bins

    def binned(df: DataFrame, tag: str) -> DataFrame:
        v = F.col(value_col).cast("double")
        bin_expr = (
            F.when(v < float(lo), F.lit(-1))
            .when(v > float(hi), F.lit(bins))
            .otherwise(
                F.least(
                    F.lit(bins - 1),
                    F.floor(
                        (v - F.lit(float(lo))) / F.lit(width)
                    ).cast("int"),
                )
            )
        )
        return df.filter(v.isNotNull()).select(
            F.lit(tag).alias("_src"), bin_expr.alias("_bin")
        )

    counts = (
        binned(ref, "r")
        .unionByName(binned(cur, "c"))
        .groupBy("_bin")
        .agg(
            F.sum((F.col("_src") == "r").cast("long")).alias("_nr"),
            F.sum((F.col("_src") == "c").cast("long")).alias("_nc"),
        )
    )
    # totals via an unpartitioned window over the (bins+2)-row counts
    # set — NOT a second aggregation branch, which Spark plans as a
    # re-read of both inputs (4 FileScans); the window costs one
    # single-partition pass over ~a dozen grouped rows
    from pyspark.sql import Window

    whole = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    j = counts.withColumn("_tr", F.sum("_nr").over(whole)).withColumn(
        "_tc", F.sum("_nc").over(whole)
    )
    p = F.col("_nr") / F.col("_tr")
    q = F.col("_nc") / F.col("_tc")
    p_s = F.greatest(p, F.lit(float(eps)))
    q_s = F.greatest(q, F.lit(float(eps)))
    return j.agg(
        F.sum("_nr").cast("long").alias("n_ref"),
        F.sum("_nc").cast("long").alias("n_cur"),
        F.round(F.sum((q_s - p_s) * F.log(q_s / p_s)), 6).alias("psi"),
        F.round(F.sum(F.abs(p - q)) / 2, 6).alias("tvd"),
    )


def drift_profile_columns(
    ref: DataFrame,
    cur: DataFrame,
    cols: dict[str, tuple[float, float]],
    bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """``drift_profile`` across a MONITORED COLUMN SET in the same
    two scans: ``cols`` maps column → (lo, hi) fixed edges, and the
    output is one row per column — the whole feature-drift dashboard
    refresh costs one pass over yesterday's batch and one over
    today's, regardless of how many columns are watched.

    Mechanics: each side unpivots the monitored columns into
    (column, value) pairs IN THE PROJECTION (a stack of literals —
    no join, no extra scan), bins per column against that column's
    own edges, and aggregates (source, column, bin) groups —
    2·|cols|·(bins+2) grouped rows of shuffle.  Per-column totals
    come from a column-partitioned window over those grouped rows
    (the drift_profile lesson: a second aggregation branch re-reads
    the inputs).  Same smoothing/sentinel semantics as
    ``drift_profile``; columns are independent — an out-of-range or
    NULL value in one column never perturbs another's proportions.

    Returns (column, n_ref, n_cur, psi, tvd), one row per monitored
    column, rounded 6dp.
    """
    from pyspark.sql import Window

    if not cols:
        raise ValueError("drift_profile_columns needs at least one column")
    for c, (lo, hi) in cols.items():
        if hi <= lo:
            raise ValueError(
                f"drift_profile_columns: column {c!r} needs hi > lo, "
                f"got [{lo}, {hi}]"
            )

    def binned(df: DataFrame, tag: str) -> DataFrame:
        pairs = []
        for c, (lo, hi) in cols.items():
            v = F.col(c).cast("double")
            width = (float(hi) - float(lo)) / bins
            pairs.append(
                F.when(
                    v.isNotNull(),
                    F.struct(
                        F.lit(c).alias("c"),
                        F.when(v < float(lo), F.lit(-1))
                        .when(v > float(hi), F.lit(bins))
                        .otherwise(
                            F.least(
                                F.lit(bins - 1),
                                F.floor(
                                    (v - F.lit(float(lo)))
                                    / F.lit(width)
                                ).cast("int"),
                            )
                        )
                        .alias("b"),
                    ),
                )
            )
        return (
            df.select(
                # array_compact drops the NULL entries (a column's
                # null value must not become a phantom bin row)
                F.array_compact(F.array(*pairs)).alias("_ps")
            )
            .select(F.explode("_ps").alias("_p"))
            .select(
                F.lit(tag).alias("_src"),
                F.col("_p.c").alias("_col"),
                F.col("_p.b").alias("_bin"),
            )
        )

    counts = (
        binned(ref, "r")
        .unionByName(binned(cur, "c"))
        .groupBy("_col", "_bin")
        .agg(
            F.sum((F.col("_src") == "r").cast("long")).alias("_nr"),
            F.sum((F.col("_src") == "c").cast("long")).alias("_nc"),
        )
    )
    whole = Window.partitionBy("_col").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    j = counts.withColumn("_tr", F.sum("_nr").over(whole)).withColumn(
        "_tc", F.sum("_nc").over(whole)
    )
    p = F.col("_nr") / F.col("_tr")
    q = F.col("_nc") / F.col("_tc")
    p_s = F.greatest(p, F.lit(float(eps)))
    q_s = F.greatest(q, F.lit(float(eps)))
    return (
        j.groupBy(F.col("_col").alias("column"))
        .agg(
            F.sum("_nr").cast("long").alias("n_ref"),
            F.sum("_nc").cast("long").alias("n_cur"),
            F.round(
                F.sum((q_s - p_s) * F.log(q_s / p_s)), 6
            ).alias("psi"),
            F.round(F.sum(F.abs(p - q)) / 2, 6).alias("tvd"),
        )
    )


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation over candidate numeric columns —
    the cross-column completion of the profiling family (VERDICT r9
    task 6): ``numeric_profile`` prices each column's own moments;
    feature pipelines also need to know which candidate features are
    redundant (|corr| → 1) or leaking a label.

    ONE corpus scan, map-side-combinable: every pair's co-moment sums
    (n, Σx, Σy, Σx², Σy², Σxy over the pair's PAIRWISE-COMPLETE rows —
    rows where both sides are non-null, the standard pairwise-deletion
    convention) aggregate into a single row, then the |cols|²
    pair rows explode out of it (the numeric_profile idiom).  The
    row-space is never shuffled; the reduced row is O(|cols|²) wide —
    that quadratic term is the price of the matrix and the reason
    ``cols`` should be the CANDIDATE set, not every column of a wide
    table (36 columns = 648 aggregate buffers; fine. 3,000 columns =
    27 M; pre-prune first).

    Numerics: values round to 6dp and the sums and co-moments are
    exact (``functions.exact``), so they are order-independent and
    bit-identical to the ANSI-SQL replay; the final Pearson
    combination runs in double from those identical inputs.  A
    zero-variance side yields corr = NULL (the sd=0 posture of
    zscore_outliers/mad_outliers), never NaN.

    Returns (col_x, col_y, n, corr) for each pair with col_x before
    col_y in ``cols`` order, corr rounded 6dp.
    """
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]
    ]
    if not pairs:
        raise ValueError(
            f"corr_matrix needs at least two columns, got {cols}"
        )
    aggs = []
    for a, b in pairs:
        both = F.col(a).isNotNull() & F.col(b).isNotNull()

        # each value under the pair's null mask
        x = F.when(both, F.col(a).cast("double"))
        y = F.when(both, F.col(b).cast("double"))
        k = f"{a}__{b}"
        aggs += [
            F.count(F.when(both, F.lit(1))).alias(f"__n_{k}"),
            exact_sum(x, 6).alias(f"__sx_{k}"),
            exact_sum(y, 6).alias(f"__sy_{k}"),
            exact_sum_product(x, x, 6).alias(f"__sxx_{k}"),
            exact_sum_product(y, y, 6).alias(f"__syy_{k}"),
            exact_sum_product(x, y, 6).alias(f"__sxy_{k}"),
        ]
    row = df.agg(*aggs)

    def pair_struct(a: str, b: str):
        k = f"{a}__{b}"
        n = F.col(f"__n_{k}").cast("double")
        sx = F.col(f"__sx_{k}").cast("double")
        sy = F.col(f"__sy_{k}").cast("double")
        sxx = F.col(f"__sxx_{k}").cast("double")
        syy = F.col(f"__syy_{k}").cast("double")
        sxy = F.col(f"__sxy_{k}").cast("double")
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        den = F.sqrt(vx * vy)
        return F.struct(
            F.lit(a).alias("col_x"),
            F.lit(b).alias("col_y"),
            F.col(f"__n_{k}").cast("long").alias("n"),
            F.when(
                den > 0, F.round((n * sxy - sx * sy) / den, 6)
            ).alias("corr"),
        )

    return row.select(
        F.explode(
            F.array(*[pair_struct(a, b) for a, b in pairs])
        ).alias("s")
    ).select("s.*")


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    z: float = 3.5,
    broadcast_stats: bool = True,
) -> DataFrame:
    """Robust per-group outlier detection via MEDIAN absolute
    deviation: flag rows whose modified z-score
    ``0.6745 * (x - median) / MAD`` exceeds ``z`` (Iglewicz-Hoaglin's
    3.5 convention).  The robust sibling of ``zscore_outliers`` — a
    mean/std audit is itself corrupted by the outliers it hunts (one
    10^6 spike inflates sigma enough to hide nine 10^3 spikes), while
    medians have a 50% breakdown point.

    Two keyed aggregations (group median, then median of absolute
    deviations) + the broadcast flag pass — exact interpolated
    percentiles, so the flag set is deterministic and replayable in
    ANSI SQL.  Exact medians buffer a group's values in the aggregate
    (the numeric_profile pricing); groups here are segment-scale by
    contract.  MAD = 0 (over half the group identical): only rows
    actually DIFFERENT from the median can be outliers, and the
    modified z-score is undefined — such groups are skipped, same
    posture as the zscore sd=0 guard.

    ``broadcast_stats`` as in zscore_outliers.  Returns (group, id,
    value, mad_z) for flagged rows, mad_z rounded 6dp.
    """
    v6 = F.round(F.col(value_col).cast("double"), 6)
    base = df.select(F.col(group_col), F.col(id_col), v6.alias("value"))
    med = base.groupBy(group_col).agg(
        F.round(F.percentile(F.col("value"), F.lit(0.5)), 6).alias("_m")
    )
    mj = F.broadcast(med) if broadcast_stats else med
    dev = base.join(mj, group_col).withColumn(
        "_ad", F.round(F.abs(F.col("value") - F.col("_m")), 6)
    )
    mad = dev.groupBy(group_col).agg(
        F.round(F.percentile(F.col("_ad"), F.lit(0.5)), 6).alias("_mad")
    )
    sj = F.broadcast(mad) if broadcast_stats else mad
    # flag pass rebuilds from dev (which already carries _m), so the
    # whole operator costs two corpus scans — the irreducible floor
    # for an exact two-level median — with the group-median exchange
    # reused between them
    return (
        dev.join(sj, group_col)
        .withColumn(
            "mad_z",
            F.round(
                F.lit(0.6745)
                * (F.col("value") - F.col("_m"))
                / F.col("_mad"),
                6,
            ),
        )
        .filter(
            (F.col("_mad") > 0)
            & (
                F.abs(
                    F.lit(0.6745)
                    * (F.col("value") - F.col("_m"))
                    / F.col("_mad")
                )
                > z
            )
        )
        .select(group_col, id_col, "value", "mad_z")
    )


def histogram(
    df: DataFrame,
    value_col: str,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equal-width histogram of a numeric column — the distribution-
    SHAPE audit that completes the profiling trio (column_profile:
    what's there; numeric_profile: where the quantiles sit; histogram:
    what the density looks like — bimodality, truncation, and heaping
    are invisible to both of the others).

    With ``lo``/``hi`` given the bin edges are fixed (the cross-batch
    comparison shape: same edges every day → drift is bin-count
    deltas) and the whole thing is ONE map-side-combinable
    aggregation over ``bins + 2`` groups.  Without them the bounds
    come from a first min/max pass (two jobs total — still no shuffle
    wider than ``bins`` rows).  Values at ``hi`` land in the last bin
    (closed upper edge, NumPy convention); NULLs are dropped and
    reported via column_profile, not here.

    OUT-OF-RANGE values under fixed edges are COUNTED, not dropped
    (r9 ADVICE: a silent drop made cross-batch drift past ``hi`` read
    as shrinkage rather than overflow, and the bins no longer summed
    to the non-null row count): rows below ``lo`` land in bin -1
    ``(-inf, lo)`` and rows above ``hi`` in bin ``bins`` ``(hi,
    +inf)`` — those sentinel rows appear ONLY when non-empty, so a
    fully-in-range histogram keeps its r9 shape.  ``hi == lo``
    (constant column / degenerate fixed edges) is a single ``[lo,
    lo]`` bin holding the exact-match count, not a fabricated
    ``width=1`` edge beyond ``hi``.

    Returns (bin, lo, hi, n_rows) — bin 0..bins-1 (plus -1/``bins``
    sentinels when occupied), edges rounded 6dp, every in-range bin
    present (zero-count bins included, via a sequence left-join
    against the counts: a missing-row histogram reads as a different
    shape).
    """
    v = F.col(value_col).cast("double")
    if lo is None or hi is None:
        row = df.agg(
            F.min(v).alias("_lo"), F.max(v).alias("_hi")
        ).collect()[0]
        lo = row["_lo"] if lo is None else lo
        hi = row["_hi"] if hi is None else hi
    if lo is None:  # all-null column
        return local_relation(
            df.sparkSession, "bin int, lo double, hi double, n_rows bigint"
        )
    lo_f, hi_f = float(lo), float(hi)
    spark = df.sparkSession
    if hi_f <= lo_f:
        # degenerate range: ONE [lo, lo] bin (exact matches), plus
        # the under/overflow sentinels when fixed edges exclude rows
        counts = (
            df.filter(v.isNotNull())
            .groupBy(
                F.when(v < lo_f, F.lit(-1))
                .when(v > hi_f, F.lit(1))
                .otherwise(F.lit(0))
                .alias("_side")
            )
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .collect()
        )
        by_side = {r["_side"]: r["n_rows"] for r in counts}
        rows = [(0, round(lo_f, 6), round(lo_f, 6), by_side.get(0, 0))]
        if by_side.get(-1):
            rows.insert(
                0, (-1, float("-inf"), round(lo_f, 6), by_side[-1])
            )
        if by_side.get(1):
            rows.append(
                (1, round(lo_f, 6), float("inf"), by_side[1])
            )
        return local_relation(
            spark, "bin int, lo double, hi double, n_rows bigint",
            list(zip(*rows)),
        )
    width = (hi_f - lo_f) / bins
    bin_expr = (
        F.when(v < lo_f, F.lit(-1))
        .when(v > hi_f, F.lit(bins))
        .otherwise(
            F.least(
                F.lit(bins - 1),
                F.floor((v - F.lit(lo_f)) / F.lit(width)).cast("int"),
            )
        )
    )
    counts = (
        df.filter(v.isNotNull())
        .groupBy(bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    edges = spark.range(bins).select(
        F.col("id").cast("int").alias("bin"),
        F.round(F.lit(lo_f) + F.col("id") * F.lit(width), 6).alias("lo"),
        F.round(
            F.lit(lo_f) + (F.col("id") + 1) * F.lit(width), 6
        ).alias("hi"),
    )
    in_range = edges.join(
        counts.filter((F.col("bin") >= 0) & (F.col("bin") < bins)),
        "bin", "left",
    ).select(
        "bin", "lo", "hi",
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
    )
    # sentinel rows only when occupied: (-inf, lo) and (hi, +inf)
    sentinels = counts.filter(
        (F.col("bin") < 0) | (F.col("bin") >= bins)
    ).select(
        F.col("bin").cast("int").alias("bin"),
        F.when(F.col("bin") < 0, F.lit(float("-inf")))
        .otherwise(F.lit(round(hi_f, 6))).alias("lo"),
        F.when(F.col("bin") < 0, F.lit(round(lo_f, 6)))
        .otherwise(F.lit(float("inf"))).alias("hi"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )
    return in_range.unionByName(sentinels).orderBy("bin")


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit (Benford) audit of a numeric column:
    observed digit shares vs the Benford expectation log10(1+1/d),
    with per-digit chi-square contributions — the fabricated-data /
    corrupted-feed smell test auditors run on amounts (naturally
    multiplicative quantities follow Benford; uniform or hand-typed
    ones don't).

    ONE map-side-combinable groupBy to ≤9 rows; the total rides an
    unbounded window over those rows.  The digit is extracted from
    the integer part (``floor(abs(x))`` — exact, no rounding-mode
    dependence between engines) so rows with |x| < 1 are excluded by
    contract (they have no integer first digit; the audit targets
    amount-scale columns).  ``expected`` and ``chi2_term`` are
    deterministic scalar double compositions rounded 6dp, with the
    chi-square computed FROM the rounded shares so both engines feed
    identical inputs.

    Returns (digit, n, share, expected, chi2_term), digit 1..9.
    """
    from pyspark.sql import Window

    digits = (
        df.filter(
            F.col(value_col).isNotNull()
            & (F.abs(F.col(value_col)) >= 1)
        )
        .groupBy(
            F.substring(
                F.floor(F.abs(F.col(value_col))).cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    whole = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share = F.round(
        F.col("n").cast("double") / F.sum("n").over(whole), 6
    )
    expected = F.round(
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
        / F.log(F.lit(10.0)),
        6,
    )
    staged = digits.select(
        F.col("digit"),
        F.col("n").cast("long").alias("n"),
        share.alias("share"),
        expected.alias("expected"),
    )
    return staged.select(
        "*",
        F.round(
            (F.col("share") - F.col("expected"))
            * (F.col("share") - F.col("expected"))
            / F.col("expected"),
            6,
        ).alias("chi2_term"),
    )


def classification_report(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Per-class precision/recall/F1 from a (label, prediction) pair
    relation — the audit a pipeline runs on its own classifiers
    (language-ID vs editorial labels, quality gate vs human review)
    before trusting them to route corpus data.

    ONE map-side-combinable groupBy collapses the corpus to the
    |classes|² confusion matrix; class totals, true positives and the
    metrics are joins/projections over those metadata-scale rows.
    The class set is the UNION of observed labels and predictions
    (a class the model never predicts still gets its recall row —
    silently dropping it would hide exactly the failure this audit
    exists to catch).  F1 is computed FROM the 6dp-rounded
    precision/recall so both engines feed identical inputs; classes
    with zero predictions (or zero truth) carry NULL precision
    (recall) rather than a fake 0.

    Returns (class, n_true, n_pred, tp, precision, recall, f1).
    """
    pairs = (
        df.filter(
            F.col(label_col).isNotNull() & F.col(pred_col).isNotNull()
        )
        .groupBy(
            F.col(label_col).alias("_l"), F.col(pred_col).alias("_p")
        )
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    n_true = pairs.groupBy(F.col("_l").alias("class")).agg(
        F.sum("_n").alias("n_true")
    )
    n_pred = pairs.groupBy(F.col("_p").alias("class")).agg(
        F.sum("_n").alias("n_pred")
    )
    tp = pairs.filter(F.col("_l") == F.col("_p")).select(
        F.col("_l").alias("class"), F.col("_n").alias("tp")
    )
    base = (
        n_true.join(n_pred, "class", "full_outer")
        .join(tp, "class", "left")
        .select(
            "class",
            F.coalesce(F.col("n_true"), F.lit(0))
            .cast("long")
            .alias("n_true"),
            F.coalesce(F.col("n_pred"), F.lit(0))
            .cast("long")
            .alias("n_pred"),
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
        )
    )
    prec = F.when(
        F.col("n_pred") > 0,
        F.round(F.col("tp").cast("double") / F.col("n_pred"), 6),
    )
    rec = F.when(
        F.col("n_true") > 0,
        F.round(F.col("tp").cast("double") / F.col("n_true"), 6),
    )
    staged = base.select(
        "*", prec.alias("precision"), rec.alias("recall")
    )
    return staged.select(
        "*",
        F.when(
            (F.col("precision") + F.col("recall")) > 0,
            F.round(
                F.lit(2.0)
                * F.col("precision")
                * F.col("recall")
                / (F.col("precision") + F.col("recall")),
                6,
            ),
        ).alias("f1"),
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Probability-calibration audit of a scorer against binary
    ground truth: the reliability curve (per score-bin: how often
    was the event actually positive) plus the Brier score — the
    check a quality/toxicity classifier gets before its scores gate
    a corpus ("0.9 means 90%" is a testable claim, not a hope).

    ONE corpus scan, ONE map-side-combinable groupBy on the
    arithmetic bin floor(score·bins) (scores at exactly 1.0 fold
    into the top bin); per-bin mean score and positive rate are
    exact-decimal sums over 6dp-rounded scores; the corpus Brier
    score mean((score−label)²) accumulates as 9dp-rounded decimal
    PARTIAL sums in the same per-bin aggregation (decimal addition
    is associative, so the bin rollup equals the direct corpus sum
    — the first cut scanned the corpus twice; r11 review) and
    attaches as a broadcast constant.
    Scores outside [0, 1] raise at action time — a miscalibrated
    INPUT domain is a pipeline bug, not a curve point.

    Returns one row per non-empty bin: (bin, n, mean_score,
    frac_positive, brier) — all rates 6dp.
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    src = df.filter(s.isNotNull() & y.isNotNull()).select(
        F.when(
            (s < 0) | (s > 1),
            F.raise_error(
                F.concat(
                    F.lit(
                        "calibration_report: score outside "
                        "[0, 1]: "
                    ),
                    s.cast("string"),
                )
            ).cast("double"),
        )
        .otherwise(s)
        .alias("_s"),
        y.alias("_y"),
    )
    binned = src.select(
        F.least(
            F.floor(F.col("_s") * bins).cast("int"),
            F.lit(bins - 1),
        ).alias("bin"),
        "_s",
        "_y",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("_s", 6).alias("_ss"),
        F.sum("_y").alias("_sy"),
        exact_sum(
            (F.col("_s") - F.col("_y")) * (F.col("_s") - F.col("_y")), 9
        ).alias("_se"),
    )
    # brier as a WINDOW over the <=bins-row relation: a separate
    # aggregate consumer re-planned the corpus scan a second time
    # (AQE did not reuse it; measured 2 FileScans) — the
    # unpartitioned window runs post-agg over bin rows, the
    # temperature_quota metadata-scale rule
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    per_bin = per_bin.withColumn(
        "brier",
        F.round(
            F.sum("_se").over(w_all).cast("double")
            / F.sum("n").over(w_all),
            6,
        ),
    )
    return per_bin.select(
        F.col("bin").cast("int").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("_ss").cast("double") / F.col("n"), 6
        ).alias("mean_score"),
        F.round(
            F.col("_sy").cast("double") / F.col("n"), 6
        ).alias("frac_positive"),
        F.col("brier"),
    )
