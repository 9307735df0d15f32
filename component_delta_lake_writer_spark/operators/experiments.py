"""Experimentation analytics: the statistics an A/B readout needs
before a launch decision. The reference writes tables; the teams
consuming those tables run exactly this readout on day one.

Spark-first shape: one corpus scan to per-unit outcomes, one grouped
aggregation to the 2-row arm table, and the test statistic as a fixed
double expression over exact counts — so the z-score is bit-identical
at any parallelism and engine-portable (the same determinism bar as
the zscore/corr operators).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.errors import UserException
from component_delta_lake_writer_spark.functions.exact import (
    exact_sum,
    exact_sum_product,
    quantize,
)
from component_delta_lake_writer_spark.functions.hashing import portable_hash
from component_delta_lake_writer_spark.session import local_relation

# two-sided 5% critical value of the standard normal — a literal so
# both engines compare against the identical constant
Z_CRIT_5PCT = 1.959964

#: F(k−1, ∞) upper 1% critical values for k−1 = 1..29 (Abramowitz &
#: Stegun table 26.9 limiting row) — shared by anova_oneway and its
#: oracle so the lookup can never drift between engines.
F_CRIT_1PCT = (
    6.63, 4.61, 3.78, 3.32, 3.02, 2.80, 2.64, 2.51,
    2.41, 2.32, 2.25, 2.18, 2.13, 2.08, 2.04, 2.00,
    1.97, 1.93, 1.90, 1.88, 1.85, 1.83, 1.81, 1.79,
    1.77, 1.76, 1.74, 1.72, 1.71,
)


def two_proportion_ztest(
    df: DataFrame, group_col: str, success_col: str
) -> DataFrame:
    """Two-proportion z-test over per-unit outcomes: ``df`` is one
    row per experimental unit with its arm (``group_col``, exactly
    two distinct non-null values) and binary outcome
    (``success_col``, 0/1) — the conversion-rate readout.

    The arm table is a 2-row aggregate; arms are ordered by group
    value so "a"/"b" assignment is deterministic.  z uses the pooled
    standard error (the classical test); it is NULL when the pooled
    rate is degenerate (0 or 1 — no variance, the test is undefined)
    or an arm is empty.  ``significant`` compares |z| against the
    two-sided 5% critical value as an int (1/0) so the row stays
    hash-comparable.

    Returns ONE row: (group_a, n_a, conv_a, rate_a, group_b, n_b,
    conv_b, rate_b, abs_lift, z, significant) — rates/lift/z rounded
    6dp.
    """
    arms = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).cast("string").alias("_g"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col(success_col).cast("long")).alias("_s"),
        )
    )
    found = [r["_g"] for r in arms.select("_g").limit(3).collect()]
    if len(found) != 2:
        raise UserException(
            f"two_proportion_ztest needs exactly 2 arms, found "
            f"{sorted(found)!r}"
        )
    ga, gb = sorted(found)

    def _pick(g, col):
        return F.max(F.when(F.col("_g") == g, F.col(col)))

    row = arms.agg(
        _pick(ga, "_n").alias("n_a"),
        _pick(ga, "_s").alias("conv_a"),
        _pick(gb, "_n").alias("n_b"),
        _pick(gb, "_s").alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n_a")
            + F.lit(1.0) / F.col("n_b")
        )
    )
    z = F.when(
        (pooled > 0) & (pooled < 1), F.round((rb - ra) / se, 6)
    )
    return row.select(
        F.lit(ga).alias("group_a"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("conv_a").cast("long").alias("conv_a"),
        F.round(ra, 6).alias("rate_a"),
        F.lit(gb).alias("group_b"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("conv_b").cast("long").alias("conv_b"),
        F.round(rb, 6).alias("rate_b"),
        F.round(rb - ra, 6).alias("abs_lift"),
        z.alias("z"),
        F.coalesce(
            (F.abs(z) > F.lit(Z_CRIT_5PCT)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def chi2_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Chi-square test of independence between two categorical
    columns: the "are these actually related" screen behind feature
    selection and segment analysis (does order priority depend on
    status, does document language depend on source).

    ONE map-side-combinable groupBy collapses the corpus to the
    observed |a|×|b| contingency cells; marginals ride two
    metadata-scale aggregations broadcast back.  Zero-observed cells
    are NOT enumerated: their total contribution is Σ_unobserved e =
    N − Σ_observed e (each contributes (0−e)²/e = e), so the
    statistic is exact without materializing the full cross product
    — the detail that keeps a 10⁴×10⁴ sparse table from exploding.
    Per-cell terms are rounded to 9dp and summed as DECIMAL
    (order-free); dof = (|a|−1)(|b|−1).

    Returns ONE row: (n_rows, n_levels_a, n_levels_b, dof, chi2) —
    chi2 rounded 6dp, NULL when dof = 0 (a single-level column has
    no independence to test).  Zero non-null (a, b) pairs is a user
    error, not a statistic: without the guard the agg-over-empty
    returns one all-NULL row while a SQL GROUP BY over zero rows
    returns none — a latent cross-engine row-count divergence (r10
    advice) — so the empty case raises like the z-test's arm check.
    """
    src = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    )
    # existence probe, not a scan: CollectLimit(1) over the bare
    # filter stops at the first qualifying row (no shuffle, usually
    # one partition touched) — guarding on the aggregated cells
    # would run the full groupBy just to validate
    if not src.select(F.lit(1)).limit(1).collect():
        raise UserException(
            "chi2_independence: no rows with both "
            f"{col_a!r} and {col_b!r} non-null"
        )
    cells = src.groupBy(
        F.col(col_a).cast("string").alias("_a"),
        F.col(col_b).cast("string").alias("_b"),
    ).agg(F.count(F.lit(1)).alias("_n"))
    from pyspark.sql import Window

    # marginals via windows over the METADATA-SCALE cell table (a
    # join-back spelling self-joins the cells subtree and trips
    # Spark's ambiguous-lineage analysis; windows need no second
    # reference)
    w_a = Window.partitionBy("_a")
    w_b = Window.partitionBy("_b")
    w_all = Window.partitionBy()
    staged = cells.select(
        "_a",
        "_b",
        "_n",
        F.sum("_n").over(w_a).alias("_ra"),
        F.sum("_n").over(w_b).alias("_cb"),
        F.sum("_n").over(w_all).alias("_tot"),
    )
    e = (
        F.col("_ra").cast("double")
        * F.col("_cb")
        / F.col("_tot")
    )
    terms = staged.select(
        "_a",
        "_b",
        "_n",
        quantize((F.col("_n") - e) * (F.col("_n") - e) / e, 9).alias("_t"),
        quantize(e, 9).alias("_e"),
    )
    agg = terms.agg(
        F.sum("_n").alias("_rows"),
        F.countDistinct("_a").alias("_ka"),
        F.countDistinct("_b").alias("_kb"),
        F.sum("_t").alias("_st"),
        F.sum("_e").alias("_se"),
    )
    dof = (F.col("_ka") - 1) * (F.col("_kb") - 1)
    chi2 = F.col("_st").cast("double") + (
        F.col("_rows") - F.col("_se").cast("double")
    )
    return agg.select(
        F.col("_rows").cast("long").alias("n_rows"),
        F.col("_ka").cast("long").alias("n_levels_a"),
        F.col("_kb").cast("long").alias("n_levels_b"),
        dof.cast("long").alias("dof"),
        F.when(dof > 0, F.round(chi2, 6)).alias("chi2"),
    )


def mann_whitney_u(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test over a continuous
    metric: the nonparametric A/B readout for skewed metrics where
    the t/z machinery's normality assumption is junk (latency,
    revenue-per-user, tokens-per-document — all heavy-tailed).

    Scale shape: the corpus collapses to ONE row per distinct metric
    value (tie count + per-arm tie count); midranks come from a
    DISTRIBUTED exclusive cumsum over those distinct values
    (features.global_weighted_cumsum — the shard_export offset
    idiom, never a single-partition window), and the rank sums are
    INTEGER-exact: midrank·2 = 2·(#strictly-smaller) + t + 1 is an
    integer, so 2·R_a and 2·U_a accumulate as exact longs and the
    test statistic is bit-identical at any parallelism.  The normal
    approximation carries the standard tie correction
    Σ(t³−t)/(N(N−1)) — summed as DECIMAL so a heavy tie can't
    overflow; z is NULL when the variance degenerates (all values
    tied).

    Returns ONE row: (group_a, n_a, group_b, n_b, u_a, u_b, z,
    significant) — z rounded 6dp, significance vs the two-sided 5%
    critical value as int.
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_weighted_cumsum,
    )

    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    )
    found = [
        r["_g"]
        for r in src.select("_g").distinct().limit(3).collect()
    ]
    if len(found) != 2:
        raise UserException(
            f"mann_whitney_u needs exactly 2 arms, found "
            f"{sorted(found)!r}"
        )
    ga, _gb = sorted(found)
    per_value = src.groupBy("_v").agg(
        F.count(F.lit(1)).alias("_t"),
        F.sum(
            F.when(F.col("_g") == ga, 1).otherwise(0)
        ).alias("_ta"),
    )
    cum = global_weighted_cumsum(per_value, "_v", "_t")
    # 2·midrank is integer: 2·cum + t + 1
    mr2 = F.lit(2) * F.col("_cum") + F.col("_t") + F.lit(1)
    agg = cum.agg(
        F.sum("_t").alias("_N"),
        F.sum("_ta").alias("_na"),
        F.sum(F.col("_ta") * mr2).alias("_r2a"),
        exact_sum(
            quantize("_t", 0) * F.col("_t") * F.col("_t") - F.col("_t"), 0
        ).alias("_ties"),
    )
    n_a = F.col("_na")
    n_b = F.col("_N") - F.col("_na")
    u_a = (
        F.col("_r2a").cast("double") - n_a * (n_a + 1)
    ) / F.lit(2.0)
    mu = n_a.cast("double") * n_b / F.lit(2.0)
    var = (
        n_a.cast("double") * n_b / F.lit(12.0)
    ) * (
        (F.col("_N") + 1)
        - F.col("_ties").cast("double")
        / (F.col("_N").cast("double") * (F.col("_N") - 1))
    )
    z = F.when(var > 0, F.round((u_a - mu) / F.sqrt(var), 6))
    return agg.select(
        F.lit(ga).alias("group_a"),
        n_a.cast("long").alias("n_a"),
        F.lit(_gb).alias("group_b"),
        n_b.cast("long").alias("n_b"),
        u_a.alias("u_a"),
        (n_a.cast("double") * n_b - u_a).alias("u_b"),
        z.alias("z"),
        F.coalesce(
            (F.abs(z) > F.lit(Z_CRIT_5PCT)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


#: Poisson(1) inverse-CDF ladder (P(X <= k), 10dp): the bootstrap
#: weight for a uniform u is the first k whose CDF exceeds u.  Fixed
#: literals so Spark and the SQL oracle compare u against IDENTICAL
#: decimals — the ladder is the determinism boundary.
_POISSON1_CDF = (
    (0, 0.3678794412),
    (1, 0.7357588823),
    (2, 0.9196986029),
    (3, 0.9810118431),
    (4, 0.9963401532),
    (5, 0.9994058151),
    (6, 0.9999167589),
    (7, 0.9999897508),
    (8, 0.9999988885),
)


def _poisson_weight(salt: str) -> Column:
    """Replicate ``b``'s Poisson(1) weight of row ``_id``: the ladder
    step of u = (hash('<salt>:<b>:<id>') + 1) / 2^32. u is DECIMAL, as
    the SQL literals 1.0 and 4294967296.0 type it, and the ladder's
    bounds are decimal literals, so both engines compare exactly."""
    key = F.concat(
        F.lit(f"{salt}:"), F.col("b").cast("string"), F.lit(":"), F.col("_id")
    )
    u = (portable_hash(key) + F.lit(Decimal("1.0"))) / F.lit(
        Decimal("4294967296.0")
    )
    (k0, c0), *rest = _POISSON1_CDF
    w = F.when(u < F.lit(Decimal(repr(c0))), k0)
    for k, c in rest:
        w = w.when(u < F.lit(Decimal(repr(c))), k)
    return w.otherwise(9)


def ab_bootstrap_ci(
    df: DataFrame,
    group_col: str,
    success_col: str,
    id_col: str,
    b_replicates: int = 200,
    tail_den: int = 40,
    salt: str = "abci",
) -> DataFrame:
    """Hash-deterministic bootstrap confidence interval for the
    two-proportion lift — the decision-grade readout the point
    z-test lacks ("the lift is +1.4pp, 95% CI [+0.2, +2.6]" instead
    of a bare significant/not).  B Poisson(1) bootstrap replicates
    (Chamandy et al. 2012, "Estimating uncertainty for massive data
    streams" — the resampling scheme that works on a STREAM of rows,
    no global n needed): each (row, replicate) draws its multiplicity
    from the fixed Poisson inverse-CDF ladder on the house md5 hash
    u = (prefix32('salt:b:id') + 1)/2³², so every replicate is
    reproducible across runs, engines, partitionings and retries,
    and the oracle replays it verbatim in SQL.

    Scale shape: the per-row replicate array is generated by ONE
    higher-order transform (no B-way self-join); the explode that
    follows fans out corpus×B rows but feeds a map-side-combinable
    groupBy, so the SHUFFLE carries only |arms|·B partial sums per
    map task.  Everything after runs on 2B rows; the percentile
    ranks come from a single-partition window over B rows —
    metadata-scale by construction (the temperature_quota rule).
    The percentile is rank-based, no interpolation: sorted diffs
    d₍₁₎..d₍ᵦ₎, lower = d₍ᵣ₎ at r = ceil(B_eff / tail_den), upper =
    d₍ᵦ₊₁₋ᵣ₎ — tail_den = 40 is the 2.5% tail, i.e. a 95% two-sided
    CI.  The tail is a RATIO OF INTEGERS, not a float level: ceil of
    B·0.025 in doubles rounds differently per engine ((1.0−0.95)/2
    is 0.025000000000000022 in IEEE, exactly 0.025 in decimal SQL —
    a rank-off-by-one landmine), while (B + 39) div 40 is exact
    everywhere.  Replicates where either arm's resampled size is 0
    are dropped from B_eff (both engines, same rule).

    Returns ONE row: (group_a, n_a, rate_a, group_b, n_b, rate_b,
    lift, ci_lo, ci_hi, n_replicates, significant) — rates/lift/CI
    rounded 6dp, significant = the CI excludes 0, as int.
    """
    if b_replicates < 4:
        raise ValueError(
            f"ab_bootstrap_ci needs b_replicates >= 4, got "
            f"{b_replicates}"
        )
    src = df.filter(
        F.col(group_col).isNotNull()
        & F.col(success_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(success_col).cast("int").alias("_x"),
        F.col(id_col).cast("string").alias("_id"),
    )
    found = [
        r["_g"]
        for r in src.select("_g").distinct().limit(3).collect()
    ]
    if len(found) != 2:
        raise UserException(
            f"ab_bootstrap_ci needs exactly 2 arms, found "
            f"{sorted(found)!r}"
        )
    ga, gb = sorted(found)
    # explode a plain int sequence, then compute the weight as a
    # TOP-LEVEL column expression: a lambda inside transform() runs
    # on Spark's interpreted higher-order-function path (no
    # whole-stage codegen), which measured ~6x slower than the
    # codegen'd md5+CASE projection this spelling gets.  Replicate
    # b = -1 carries WEIGHT 1: its per-arm sums ARE the observed
    # (unresampled) statistics, so point estimate and replicates
    # ride ONE corpus scan (a separate observed aggregation
    # re-scanned the corpus; r11 review follow-up)
    per_arm = (
        src.select(
            "_g",
            "_x",
            "_id",
            F.explode(
                F.sequence(F.lit(-1), F.lit(b_replicates - 1))
            ).alias("b"),
        )
        .select(
            "_g",
            "_x",
            F.col("b").alias("_b"),
            F.when(F.col("b") == -1, F.lit(1))
            .otherwise(_poisson_weight(salt))
            .alias("_w"),
        )
        .groupBy("_g", "_b")
        .agg(
            F.sum("_w").alias("_n"),
            F.sum(F.col("_w") * F.col("_x")).alias("_s"),
        )
    )
    per_rep = per_arm.groupBy("_b").agg(
        F.max(F.when(F.col("_g") == ga, F.col("_n"))).alias("_na"),
        F.max(F.when(F.col("_g") == ga, F.col("_s"))).alias("_sa"),
        F.max(F.when(F.col("_g") == gb, F.col("_n"))).alias("_nb"),
        F.max(F.when(F.col("_g") == gb, F.col("_s"))).alias("_sb"),
    )
    # per_rep is B+1 rows and feeds TWO consumers (the CI ranks and
    # the b=-1 observed row); unpinned, each consumer re-plans the
    # corpus scan underneath — localCheckpoint collapses them to one
    per_rep = per_rep.localCheckpoint(eager=True)
    diffs = per_rep.filter(
        (F.col("_b") >= 0)
        & (F.col("_na") > 0)
        & (F.col("_nb") > 0)
    ).select(
        "_b",
        F.round(
            F.col("_sb").cast("double") / F.col("_nb")
            - F.col("_sa").cast("double") / F.col("_na"),
            6,
        ).alias("_d"),
    )
    w_rank = Window.orderBy("_d", "_b")
    w_all = Window.partitionBy()
    ranked = diffs.select(
        "_d",
        F.row_number().over(w_rank).alias("_r"),
        F.count(F.lit(1)).over(w_all).alias("_beff"),
    )
    r_lo = F.greatest(
        F.expr(f"CAST((_beff + {tail_den - 1}) div {tail_den} AS INT)"),
        F.lit(1),
    )
    ci = ranked.select(
        "_d", "_r", "_beff", r_lo.alias("_rlo")
    ).agg(
        F.max(
            F.when(F.col("_r") == F.col("_rlo"), F.col("_d"))
        ).alias("ci_lo"),
        F.max(
            F.when(
                F.col("_r")
                == F.col("_beff") + 1 - F.col("_rlo"),
                F.col("_d"),
            )
        ).alias("ci_hi"),
        F.max("_beff").alias("n_replicates"),
    )
    obs = per_rep.filter(F.col("_b") == -1).select(
        F.col("_na").alias("n_a"),
        F.col("_sa").alias("s_a"),
        F.col("_nb").alias("n_b"),
        F.col("_sb").alias("s_b"),
    )
    out = obs.crossJoin(F.broadcast(ci))
    rate_a = F.col("s_a").cast("double") / F.col("n_a")
    rate_b = F.col("s_b").cast("double") / F.col("n_b")
    return out.select(
        F.lit(ga).alias("group_a"),
        F.col("n_a").cast("long").alias("n_a"),
        F.round(rate_a, 6).alias("rate_a"),
        F.lit(gb).alias("group_b"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(rate_b, 6).alias("rate_b"),
        F.round(rate_b - rate_a, 6).alias("lift"),
        F.col("ci_lo"),
        F.col("ci_hi"),
        F.col("n_replicates").cast("long").alias("n_replicates"),
        (
            (F.col("ci_lo") > 0) | (F.col("ci_hi") < 0)
        ).cast("int").alias("significant"),
    )


def spearman_corr(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Spearman rank correlation between two numeric columns — the
    monotone-association readout Pearson gets wrong on heavy-tailed
    metrics (does price rise WITH basket size, does quality rise
    with length — regardless of scale or outliers).  Midrank tie
    handling (the standard definition), riding the SAME distributed
    machinery as mann_whitney_u: per-column distinct-value tie
    counts, a distributed exclusive cumsum (never a single-partition
    window), and INTEGER-exact doubled midranks 2·mid = 2·cum + t + 1
    joined back to the rows.

    ρ is then the Pearson correlation of the doubled midranks — the
    ×2 cancels — from five exact integer sums (Σa, Σb, Σa², Σb²,
    Σab; a, b ≤ 2n keeps Σa² under 38 digits to ~10¹² rows)
    finished as one deterministic double expression, rounded 6dp.

    Returns ONE row: (n_rows, rho) — NULL rho when either column is
    constant (zero rank variance) or n < 2.
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_weighted_cumsum,
    )

    src = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    )

    def midranks(col: str) -> DataFrame:
        pv = src.groupBy(col).agg(F.count(F.lit(1)).alias("_t"))
        cum = global_weighted_cumsum(pv, col, "_t")
        return cum.select(
            col,
            (
                F.lit(2) * F.col("_cum") + F.col("_t") + F.lit(1)
            ).alias(f"_m{col}"),
        )

    ranked = src.join(midranks("_x"), "_x").join(
        midranks("_y"), "_y"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("_n"),
        exact_sum("_m_x", 0).alias("_sa"),
        exact_sum("_m_y", 0).alias("_sb"),
        exact_sum_product("_m_x", "_m_x", 0).alias("_saa"),
        exact_sum_product("_m_y", "_m_y", 0).alias("_sbb"),
        exact_sum_product("_m_x", "_m_y", 0).alias("_sab"),
    )
    n = F.col("_n").cast("double")
    sa = F.col("_sa").cast("double")
    sb = F.col("_sb").cast("double")
    var_a = n * F.col("_saa").cast("double") - sa * sa
    var_b = n * F.col("_sbb").cast("double") - sb * sb
    cov = n * F.col("_sab").cast("double") - sa * sb
    return agg.select(
        F.col("_n").cast("long").alias("n_rows"),
        F.when(
            (F.col("_n") >= 2) & (var_a > 0) & (var_b > 0),
            F.round(cov / F.sqrt(var_a * var_b), 6),
        ).alias("rho"),
    )


def ks_test_2sample(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: the maximum gap between
    the two arms' empirical CDFs — the distribution-shift readout
    that catches what a mean test can't (same mean, different shape:
    a latency regression that only moves the tail, a corpus drift
    that only moves the mode).

    Scale shape (the mann_whitney machinery): the corpus collapses
    to ONE row per distinct value with per-arm tie counts; both
    arms' inclusive cumulative counts come from the DISTRIBUTED
    exclusive cumsum (two range-partitioned passes over the
    |distinct| relation, never a single-partition window); D is a
    MAX over per-row deterministic scalars (order-free by
    definition).  Significance at α=0.05 uses the asymptotic
    critical value 1.358102·√((n_a+n_b)/(n_a·n_b)).

    Returns ONE row: (group_a, n_a, group_b, n_b, d_stat,
    d_critical, significant) — d/critical rounded 6dp.
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_weighted_cumsum,
    )

    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    )
    found = [
        r["_g"]
        for r in src.select("_g").distinct().limit(3).collect()
    ]
    if len(found) != 2:
        raise UserException(
            f"ks_test_2sample needs exactly 2 arms, found "
            f"{sorted(found)!r}"
        )
    ga, _gb = sorted(found)
    pv = src.groupBy("_v").agg(
        F.count(F.lit(1)).alias("_t"),
        F.sum(
            F.when(F.col("_g") == ga, 1).otherwise(0)
        ).alias("_ta"),
    )
    c1 = global_weighted_cumsum(
        pv, "_v", "_ta"
    ).withColumnRenamed("_cum", "_ca")
    c2 = global_weighted_cumsum(
        c1.withColumn("_tb", F.col("_t") - F.col("_ta")),
        "_v",
        "_tb",
    ).withColumnRenamed("_cum", "_cb")
    agg = c2.agg(
        F.sum("_ta").alias("_na"),
        F.sum("_tb").alias("_nb"),
    )
    na, nb = [
        (r["_na"] or 0, r["_nb"] or 0) for r in agg.collect()
    ][0]
    if na == 0 or nb == 0:
        raise UserException(
            "ks_test_2sample: one arm has no non-null values"
        )
    d = F.abs(
        (F.col("_ca") + F.col("_ta")).cast("double") / F.lit(na)
        - (F.col("_cb") + F.col("_tb")).cast("double") / F.lit(nb)
    )
    crit = F.lit(1.358102) * F.sqrt(
        (F.lit(na) + F.lit(nb)).cast("double")
        / (F.lit(na).cast("double") * F.lit(nb))
    )
    out = c2.agg(F.round(F.max(d), 6).alias("d_stat"))
    return out.select(
        F.lit(ga).alias("group_a"),
        F.lit(na).cast("long").alias("n_a"),
        F.lit(_gb).alias("group_b"),
        F.lit(nb).cast("long").alias("n_b"),
        "d_stat",
        F.round(crit, 6).alias("d_critical"),
        (F.col("d_stat") > crit).cast("int").alias("significant"),
    )


def welch_ttest(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Welch's unequal-variance t-test over a continuous metric —
    the default two-sample mean test (Student's equal-variance
    assumption buys nothing and silently fails on imbalanced arms).
    ONE map-side-combinable aggregation collapses the corpus to
    per-arm (n, Σx, Σx²) with the stats_agg decimal rule (Σx² exact
    ONLY as cast-then-square decimal — a double→decimal cast of a
    17-digit product diverges between engines); t, the
    Welch–Satterthwaite dof, and the means are deterministic double
    expressions over those exact sums, rounded 6dp.

    Returns ONE row: (group_a, n_a, mean_a, group_b, n_b, mean_b,
    mean_diff, t, dof, significant) — significant = |t| above the
    two-sided 5% normal critical value (dof is large at corpus
    scale; the normal approximation is the house z convention).
    """
    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    )
    found = [
        r["_g"]
        for r in src.select("_g").distinct().limit(3).collect()
    ]
    if len(found) != 2:
        raise UserException(
            f"welch_ttest needs exactly 2 arms, found "
            f"{sorted(found)!r}"
        )
    ga, gb = sorted(found)
    arms = src.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        exact_sum("_v", 4).alias("_s"),
        exact_sum_product("_v", "_v", 4).alias("_ss"),
    )

    def pick(g, c):
        return F.max(F.when(F.col("_g") == g, F.col(c)))

    agg = arms.agg(
        pick(ga, "_n").alias("_na"),
        pick(ga, "_s").alias("_sa"),
        pick(ga, "_ss").alias("_ssa"),
        pick(gb, "_n").alias("_nb"),
        pick(gb, "_s").alias("_sb"),
        pick(gb, "_ss").alias("_ssb"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    ma = F.col("_sa").cast("double") / na
    mb = F.col("_sb").cast("double") / nb
    # sample variance from exact sums: (Σx² − n·m²)/(n−1)
    va = (F.col("_ssa").cast("double") - na * ma * ma) / (na - 1)
    vb = (F.col("_ssb").cast("double") - nb * mb * mb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (mb - ma) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1)
        + (vb / nb) * (vb / nb) / (nb - 1)
    )
    ok = (F.col("_na") >= 2) & (F.col("_nb") >= 2) & (se2 > 0)
    return agg.select(
        F.lit(ga).alias("group_a"),
        F.col("_na").cast("long").alias("n_a"),
        F.round(ma, 6).alias("mean_a"),
        F.lit(gb).alias("group_b"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(mb, 6).alias("mean_b"),
        F.round(mb - ma, 6).alias("mean_diff"),
        F.when(ok, F.round(t, 6)).alias("t"),
        F.when(ok, F.round(dof, 2)).alias("dof"),
        F.coalesce(
            F.when(ok, (F.abs(t) > 1.959964).cast("int")),
            F.lit(0),
        ).alias("significant"),
    )


def anova_oneway(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One-way ANOVA F statistic over k groups — the "do ANY of
    these segments differ" screen that precedes pairwise tests
    (priority tiers vs order value, source domains vs quality
    score).  ONE map-side-combinable aggregation to per-group
    (n, Σx, Σx²) with the stats_agg decimal rule; SSB/SSW come from
    the algebraic identities SSB = Σ(S_g²/n_g) − S²/N and
    SSW = ΣΣx² − Σ(S_g²/n_g) over the |k|-row relation, finished as
    deterministic double expressions rounded 6dp.

    Returns ONE row: (k_groups, n_rows, ss_between, ss_within, f,
    significant) — f NULL when dof degenerates (k < 2 or N ≤ k);
    significant = F above the 1% critical value for large
    denominator dof at the observed k−1 (conservative lookup,
    k ≤ 30).
    """
    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    )
    per_g = src.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        exact_sum("_v", 4).alias("_s"),
        exact_sum_product("_v", "_v", 4).alias("_ss"),
    )
    # the three grand sums are kept at DECIMAL SCALE 0 (floored):
    # a scale-s decimal whose unscaled integer exceeds 2^53 converts
    # to double via u·10^-s intermediate arithmetic that the two
    # engines round differently (the registry's rule #3 — this
    # operator's first cut diverged in the 4th decimal of a 1e14 SSW
    # for exactly that reason), while a scale-0 decimal→double is the
    # uniquely-defined nearest-int conversion on both.  The sub-unit
    # truncation is invisible against sums of squares of corpus
    # magnitudes.
    agg = per_g.agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum("_n").alias("_N"),
        exact_sum("_s", 4).alias("_S"),
        exact_sum(F.floor(F.col("_ss")), 0).alias("_SS"),
        exact_sum(
            F.floor(
                F.col("_s").cast("double")
                * F.col("_s").cast("double")
                / F.col("_n")
            ),
            0,
        ).alias("_SG"),
    )
    n = F.col("_N").cast("double")
    k = F.col("_k").cast("double")
    ssb = F.col("_SG").cast("double") - (
        F.col("_S").cast("double") * F.col("_S").cast("double") / n
    )
    ssw = F.col("_SS").cast("double") - F.col("_SG").cast("double")
    f = (ssb / (k - 1)) / (ssw / (n - k))
    ok = (F.col("_k") >= 2) & (
        F.col("_N") > F.col("_k")
    ) & (ssw > 0)
    # conservative for finite denominator dof; shared constant table
    crit = F.element_at(
        F.array(*[F.lit(v) for v in F_CRIT_1PCT]),
        F.least(F.col("_k") - 1, F.lit(len(F_CRIT_1PCT))).cast(
            "int"
        ),
    )
    return agg.select(
        F.col("_k").cast("long").alias("k_groups"),
        F.col("_N").cast("long").alias("n_rows"),
        F.when(ok, F.round(ssb, 4)).alias("ss_between"),
        F.when(ok, F.round(ssw, 4)).alias("ss_within"),
        F.when(ok, F.round(f, 6)).alias("f"),
        F.coalesce(
            F.when(ok, (f > crit).cast("int")), F.lit(0)
        ).alias("significant"),
    )


def mann_whitney_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    b_replicates: int = 200,
    tail_den: int = 40,
    salt: str = "mwci",
) -> DataFrame:
    """Bootstrap confidence interval for the Mann–Whitney
    rank-biserial effect size r = 1 − 2U_a/(n_a·n_b) — the
    decision-grade companion to mann_whitney_u's point z (same
    motivation as ab_bootstrap_ci: "arm B stochastically dominates
    by r = 0.18, 95% CI [0.11, 0.25]" instead of a bare
    significant flag).  Identical determinism machinery: Poisson(1)
    replicate weights from the house md5 hash (the shared
    _POISSON1_CDF ladder), integer-exact tail ranks
    ceil(B_eff/tail_den).

    Scale shape: the corpus×B weight fan-out collapses MAP-SIDE to
    one row per (distinct value, replicate) — the shuffle carries
    |distinct|·B partial sums; each replicate's midrank cumsum is a
    window PARTITIONED BY replicate (parallel across B, each
    partition |distinct| rows — bounded when values are bucketed,
    the same post-agg-window contract as temperature_quota; for
    unbucketed high-cardinality metrics bucket first, exactly as
    mann_whitney_u's fixture does).  2·R_a stays integer-exact per
    replicate, accumulated exactly.  The observed point
    statistics come from mann_whitney_u itself (the distributed
    shard-offset cumsum), cross-joined in.

    Returns ONE row: (group_a, n_a, group_b, n_b, u_a, z, r_obs,
    ci_lo, ci_hi, n_replicates, significant) — r/CI rounded 6dp,
    significant = the CI excludes 0, as int.
    """
    if b_replicates < 4:
        raise ValueError(
            f"mann_whitney_ci needs b_replicates >= 4, got "
            f"{b_replicates}"
        )
    src = df.filter(
        F.col(group_col).isNotNull()
        & F.col(value_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
        F.col(id_col).cast("string").alias("_id"),
    )
    found = [
        r["_g"]
        for r in src.select("_g").distinct().limit(3).collect()
    ]
    if len(found) != 2:
        raise UserException(
            f"mann_whitney_ci needs exactly 2 arms, found "
            f"{sorted(found)!r}"
        )
    ga, gb = sorted(found)
    # explode + codegen'd column weight (see ab_bootstrap_ci: the
    # transform() lambda path is interpreted and ~6x slower)
    per_vb = (
        src.select(
            "_g",
            "_v",
            "_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(b_replicates - 1))
            ).alias("b"),
        )
        .select(
            "_g",
            "_v",
            F.col("b").alias("_b"),
            _poisson_weight(salt).alias("_w"),
        )
        .groupBy("_v", "_b")
        .agg(
            F.sum("_w").alias("_t"),
            F.sum(
                F.when(F.col("_g") == ga, F.col("_w")).otherwise(0)
            ).alias("_ta"),
        )
    )
    w_cum = (
        Window.partitionBy("_b")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = per_vb.select(
        "_b",
        "_t",
        "_ta",
        F.coalesce(F.sum("_t").over(w_cum), F.lit(0)).alias("_cum"),
    )
    per_b = staged.groupBy("_b").agg(
        F.sum("_ta").alias("_na"),
        F.sum(F.col("_t") - F.col("_ta")).alias("_nb"),
        exact_sum_product(
            "_ta", F.lit(2) * F.col("_cum") + F.col("_t") + F.lit(1), 0
        ).alias("_s2"),
    )
    # 2·U_a = 2·R_a − n_a(n_a+1);  r = 1 − 2·U_a/(n_a·n_b)
    r_expr = F.round(
        F.lit(1.0)
        - (
            F.col("_s2").cast("double")
            - F.col("_na").cast("double") * (F.col("_na") + 1)
        )
        / (F.col("_na").cast("double") * F.col("_nb")),
        6,
    )
    diffs = per_b.filter(
        (F.col("_na") > 0) & (F.col("_nb") > 0)
    ).select("_b", r_expr.alias("_r"))
    w_rank = Window.orderBy("_r", "_b")
    w_all = Window.partitionBy()
    ranked = diffs.select(
        "_r",
        F.row_number().over(w_rank).alias("_rk"),
        F.count(F.lit(1)).over(w_all).alias("_beff"),
    )
    r_lo = F.greatest(
        F.expr(
            f"CAST((_beff + {tail_den - 1}) div {tail_den} AS INT)"
        ),
        F.lit(1),
    )
    ci = ranked.select(
        "_r", "_rk", "_beff", r_lo.alias("_rlo")
    ).agg(
        F.max(
            F.when(F.col("_rk") == F.col("_rlo"), F.col("_r"))
        ).alias("ci_lo"),
        F.max(
            F.when(
                F.col("_rk")
                == F.col("_beff") + 1 - F.col("_rlo"),
                F.col("_r"),
            )
        ).alias("ci_hi"),
        F.max("_beff").alias("n_replicates"),
    )
    obs = mann_whitney_u(
        src.select(
            F.col("_g").alias("g"), F.col("_v").alias("v")
        ),
        "g",
        "v",
    )
    out = obs.crossJoin(F.broadcast(ci))
    r_obs = F.round(
        F.lit(1.0)
        - F.lit(2.0)
        * F.col("u_a")
        / (F.col("n_a").cast("double") * F.col("n_b")),
        6,
    )
    return out.select(
        "group_a",
        "n_a",
        "group_b",
        "n_b",
        "u_a",
        "z",
        r_obs.alias("r_obs"),
        "ci_lo",
        "ci_hi",
        F.col("n_replicates").cast("long").alias("n_replicates"),
        (
            (F.col("ci_lo") > 0) | (F.col("ci_hi") < 0)
        ).cast("int").alias("significant"),
    )


def cohen_kappa(
    df: DataFrame, rater_a_col: str, rater_b_col: str
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical labelings of the same rows: the inter-annotator (or
    model-vs-editorial) agreement readout every labeling pipeline
    reports before trusting its labels (raw percent-agreement is
    inflated by class imbalance; kappa subtracts the agreement two
    independent raters with these marginals would get for free).

    ONE map-side-combinable groupBy collapses the corpus to the
    |a|×|b| confusion cells; p_o = Σ diagonal / N comes straight
    from the cells and p_e = Σ_k row_k·col_k / N² from a join of
    the two metadata-scale marginal relations (a class present in
    only one rater's marginal still contributes) — kappa is one
    deterministic double expression over exact integer counts,
    rounded 6dp.

    Returns ONE row: (n_rows, n_classes_a, n_classes_b, po, pe,
    kappa) — kappa NULL when p_e = 1 (a single shared class: no
    chance correction possible).
    """
    src = df.filter(
        F.col(rater_a_col).isNotNull()
        & F.col(rater_b_col).isNotNull()
    )
    if not src.select(F.lit(1)).limit(1).collect():
        raise UserException(
            "cohen_kappa: no rows with both "
            f"{rater_a_col!r} and {rater_b_col!r} non-null"
        )
    cells = src.groupBy(
        F.col(rater_a_col).cast("string").alias("_a"),
        F.col(rater_b_col).cast("string").alias("_b"),
    ).agg(F.count(F.lit(1)).alias("_n"))
    # p_e comes from the MARGINAL relation join below (a class can
    # appear in one rater's marginal with no diagonal cell); the agg
    # itself needs only the raw cells — no window marginals
    agg = cells.agg(
        F.sum("_n").alias("_N"),
        F.countDistinct("_a").alias("_ka"),
        F.countDistinct("_b").alias("_kb"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_n"))).alias(
            "_diag"
        ),
    )
    ra = cells.groupBy("_a").agg(F.sum("_n").alias("_r")).select(
        F.col("_a").alias("_k"), F.col("_r")
    )
    cb = cells.groupBy("_b").agg(F.sum("_n").alias("_c")).select(
        F.col("_b").alias("_k"), F.col("_c")
    )
    pe_rel = ra.join(cb, "_k").agg(
        exact_sum_product("_r", "_c", 0).alias("_sumrc")
    )
    out = agg.crossJoin(F.broadcast(pe_rel))
    n = F.col("_N").cast("double")
    po = F.coalesce(F.col("_diag"), F.lit(0)).cast("double") / n
    pe = F.col("_sumrc").cast("double") / (n * n)
    return out.select(
        F.col("_N").cast("long").alias("n_rows"),
        F.col("_ka").cast("long").alias("n_classes_a"),
        F.col("_kb").cast("long").alias("n_classes_b"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.when(
            pe < 1.0, F.round((po - pe) / (F.lit(1.0) - pe), 6)
        ).alias("kappa"),
    )


def cochran_armitage_trend(
    df: DataFrame, score_col: str, success_col: str
) -> DataFrame:
    """Cochran–Armitage trend test: is a binary outcome's rate
    MONOTONE in an ordered factor (does conversion rise with plan
    tier, does dup-rate rise with crawl depth) — the chi-square
    can't see order; this one-dof test can.

    ONE map-side-combinable groupBy collapses the corpus to one row
    per ordered score with (n_i, s_i); the statistic
    T = Σ x_i s_i − p̂ Σ x_i n_i with Var = p̂(1−p̂)·
    [Σ n_i x_i² − (Σ x_i n_i)²/N] finishes on that metadata-scale
    relation from exact integer/decimal sums.  ``score_col`` must be
    numeric (the caller maps ordinal labels to ranks — explicitly,
    because the spacing IS part of the hypothesis).

    Returns ONE row: (n_rows, n_levels, z, significant) — z rounded
    6dp, NULL when the variance degenerates (all-success,
    all-failure, or a single level).
    """
    src = df.filter(
        F.col(score_col).isNotNull()
        & F.col(success_col).isNotNull()
    ).select(
        F.col(score_col).cast("long").alias("_x"),
        F.col(success_col).cast("long").alias("_y"),
    )
    per = src.groupBy("_x").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_y").alias("_s"),
    )
    agg = per.agg(
        F.sum("_n").alias("_N"),
        F.count(F.lit(1)).alias("_k"),
        F.sum("_s").alias("_S"),
        exact_sum_product("_x", "_s", 0).alias("_xs"),
        exact_sum_product("_x", "_n", 0).alias("_xn"),
        exact_sum(F.col("_x") * F.col("_x") * F.col("_n"), 0).alias("_xxn"),
    )
    n = F.col("_N").cast("double")
    p = F.col("_S").cast("double") / n
    t = F.col("_xs").cast("double") - p * F.col("_xn").cast(
        "double"
    )
    var = (
        p
        * (F.lit(1.0) - p)
        * (
            F.col("_xxn").cast("double")
            - F.col("_xn").cast("double")
            * F.col("_xn").cast("double")
            / n
        )
    )
    z = F.when(var > 0, F.round(t / F.sqrt(var), 6))
    return agg.select(
        F.col("_N").cast("long").alias("n_rows"),
        F.col("_k").cast("long").alias("n_levels"),
        z.alias("z"),
        F.coalesce(
            (F.abs(z) > F.lit(Z_CRIT_5PCT)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def bradley_terry(
    comparisons: DataFrame,
    winner_col: str,
    loser_col: str,
    iterations: int = 2,
    top_k: int = 20,
    broadcast_scores: bool = True,
) -> DataFrame:
    """Bradley–Terry preference strengths from pairwise outcomes —
    the batch model behind preference-data curation (which responses
    does the rater pool actually prefer, with intransitive noise
    averaged out): P(i beats j) = p_i/(p_i + p_j), fit by the
    classical MM iteration p_i ← W_i / Σ_j n_ij/(p_i + p_j)
    (Hunter 2004).  ELO is this model fit sequentially and
    order-dependently; BT is the order-free spelling a distributed
    engine can own.

    Scale shape (the pagerank/HITS discipline): comparisons collapse
    to ONE row per unordered pair (n games, wins) — the corpus
    shuffle; each MM iteration is a broadcast join of the
    metadata-scale pair relation with the current |items| scores on
    BOTH endpoints plus one per-item aggregation with the
    denominators' per-pair terms ROUNDED 9dp and summed as DECIMAL
    (order-free), a FIXED iteration count, no driver round-trips in
    the loop.  Scores renormalize to mean 1 each iteration (a
    deterministic scalar broadcast) and round 9dp, so the fit is
    bit-identical at any parallelism.

    Returns the ``top_k`` items by strength: (item, n_games, n_wins,
    strength, rank) — strength 6dp, ranked on the ROUNDED strength
    with the item id as tiebreak (the hash-rule total order).

    ``broadcast_scores`` prices the same crossover the LM scorer's
    ``broadcast_model`` does: each MM iteration joins the pair
    relation against the |items| score relation on BOTH endpoints.
    The default hints a broadcast — right for the universes this
    operator targets (raters, models, document clusters: |items|
    ~10³–10⁷, ≈50 B/row → ≤ a few hundred MB, well under executor
    memory, and the pair relation never shuffles inside the loop).
    Past ~10⁸ items the score relation no longer fits an executor
    broadcast: pass ``False`` and the iteration joins become
    shuffle hash/sort-merge joins on the endpoint keys — |pairs| +
    |items| shuffled per iteration, the right trade at
    billion-item scale.  The flag changes ONLY the join strategy
    hint; the fit is bit-identical either way (9dp-rounded
    order-free decimal sums, fixed iterations).
    """

    def _maybe_broadcast(rel: DataFrame) -> DataFrame:
        return F.broadcast(rel) if broadcast_scores else rel

    src = comparisons.filter(
        F.col(winner_col).isNotNull()
        & F.col(loser_col).isNotNull()
        & (F.col(winner_col) != F.col(loser_col))
    ).select(
        F.col(winner_col).cast("string").alias("_w"),
        F.col(loser_col).cast("string").alias("_l"),
    )
    # bidirectional per-(item, opponent) relation: n games, wins
    d = (
        src.select(
            F.col("_w").alias("_i"),
            F.col("_l").alias("_j"),
            F.lit(1).alias("_win"),
        )
        .unionByName(
            src.select(
                F.col("_l").alias("_i"),
                F.col("_w").alias("_j"),
                F.lit(0).alias("_win"),
            )
        )
        .groupBy("_i", "_j")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_win").alias("_wn"),
        )
    )
    # pinned: the pair relation feeds every iteration twice (both
    # endpoints) plus the W/G totals — without the pin each consumer
    # re-scans the comparison corpus
    d = d.localCheckpoint(eager=True)
    totals = d.groupBy("_i").agg(
        F.sum("_n").alias("_g"), F.sum("_wn").alias("_W")
    )
    scores = totals.select(
        "_i", F.lit(1.0).alias("_p"), "_g", "_W"
    )
    for _ in range(iterations):
        pj = scores.select(
            F.col("_i").alias("_j"), F.col("_p").alias("_pj")
        )
        denom = (
            d.join(
                _maybe_broadcast(
                    scores.select("_i", F.col("_p").alias("_pi"))
                ),
                "_i",
            )
            .join(_maybe_broadcast(pj), "_j")
            .select(
                "_i",
                quantize(F.col("_n") / (F.col("_pi") + F.col("_pj")), 9)
                .alias("_t"),
            )
            .groupBy("_i")
            .agg(F.sum("_t").alias("_den"))
        )
        raw = totals.join(denom, "_i").select(
            "_i",
            "_g",
            "_W",
            F.when(
                F.col("_den") > 0,
                F.col("_W").cast("double")
                / F.col("_den").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("_praw"),
        )
        # renormalize to mean 1 (deterministic scalar over a 9dp
        # decimal sum), round 9dp so the next iteration's inputs are
        # order-free on both engines
        tot = F.broadcast(
            raw.agg(
                exact_sum("_praw", 9).alias("_sp"),
                F.count(F.lit(1)).alias("_k"),
            )
        )
        scores = raw.crossJoin(tot).select(
            "_i",
            F.round(
                F.when(
                    F.col("_sp") > 0,
                    F.col("_praw")
                    * F.col("_k")
                    / F.col("_sp").cast("double"),
                ).otherwise(F.lit(0.0)),
                9,
            ).alias("_p"),
            "_g",
            "_W",
        )
        scores = scores.localCheckpoint(eager=True)
    w_rank = Window.orderBy(
        F.round(F.col("_p"), 6).desc(), F.col("_i")
    )
    return (
        scores.select(
            F.col("_i").alias("item"),
            F.col("_g").cast("long").alias("n_games"),
            F.col("_W").cast("long").alias("n_wins"),
            F.round(F.col("_p"), 6).alias("strength"),
            F.row_number().over(w_rank).alias("rank"),
        )
        .filter(F.col("rank") <= top_k)
    )


def benjamini_hochberg(
    df: DataFrame,
    test_col: str,
    p_col: str,
    alpha: float = 0.05,
    harmonic_scale: bool = False,
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR correction: one row per test
    with its q-value and reject-at-``alpha`` flag — the missing piece
    once the stats tier runs ~25 hypothesis tests per metric×segment
    grid cell (at 1,000 cells and α=0.05, ~50 'significant' results
    are expected under the GLOBAL null; BH bounds the expected
    false-discovery FRACTION instead).

    Distributed shape (no unpartitioned corpus window anywhere): the
    p-values get a global 1-based rank i via
    :func:`features.global_value_rank` (total order (p, test_id), so
    ties are contiguous and deterministic); the per-test statistic
    s_i = m·p_i/i is a fixed double expression; q_i = min(1,
    min_{j≥i} s_j) is a SUFFIX-min computed the
    ``global_weighted_cumsum`` way reversed — range-repartition on
    the rank, one tiny per-partition-min collect whose suffix-folded
    offsets lift each partition's local running min (a
    partition-local window) to the global one.  Tied p-values share
    a q automatically: the suffix min propagates the last tie's
    (smallest) s back across the contiguous tie run.

    Engine-portable by construction: s_i is the identical
    left-to-right double expression on both engines (exact m, i; one
    multiply, one divide), min over doubles is exact (no
    accumulation-order term), the reject flag compares the
    9dp-ROUNDED q on both sides (the ztest/MW convention — a q
    within 5e-10 of α cannot flip on one engine only), and the
    reported q rounds 6dp.

    Returns (test_id, p_value, p_rank, q_value, reject) — the
    reject set is exactly the BH step-up set: q_i ≤ α ⟺ ∃ j ≥ i
    with p_j ≤ α·j/m ⟺ i ≤ k* (the largest boundary-crossing rank).
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_value_rank,
    )

    if not (0.0 < alpha < 1.0):
        raise UserException(
            f"benjamini_hochberg: alpha must be in (0, 1), got {alpha}"
        )
    p_in = F.col(p_col).cast("double")
    src = df.select(
        F.col(test_col).cast("string").alias("_t"),
        # out-of-[0,1] p-values raise AT ACTION TIME inside the one
        # ranking pass (the calibration_report spelling) — a driver-
        # side pre-check would cost a second full corpus scan just
        # to prove the absence of bad rows
        F.when(
            (p_in < 0) | (p_in > 1),
            F.raise_error(
                F.concat(
                    F.lit(
                        "benjamini_hochberg: p-value outside "
                        "[0, 1]: "
                    ),
                    p_in.cast("string"),
                )
            ).cast("double"),
        )
        .otherwise(p_in)
        .alias("_p"),
    )
    ranked, m = global_value_rank(src, "_p", "_t")
    if m == 0:
        return ranked.select(
            F.col("_t").alias("test_id"),
            F.col("_p").alias("p_value"),
            F.col("_rank").alias("p_rank"),
            F.lit(None).cast("double").alias("q_value"),
            F.lit(None).cast("int").alias("reject"),
        )
    # Benjamini–Yekutieli: scale the statistic by the harmonic sum
    # c(m) = Σ 1/j — computed as the LEFT FOLD from j=1 (the order
    # the oracle's list_reduce replays), folded into m as ONE
    # driver-side double product so the per-row expression stays
    # one multiply + one divide
    mc = float(m)
    if harmonic_scale:
        c = 0.0
        for j in range(1, m + 1):
            c += 1.0 / j
        mc = float(m) * c
    staged = ranked.select(
        "_t",
        "_p",
        (F.col("_rank") + 1).alias("_i"),
        # the BH statistic: exact integers m and i, ONE multiply and
        # ONE divide left-to-right — the identical IEEE expression on
        # both engines, so the suffix MIN below is bit-deterministic
        (
            F.lit(mc) * F.col("_p") / F.col("_i")
        ).alias("_s"),
    )
    p = df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        staged.repartitionByRange(p, F.col("_i"))
        .withColumn("__pid", F.spark_partition_id())
    )
    # pinned for the same two reasons global_value_rank documents:
    # range boundaries are sampled (a recompute could re-bucket rows
    # after the per-partition mins are collected), and checkpoint
    # blocks release with the DataFrame
    ranged = ranged.localCheckpoint(eager=True)
    mins = {
        r["__pid"]: r["mn"]
        for r in ranged.groupBy("__pid")
        .agg(F.min("_s").alias("mn"))
        .collect()
    }
    # suffix-fold the per-partition mins: offs[pid] = min of every
    # LATER partition's min (None for the last — nothing after it)
    offs: dict = {}
    acc = None
    for pid in sorted(mins, reverse=True):
        offs[pid] = acc
        acc = mins[pid] if acc is None else min(acc, mins[pid])
    off = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in sorted(offs)]),
            F.array(
                *[
                    F.lit(offs[k]).cast("double")
                    for k in sorted(offs)
                ]
            ),
        ),
        F.col("__pid"),
    )
    w_suf = (
        Window.partitionBy("__pid")
        .orderBy(F.desc("_i"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # F.least skips NULLs, so the last partition (no later offset)
    # keeps its local running min
    q_raw = F.least(
        F.lit(1.0), F.min("_s").over(w_suf), off
    )
    return ranged.select(
        F.col("_t").alias("test_id"),
        F.col("_p").alias("p_value"),
        F.col("_i").cast("long").alias("p_rank"),
        F.round(q_raw, 6).alias("q_value"),
        (F.round(q_raw, 9) <= F.lit(alpha))
        .cast("int")
        .alias("reject"),
    )


def cuped_ztest(
    df: DataFrame,
    unit_col: str,
    arm_col: str,
    value_col: str,
    pre_col: str,
) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13 —
    the industry-standard sensitivity boost): adjust each unit's
    experiment-period metric Y by its PRE-period covariate X,
    Y* = Y − θ(X − X̄) with θ = cov(X,Y)/var(X), and z-test the
    adjusted means.  Pre-period behavior explains the unit-level
    variance the treatment never touched, so the adjusted test
    reaches the same power at (1 − ρ²)× the sample — the difference
    between a two-week and a two-month experiment.

    ONE corpus scan: rows split by ``pre_col`` (true = pre-period)
    into per-unit (X, Y) exact 4dp sums (the
    hourly_rollup convention — per-unit double sums would be
    partition-order-dependent), then one per-arm aggregation of the
    sufficient moments (n, Σx, Σy, Σxy, Σx², Σy²) with each product
    term 6dp-rounded into an exact sum (order-free).  θ is POOLED
    across arms (the standard estimator — a per-arm θ would leak
    treatment effect into the adjustment), rounded 9dp.  A unit
    with no pre-period rows carries X = 0 — the convention that
    keeps new users in the experiment rather than silently dropping
    them (CUPED simply explains none of their variance).

    Per-unit sums convert DECIMAL→DOUBLE once; a unit whose 4dp
    unscaled sum exceeds 2⁵³ (a single unit accumulating >10¹¹ in
    metric value) would hit the decimal→double parity edge — refused
    implicitly by the moments staying NULL-free only below that
    (documented headroom, the Gini contract).

    Returns ONE row: (arm_a, arm_b, n_a, n_b, theta, rho,
    mean_adj_a, mean_adj_b, lift_adj, z_raw, z_adj, significant) —
    theta 9dp→6dp reported, rho/means/lift/z 6dp; z_adj NULL when
    an arm has <2 units or a variance degenerates; ``significant``
    compares the 6dp-ROUNDED |z_adj| (house convention).  var(X)=0
    (no usable covariate) falls back to θ = 0: z_adj == z_raw,
    never an error.
    """
    units = (
        df.filter(
            F.col(unit_col).isNotNull()
            & F.col(arm_col).isNotNull()
            & F.col(value_col).isNotNull()
            & F.col(pre_col).isNotNull()
        )
        .groupBy(F.col(unit_col).alias("_u"))
        .agg(
            F.min(F.col(arm_col).cast("string")).alias("_g"),
            F.coalesce(
                exact_sum(
                    F.when(F.col(pre_col).cast("boolean"), F.col(value_col)),
                    4,
                ),
                F.lit(0),
            ).alias("_xd"),
            F.coalesce(
                exact_sum(
                    F.when(~F.col(pre_col).cast("boolean"), F.col(value_col)),
                    4,
                ),
                F.lit(0),
            ).alias("_yd"),
        )
    )
    x = F.col("_xd").cast("double")
    y = F.col("_yd").cast("double")
    arms = units.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        exact_sum(x, 6).alias("_sx"),
        exact_sum(y, 6).alias("_sy"),
        exact_sum(x * y, 6).alias(
            "_sxy"
        ),
        exact_sum(x * x, 6).alias(
            "_sxx"
        ),
        exact_sum(y * y, 6).alias(
            "_syy"
        ),
    )
    arms = arms.localCheckpoint(eager=True)
    found = [r["_g"] for r in arms.select("_g").limit(3).collect()]
    if len(found) != 2:
        raise UserException(
            f"cuped_ztest needs exactly 2 arms, found "
            f"{sorted(found)!r}"
        )
    ga, gb = sorted(found)

    def _pick(g, col):
        return F.max(F.when(F.col("_g") == g, F.col(col)))

    row = arms.agg(
        *[
            _pick(g, c).alias(f"{c}_{s}")
            for g, s in ((ga, "a"), (gb, "b"))
            for c in ("_n", "_sx", "_sy", "_sxy", "_sxx", "_syy")
        ]
    )
    na = F.col("_n_a").cast("double")
    nb = F.col("_n_b").cast("double")
    nn = (F.col("_n_a") + F.col("_n_b")).cast("double")
    sx = (F.col("_sx_a") + F.col("_sx_b")).cast("double")
    sy = (F.col("_sy_a") + F.col("_sy_b")).cast("double")
    sxy = (F.col("_sxy_a") + F.col("_sxy_b")).cast("double")
    sxx = (F.col("_sxx_a") + F.col("_sxx_b")).cast("double")
    syy = (F.col("_syy_a") + F.col("_syy_b")).cast("double")
    var_x = sxx - sx * sx / nn
    var_y = syy - sy * sy / nn
    cov = sxy - sx * sy / nn
    theta = F.when(var_x > 0, F.round(cov / var_x, 9)).otherwise(
        F.lit(0.0)
    )
    rho = F.when(
        (var_x > 0) & (var_y > 0),
        F.round(cov / F.sqrt(var_x * var_y), 6),
    )

    def arm_stats(s):
        n = F.col(f"_n_{s}").cast("double")
        sxa = F.col(f"_sx_{s}").cast("double")
        sya = F.col(f"_sy_{s}").cast("double")
        sxya = F.col(f"_sxy_{s}").cast("double")
        sxxa = F.col(f"_sxx_{s}").cast("double")
        syya = F.col(f"_syy_{s}").cast("double")
        mean_adj = sya / n - theta * (sxa / n - sx / nn)
        ss_adj = (
            (syya - sya * sya / n)
            - F.lit(2.0) * theta * (sxya - sxa * sya / n)
            + theta * theta * (sxxa - sxa * sxa / n)
        )
        ss_raw = syya - sya * sya / n
        v_adj = F.when(n > 1, ss_adj / (n - F.lit(1.0)))
        v_raw = F.when(n > 1, ss_raw / (n - F.lit(1.0)))
        return mean_adj, v_adj, v_raw, sya / n

    m_a, va_a, vr_a, my_a = arm_stats("a")
    m_b, va_b, vr_b, my_b = arm_stats("b")
    se_adj = F.sqrt(va_a / na + va_b / nb)
    se_raw = F.sqrt(vr_a / na + vr_b / nb)
    z_adj = F.when(se_adj > 0, F.round((m_b - m_a) / se_adj, 6))
    z_raw = F.when(se_raw > 0, F.round((my_b - my_a) / se_raw, 6))
    return row.select(
        F.lit(ga).alias("arm_a"),
        F.lit(gb).alias("arm_b"),
        F.col("_n_a").cast("long").alias("n_a"),
        F.col("_n_b").cast("long").alias("n_b"),
        F.round(theta, 6).alias("theta"),
        rho.alias("rho"),
        F.round(m_a, 6).alias("mean_adj_a"),
        F.round(m_b, 6).alias("mean_adj_b"),
        F.round(m_b - m_a, 6).alias("lift_adj"),
        z_raw.alias("z_raw"),
        z_adj.alias("z_adj"),
        F.coalesce(
            (F.abs(z_adj) > F.lit(Z_CRIT_5PCT)).cast("int"),
            F.lit(0),
        ).alias("significant"),
    )


#: chi-square upper 5% critical values for df = 1..29 (Abramowitz &
#: Stegun table 26.8) — shared by srm_check and its oracle so the
#: lookup can never drift between engines (the F_CRIT_1PCT pattern).
CHI2_CRIT_5PCT = (
    3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067, 15.507,
    16.919, 18.307, 19.675, 21.026, 22.362, 23.685, 24.996,
    26.296, 27.587, 28.869, 30.144, 31.410, 32.671, 33.924,
    35.172, 36.415, 37.652, 38.885, 40.113, 41.337, 42.557,
)


def srm_check(
    df: DataFrame,
    unit_col: str,
    arm_col: str,
    expected: dict,
) -> DataFrame:
    """Sample-ratio-mismatch check — the A/B trust gate that runs
    BEFORE any metric readout: a chi-square goodness-of-fit of the
    observed per-arm UNIT counts against the declared traffic split.
    A significant mismatch means the randomization itself is broken
    (bot filtering, redirect loss, logging gaps biased by arm) and
    every downstream test on the experiment is invalid — the
    industry convention is to gate on p < 0.05 here and refuse to
    read metrics at all.

    One corpus scan to distinct units per arm (a unit is counted
    once however many events it emits), one k-row aggregate;
    χ² = Σ (o−e)²/e over exact counts with each term the identical
    left-to-right double expression 9dp-rounded into a DECIMAL sum
    (order-free), compared against the A&S df = k−1 critical value
    shared with the oracle.  ``expected`` maps EVERY arm label to
    its weight (weights normalize internally); an observed arm
    missing from ``expected`` is refused loudly — an undeclared arm
    IS a sample-ratio bug, not a default.

    Returns ONE row: (n_units, n_arms, chi2, critical,
    srm_detected) — chi2 6dp; srm_detected compares the 6dp-ROUNDED
    χ² (house convention).  More than 30 arms refuses (the critical
    table is df ≤ 29; a 30-way split is a config error, not an
    experiment).  ZERO observed units refuses too — a gate with no
    data is inconclusive, not clean.
    """
    if not expected or len(expected) < 2:
        raise UserException(
            "srm_check needs >= 2 declared arms with weights"
        )
    if len(expected) > 30:
        raise UserException(
            "srm_check supports <= 30 arms (critical table df <= 29)"
        )
    total_w = float(sum(expected.values()))
    if not total_w > 0:
        raise UserException("srm_check: weights must sum > 0")
    arms = (
        df.filter(
            F.col(unit_col).isNotNull() & F.col(arm_col).isNotNull()
        )
        .select(
            F.col(unit_col).alias("_u"),
            F.col(arm_col).cast("string").alias("_g"),
        )
        .groupBy("_u")
        .agg(F.min("_g").alias("_g"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    arms = arms.localCheckpoint(eager=True)
    # Refuse loudly on ZERO observed units (r12 ADVICE): a trust
    # gate that answers "no mismatch" for an experiment with no data
    # is the opposite of a gate.  limit(1) on the pinned per-arm
    # relation is a bounded metadata-scale action.
    if not arms.limit(1).collect():
        raise UserException(
            "srm_check: no units observed (all rows null or the "
            "input is empty) — the gate is inconclusive, refusing "
            "to report 'no mismatch'"
        )
    # BOUNDED undeclared-arm probe: filtering the pinned per-arm
    # relation against the declared labels and taking a handful of
    # offenders stays O(1) even when the "arm" column is
    # high-cardinality garbage — collecting ALL observed arms would
    # be an unbounded driver fetch on exactly that failure mode
    undeclared = sorted(
        r["_g"]
        for r in arms.filter(
            ~F.col("_g").isin([str(k) for k in expected])
        )
        .select("_g")
        .limit(5)
        .collect()
    )
    if undeclared:
        raise UserException(
            f"srm_check: observed arm(s) {undeclared!r} not in the "
            "declared split — an undeclared arm IS a sample-ratio "
            "bug"
        )
    k = len(expected)
    crit = CHI2_CRIT_5PCT[k - 2]
    # the terms relation is built from the DECLARED split (2..k
    # literal rows) left-joined with the observed counts: an arm
    # that received ZERO units still contributes its full (0−e)²/e
    # term — the most extreme mismatch there is, and exactly the one
    # an observed-arms-only spelling would silently halve
    declared = local_relation(
        df.sparkSession,
        "_g string, _w double",
        list(zip(*[
            (str(a), float(expected[a]) / total_w)
            for a in sorted(expected)
        ])),
    )
    tot = F.broadcast(arms.agg(F.sum("_n").alias("_N")))
    # rename the observed count before joining: `tot` derives from
    # the same pinned relation, and the self-join lineage makes a
    # bare `_n` ambiguous after the crossJoin
    obs = arms.withColumnRenamed("_n", "_obs_n")
    terms = (
        declared.join(obs, "_g", "left")
        .crossJoin(tot)
        .select(
            F.coalesce(F.col("_obs_n"), F.lit(0)).alias("_o"),
            (F.col("_N").cast("double") * F.col("_w")).alias("_e"),
        )
    )
    agg = terms.agg(
        F.sum("_o").alias("n_units"),
        F.count(F.lit(1)).alias("n_arms"),
        exact_sum(
            (F.col("_o").cast("double") - F.col("_e"))
            * (F.col("_o").cast("double") - F.col("_e"))
            / F.col("_e"),
            9,
        ).alias("_chi2"),
    )
    chi2 = F.round(F.col("_chi2").cast("double"), 6)
    return agg.select(
        F.col("n_units").cast("long").alias("n_units"),
        F.col("n_arms").cast("long").alias("n_arms"),
        chi2.alias("chi2"),
        F.lit(crit).alias("critical"),
        F.coalesce(
            (chi2 > F.lit(crit)).cast("int"), F.lit(0)
        ).alias("srm_detected"),
    )


def _erfc_two_sided_p(z):
    """Two-sided normal p-value from a z column via the
    Abramowitz & Stegun 7.1.26 rational approximation of erfc
    (|error| < 1.5e-7 — far below the 9dp round both engines apply):
    p = erfc(|z|/√2) = (Σ aᵢtⁱ)·e^(−x²), t = 1/(1+0.3275911x).
    Pure fixed double arithmetic, the identical left-to-right
    expression on both engines — the portable spelling of Φ that
    needs no erf built-in (Spark has none)."""
    x = F.abs(z) / F.lit(1.4142135623730951)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        F.lit(0.254829592) * t
        + F.lit(-0.284496736) * t * t
        + F.lit(1.421413741) * t * t * t
        + F.lit(-1.453152027) * t * t * t * t
        + F.lit(1.061405429) * t * t * t * t * t
    )
    return poly * F.exp(-x * x)


def ab_grid_fdr(
    df: DataFrame,
    segment_col: str,
    arm_col: str,
    success_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """The metric×segment experiment readout the FDR machinery
    exists for: one two-proportion z-test PER SEGMENT (set-based —
    a groupBy over (segment, arm) cells, never a driver loop over
    segments), two-sided p-values via the A&S erfc approximation,
    and Benjamini–Hochberg correction ACROSS the grid — so 40
    segment readouts at α=0.05 stop yielding two false "winning
    segments" per experiment by construction.

    Shape: one corpus scan to the (segment, arm) cell counts
    (pinned — consumed by the arms probe and the per-segment
    pivot), the per-segment z exactly as
    :func:`two_proportion_ztest` spells it, p = 9dp-rounded erfc of
    the 6dp-rounded z, then :func:`benjamini_hochberg` over the
    metadata-scale (segment, p) relation and a broadcast join back
    onto the per-segment stats.  Segments whose test degenerates
    (one arm empty, pooled rate 0 or 1) carry NULL z/p and take no
    part in the correction — they surface with NULL q/reject
    rather than silently vanishing.

    Returns one row per segment: (segment, n_a, conv_a, rate_a,
    n_b, conv_b, rate_b, z, p_value, p_rank, q_value, reject).
    """
    cells = (
        df.filter(
            F.col(segment_col).isNotNull()
            & F.col(arm_col).isNotNull()
            & F.col(success_col).isNotNull()
        )
        .groupBy(
            F.col(segment_col).cast("string").alias("_seg"),
            F.col(arm_col).cast("string").alias("_g"),
        )
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col(success_col).cast("long")).alias("_s"),
        )
    )
    cells = cells.localCheckpoint(eager=True)
    found = [
        r["_g"]
        for r in cells.select("_g").distinct().limit(3).collect()
    ]
    if len(found) != 2:
        raise UserException(
            f"ab_grid_fdr needs exactly 2 arms, found "
            f"{sorted(found)!r}"
        )
    ga, gb = sorted(found)

    def _pick(g, col):
        return F.max(F.when(F.col("_g") == g, F.col(col)))

    per_seg = cells.groupBy("_seg").agg(
        _pick(ga, "_n").alias("n_a"),
        _pick(ga, "_s").alias("conv_a"),
        _pick(gb, "_n").alias("n_b"),
        _pick(gb, "_s").alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n_a")
            + F.lit(1.0) / F.col("n_b")
        )
    )
    z = F.when(
        F.col("n_a").isNotNull()
        & F.col("n_b").isNotNull()
        & (pooled > 0)
        & (pooled < 1),
        F.round((rb - ra) / se, 6),
    )
    stats = per_seg.select(
        "_seg",
        "n_a",
        "conv_a",
        F.round(ra, 6).alias("rate_a"),
        "n_b",
        "conv_b",
        F.round(rb, 6).alias("rate_b"),
        z.alias("_z"),
        F.round(_erfc_two_sided_p(z), 9).alias("_p"),
    )
    # pinned: consumed by the BH pass AND the join back
    stats = stats.localCheckpoint(eager=True)
    bh = benjamini_hochberg(
        stats.filter(F.col("_p").isNotNull()).select("_seg", "_p"),
        "_seg",
        "_p",
        alpha=alpha,
    ).select(
        F.col("test_id").alias("_seg"),
        "p_value",
        "p_rank",
        "q_value",
        "reject",
    )
    return (
        stats.join(F.broadcast(bh), "_seg", "left")
        .select(
            F.col("_seg").alias("segment"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("conv_a").cast("long").alias("conv_a"),
            "rate_a",
            F.col("n_b").cast("long").alias("n_b"),
            F.col("conv_b").cast("long").alias("conv_b"),
            "rate_b",
            F.col("_z").alias("z"),
            "p_value",
            "p_rank",
            "q_value",
            "reject",
        )
    )


def auc_roc(
    df: DataFrame, label_col: str, score_col: str
) -> DataFrame:
    """ROC AUC of a score against a binary label — the
    threshold-free ranking quality of a classifier or quality
    scorer (does the model score positives above negatives), the
    readout that complements calibration_report's "are the
    probabilities honest" with "is the ORDERING right".  The two
    disagree exactly when a model is miscalibrated but still ranks
    well — the common state of an LLM-based quality filter.

    Computed via the rank (Mann–Whitney) identity
    AUC = U⁺ / (n⁺ · n⁻) with midranks, which IS the trapezoidal
    area under the ROC curve with ties handled exactly — no curve
    materialization, no threshold sweep.  Scale shape: the corpus
    collapses to ONE row per distinct score (tie count + positive
    tie count); midranks ride the same distributed exclusive cumsum
    as mann_whitney_u (features.global_weighted_cumsum — never a
    single-partition window), and 2·R⁺ accumulates as an exact
    long, so AUC is a ratio of exact integers: bit-identical at any
    parallelism.  Degenerate inputs (a single class) return NULL
    auc/gini with the class counts visible — the caller can see WHY.

    Returns ONE row: (n_pos, n_neg, auc 9dp, gini 9dp).
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_weighted_cumsum,
    )

    src = df.filter(
        F.col(label_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        F.col(label_col).cast("int").alias("_y"),
        F.col(score_col).alias("_s"),
    )
    per_value = src.groupBy("_s").agg(
        F.count(F.lit(1)).alias("_t"),
        F.sum(
            # fold the label check into the collapse: a non-0/1
            # label is a caller bug surfaced loudly, not a silent
            # sum contribution (the calibration_report spelling)
            F.when(F.col("_y").isin(0, 1), F.col("_y")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("auc_roc: label must be 0/1, got "),
                        F.col("_y").cast("string"),
                    )
                ).cast("int")
            )
        ).alias("_tp"),
    )
    cum = global_weighted_cumsum(per_value, "_s", "_t")
    # 2·midrank = 2·(#strictly smaller) + t + 1 — integer-exact
    mr2 = F.lit(2) * F.col("_cum") + F.col("_t") + F.lit(1)
    agg = cum.agg(
        F.sum("_t").alias("_N"),
        F.sum("_tp").alias("_np"),
        F.sum(F.col("_tp") * mr2).alias("_r2p"),
    )
    n_pos = F.col("_np")
    n_neg = F.col("_N") - F.col("_np")
    # U⁺ = R⁺ − n⁺(n⁺+1)/2, doubled to stay integer until the final
    # division of exact longs (IEEE-unique on both engines)
    u2 = F.col("_r2p").cast("double") - n_pos.cast(
        "double"
    ) * (n_pos + 1)
    auc = F.when(
        (n_pos > 0) & (n_neg > 0),
        F.round(
            u2
            / (F.lit(2.0) * n_pos.cast("double") * n_neg),
            9,
        ),
    )
    return agg.select(
        n_pos.cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        auc.alias("auc"),
        F.round(F.lit(2.0) * auc - F.lit(1.0), 9).alias("gini"),
    )


def kruskal_wallis(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Kruskal–Wallis H test over k groups — the rank analog of
    anova_oneway for the same "do ANY of these segments differ"
    screen when the metric is heavy-tailed (latency, spend,
    tokens-per-doc) and ANOVA's normality assumption is junk: the
    k-sample generalization of mann_whitney_u.

    Scale shape: ONE corpus scan to the (group, value) tie table
    (pinned — it feeds both the global tie cumsum and the per-group
    rank sums, and an unpinned relation would re-scan the corpus
    for each); midranks ride the distributed exclusive cumsum over
    distinct values; per-group doubled rank sums 2·R_j are exact
    longs (< 2⁵³, so their double image is exact), and
    Σ R_j²/n_j accumulates floored to exact integers — the
    anova_oneway grand-sum rule, order-free where a k-row double
    sum is not.  H carries the standard tie correction
    1 − Σ(t³−t)/(N³−N); significance is the rounded statistic vs
    the A&S chi-square 5% critical value at df = k−1 (shared
    CHI2_CRIT_5PCT table, conservative cap at df 29).

    Returns ONE row: (k_groups, n_rows, h 6dp, significant).
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_weighted_cumsum,
    )

    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    )
    per_gv = src.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).alias("_tg")
    )
    # pinned: consumed by the tie cumsum AND the rank-sum join
    per_gv = per_gv.localCheckpoint(eager=True)
    per_value = per_gv.groupBy("_v").agg(
        F.sum("_tg").alias("_t")
    )
    cum = global_weighted_cumsum(per_value, "_v", "_t")
    mr2 = F.lit(2) * F.col("_cum") + F.col("_t") + F.lit(1)
    totals = cum.agg(
        F.sum("_t").alias("_N"),
        exact_sum(
            quantize("_t", 0) * F.col("_t") * F.col("_t") - F.col("_t"), 0
        ).alias("_ties"),
    )
    group_sums = (
        per_gv.join(
            cum.select("_v", mr2.alias("_mr2")), "_v"
        )
        .groupBy("_g")
        .agg(
            F.sum("_tg").alias("_n"),
            F.sum(F.col("_tg") * F.col("_mr2")).alias("_r2"),
        )
    )
    # Σ R_j²/n_j = Σ (2R_j)²/(4n_j): 2R_j exact as double (< 2⁵³),
    # each term floored into an exact integer sum (order-free; the
    # sub-unit truncation is invisible against rank-sum magnitudes)
    agg = group_sums.agg(
        F.count(F.lit(1)).alias("_k"),
        exact_sum(
            F.floor(
                F.col("_r2").cast("double")
                * F.col("_r2").cast("double")
                / (F.lit(4.0) * F.col("_n"))
            ),
            0,
        ).alias("_sg"),
    ).crossJoin(F.broadcast(totals))
    n = F.col("_N").cast("double")
    h_raw = (
        F.lit(12.0)
        / (n * (n + 1))
        * F.col("_sg").cast("double")
        - F.lit(3.0) * (n + 1)
    )
    corr = F.lit(1.0) - F.col("_ties").cast("double") / (
        n * n * n - n
    )
    ok = (
        (F.col("_k") >= 2)
        & (F.col("_N") > F.col("_k"))
        & (corr > 0)
    )
    h = F.when(ok, F.round(h_raw / corr, 6))
    crit = F.element_at(
        F.array(*[F.lit(v) for v in CHI2_CRIT_5PCT]),
        F.least(
            F.col("_k") - 1, F.lit(len(CHI2_CRIT_5PCT))
        ).cast("int"),
    )
    return agg.select(
        F.col("_k").cast("long").alias("k_groups"),
        F.col("_N").cast("long").alias("n_rows"),
        h.alias("h"),
        F.coalesce(
            (h > crit).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def _stratified_2x2(
    df: DataFrame,
    stratum_col: str,
    arm_col: str,
    success_col: str,
    caller: str,
):
    """Shared staging for the stratified 2×2 family (Mantel–Haenszel,
    Breslow–Day): ONE corpus scan to the pinned per-(stratum, arm)
    count table (non-0/1 success refused executor-side inside the
    pass), arms validated from the pin, folded to the |strata|-row
    (a, b, c, d) relation oriented a/b = arm_a.  Returns
    (arm_a, arm_b, t22)."""
    src = df.filter(
        F.col(stratum_col).isNotNull()
        & F.col(arm_col).isNotNull()
        & F.col(success_col).isNotNull()
    ).select(
        F.col(stratum_col).cast("string").alias("_st"),
        F.col(arm_col).cast("string").alias("_g"),
        F.col(success_col).cast("int").alias("_y"),
    )
    per_sa = src.groupBy("_st", "_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(
            F.when(F.col("_y").isin(0, 1), F.col("_y")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"{caller}: success must be 0/1, got "),
                        F.col("_y").cast("string"),
                    )
                ).cast("int")
            )
        ).alias("_s"),
    )
    per_sa = per_sa.localCheckpoint(eager=True)
    arms = [
        r["_g"]
        for r in per_sa.select("_g").distinct().limit(3).collect()
    ]
    if len(arms) != 2:
        raise UserException(
            f"{caller} needs exactly 2 arms, got {sorted(arms)!r}"
        )
    arm_a, arm_b = sorted(arms)
    is_a = F.col("_g") == F.lit(arm_a)
    t22 = per_sa.groupBy("_st").agg(
        F.sum(F.when(is_a, F.col("_s")).otherwise(0)).alias("a"),
        F.sum(
            F.when(is_a, F.col("_n") - F.col("_s")).otherwise(0)
        ).alias("b"),
        F.sum(F.when(~is_a, F.col("_s")).otherwise(0)).alias("c"),
        F.sum(
            F.when(~is_a, F.col("_n") - F.col("_s")).otherwise(0)
        ).alias("d"),
    )
    return arm_a, arm_b, t22


def mantel_haenszel(
    df: DataFrame,
    stratum_col: str,
    arm_col: str,
    success_col: str,
) -> DataFrame:
    """Mantel–Haenszel stratified 2×2 readout — the common odds
    ratio across segments and the CMH test of association, the
    classic guard against Simpson's paradox: when traffic is
    unevenly split across segments (country, device, cohort), the
    POOLED conversion table can show the opposite effect of every
    segment; MH combines the per-segment tables with
    precision-proportional weights instead of pooling.  Pairs with
    :func:`ab_grid_fdr` (which answers "which segments moved") by
    answering "what is the one overall effect, segment-adjusted".

    Scale shape: ONE corpus scan to the per-(stratum, arm) count
    table, pivoted to the |strata|-row (a, b, c, d) relation
    (pinned — it feeds the arm validation and the folds); every MH
    term (R, S, P·R, …, the CMH E/V) is a fixed double expression
    over exact longs rounded 9dp into DECIMAL sums, so the
    statistic is order-free and engine-portable.  Exactly two arms
    refused loudly otherwise; strata where an arm is absent (n=0
    rows) contribute 0 to every sum — the standard MH convention.
    The ln-OR variance is Robins–Breslow–Greenland; the CMH χ²
    carries no continuity correction (documented; both engines
    agree by construction).

    Returns ONE row: (arm_a, arm_b, n_strata, n_rows, or_mh 6dp,
    ci_lo 6dp, ci_hi 6dp, cmh_chi2 6dp, significant) — OR oriented
    as arm_a's success odds over arm_b's; NULL OR/CI when a
    marginal degenerates (no successes or no failures anywhere).
    """
    arm_a, arm_b, t22 = _stratified_2x2(
        df, stratum_col, arm_col, success_col, "mantel_haenszel"
    )
    n = (
        F.col("a") + F.col("b") + F.col("c") + F.col("d")
    ).cast("double")
    a, b, c, d = (F.col(x).cast("double") for x in "abcd")

    r_i = a * d / n
    s_i = b * c / n
    p_i = (a + d) / n
    q_i = (b + c) / n
    e_i = (a + b) * (a + c) / n
    v_i = F.when(
        n > 1,
        (a + b)
        * (c + d)
        * (a + c)
        * (b + d)
        / (n * n * (n - 1)),
    ).otherwise(F.lit(0.0))
    agg = t22.filter(n > 0).agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum(F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias(
            "_N"
        ),
        F.sum("a").alias("_oa"),
        exact_sum(r_i, 9).alias("_R"),
        exact_sum(s_i, 9).alias("_S"),
        exact_sum(p_i * r_i, 9).alias("_PR"),
        exact_sum(p_i * s_i + q_i * r_i, 9).alias("_PSQR"),
        exact_sum(q_i * s_i, 9).alias("_QS"),
        exact_sum(e_i, 9).alias("_E"),
        exact_sum(v_i, 9).alias("_V"),
    )
    R = F.col("_R").cast("double")
    S = F.col("_S").cast("double")
    ok = (R > 0) & (S > 0)
    or_mh = R / S
    # Robins–Breslow–Greenland variance of ln(OR_MH); ln and se are
    # 9dp-rounded BEFORE the exp recombination (ln is the one libm
    # call whose last ulp differs between engines — the km/Cox rule)
    se = F.round(
        F.sqrt(
            F.col("_PR").cast("double") / (F.lit(2.0) * R * R)
            + F.col("_PSQR").cast("double") / (F.lit(2.0) * R * S)
            + F.col("_QS").cast("double") / (F.lit(2.0) * S * S)
        ),
        9,
    )
    ln_or = F.round(F.log(or_mh), 9)
    ci_lo = F.exp(ln_or - F.lit(Z_CRIT_5PCT) * se)
    ci_hi = F.exp(ln_or + F.lit(Z_CRIT_5PCT) * se)
    vv = F.col("_V").cast("double")
    chi2 = F.when(
        vv > 0,
        F.round(
            (F.col("_oa").cast("double") - F.col("_E").cast("double"))
            * (
                F.col("_oa").cast("double")
                - F.col("_E").cast("double")
            )
            / vv,
            6,
        ),
    )
    return agg.select(
        F.lit(arm_a).alias("arm_a"),
        F.lit(arm_b).alias("arm_b"),
        F.col("_k").cast("long").alias("n_strata"),
        F.col("_N").cast("long").alias("n_rows"),
        F.when(ok, F.round(or_mh, 6)).alias("or_mh"),
        F.when(ok, F.round(ci_lo, 6)).alias("ci_lo"),
        F.when(ok, F.round(ci_hi, 6)).alias("ci_hi"),
        chi2.alias("cmh_chi2"),
        F.coalesce(
            (chi2 > F.lit(3.841)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def jonckheere_terpstra(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_order: list,
) -> DataFrame:
    """Jonckheere–Terpstra trend test — "does the metric INCREASE
    across these ordered groups", the k-sample rank test that uses
    the ordering kruskal_wallis throws away (dose tiers, price
    bands, model-size ladders: when the alternative is monotone, JT
    has the power KW leaves on the table).  Completes the rank
    family: mann_whitney_u (k = 2), kruskal_wallis (unordered k),
    cochran_armitage (binary outcome trend), JT (continuous outcome
    trend).

    ``group_order`` DECLARES the hypothesized order (the srm_check
    posture — the ordering is the hypothesis, not a data property);
    an observed group missing from it refuses at action time inside
    the one counting pass.

    J = Σ_{i<j} U_ij counts cross-group pairs ordered the declared
    way (ties half-weighted).  Scale shape: ONE corpus scan to the
    pinned (group, value) tie table, expanded onto the
    groups × distinct-values grid (the survival-grid trick — a
    group's running count must be readable at every OTHER group's
    values); 2J folds as Σ t·(2A + B) over two nested exclusive
    window sums, BOTH partitioned (by group over values, then by
    value over groups — never an unpartitioned corpus window; the
    value axis should be discrete or pre-bucketed, the same
    contract as the mann_whitney fixture).  The null moments use
    the Hollander–Wolfe tie-corrected variance with every Σ kept
    an exact integer (the anova scale-0 rule).

    Returns ONE row: (k_groups, n_rows, j_stat, e_j, z 6dp,
    significant) — z NULL when the variance degenerates.
    """
    order = [str(g) for g in group_order]
    if len(order) != len(set(order)) or len(order) < 2:
        raise UserException(
            "jonckheere_terpstra: group_order must hold >= 2 "
            f"distinct labels, got {order!r}"
        )
    pos = F.array_position(
        F.array(*[F.lit(g) for g in order]),
        F.col("_g"),
    )
    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    )
    per_gv = src.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).alias("_t")
    ).select(
        # the otherwise IS the refusal (the vocab_js rule): a group
        # outside the declared order fires executor-side here
        F.when(pos > 0, pos).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "jonckheere_terpstra: group outside the "
                        "declared order: "
                    ),
                    F.col("_g"),
                )
            ).cast("long")
        ).alias("_gi"),
        "_v",
        "_t",
    )
    per_gv = per_gv.localCheckpoint(eager=True)
    # full grid: every distinct value × every declared group index,
    # so each group's running count is readable at every value
    grid = (
        per_gv.select("_v")
        .distinct()
        .crossJoin(
            F.broadcast(
                local_relation(
                    per_gv.sparkSession, "_gi long",
                    [range(1, len(order) + 1)],
                )
            )
        )
        .join(per_gv, ["_gi", "_v"], "left")
        .select(
            "_gi", "_v", F.coalesce("_t", F.lit(0)).alias("_t")
        )
    )
    w_vals = (
        Window.partitionBy("_gi")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = grid.select(
        "_gi",
        "_v",
        "_t",
        F.coalesce(F.sum("_t").over(w_vals), F.lit(0)).alias(
            "_cumlt"
        ),
    )
    w_grps = (
        Window.partitionBy("_v")
        .orderBy("_gi")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cells = staged.select(
        "_v",
        "_t",
        F.coalesce(F.sum("_cumlt").over(w_grps), F.lit(0)).alias(
            "_A"
        ),
        F.coalesce(F.sum("_t").over(w_grps), F.lit(0)).alias("_B"),
    )
    # 2J = Σ t·(2A + B): A = earlier-group strictly-smaller counts,
    # B = earlier-group same-value counts (half-weighted ties).
    # The per-cell product is exact — t and A are both O(N), so a
    # long product would overflow around N ≈ 2³¹
    j2 = cells.agg(
        exact_sum_product(
            "_t", F.lit(2) * F.col("_A") + F.col("_B"), 0
        ).alias("_j2")
    )
    n_c = F.col("_n")
    grp = per_gv.groupBy("_gi").agg(F.sum("_t").alias("_n")).agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum("_n").alias("_N"),
        exact_sum_product(n_c, n_c, 0).alias("_n2"),
        exact_sum(quantize(n_c, 0) * (n_c - 1) * (2 * n_c + 5), 0).alias("_na"),
        exact_sum(quantize(n_c, 0) * (n_c - 1) * (n_c - 2), 0).alias("_nb"),
        exact_sum_product(n_c, n_c - 1, 0).alias("_nc"),
    )
    t_c = F.col("_t2")
    ties = per_gv.groupBy("_v").agg(F.sum("_t").alias("_t2")).agg(
        exact_sum(quantize(t_c, 0) * (t_c - 1) * (2 * t_c + 5), 0).alias("_ta"),
        exact_sum(quantize(t_c, 0) * (t_c - 1) * (t_c - 2), 0).alias("_tb"),
        exact_sum_product(t_c, t_c - 1, 0).alias("_tc"),
    )
    agg = j2.crossJoin(F.broadcast(grp)).crossJoin(
        F.broadcast(ties)
    )
    n = F.col("_N").cast("double")
    j = F.col("_j2").cast("double") / F.lit(2.0)
    e_j = (n * n - F.col("_n2").cast("double")) / F.lit(4.0)
    term1 = (
        n * (n - 1) * (2 * n + 5)
        - F.col("_na").cast("double")
        - F.col("_ta").cast("double")
    ) / F.lit(72.0)
    term2 = F.when(
        F.col("_N") > 2,
        F.col("_nb").cast("double")
        * F.col("_tb").cast("double")
        / (F.lit(36.0) * n * (n - 1) * (n - 2)),
    ).otherwise(F.lit(0.0))
    term3 = F.when(
        F.col("_N") > 1,
        F.col("_nc").cast("double")
        * F.col("_tc").cast("double")
        / (F.lit(8.0) * n * (n - 1)),
    ).otherwise(F.lit(0.0))
    var = term1 + term2 + term3
    z = F.when(var > 0, F.round((j - e_j) / F.sqrt(var), 6))
    return agg.select(
        F.col("_k").cast("long").alias("k_groups"),
        F.col("_N").cast("long").alias("n_rows"),
        j.alias("j_stat"),
        e_j.alias("e_j"),
        z.alias("z"),
        F.coalesce(
            (F.abs(z) > F.lit(Z_CRIT_5PCT)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def fisher_exact(
    df: DataFrame,
    arm_col: str,
    success_col: str,
    max_support: int = 10_000_000,
) -> DataFrame:
    """Fisher's exact test on the two-arm × binary-outcome table —
    the small-count companion to :func:`two_proportion_ztest` /
    chi²: when the outcome is RARE (fraud flags, crash events, a
    guardrail metric), the normal approximation's assumptions fail
    exactly where the decision matters, and the conditional
    hypergeometric distribution is the honest answer.  Two-sided
    p by the standard "sum every table as-or-more-extreme"
    criterion (pmf(k) ≤ pmf(observed)·(1+1e−7), the convention
    scipy documents); one-sided tails alongside.

    Scale shape: ONE corpus scan collapses to the 2×2 (a bounded
    4-int collect — the sanctioned class); the hypergeometric
    support has at most min(margin) + 1 tables, which for a rare
    outcome stays small NO MATTER how large N is — and the support
    grid is a distributed ``spark.range``, its log-pmf built
    RECURSIVELY from exact integer ratios (no lgamma needed:
    pmf(k)/pmf(k−1) is rational), each ln rounded to integer
    NANOS so the running log-weights are exact-integer prefix sums
    through the range-partitioned cumsum machinery — the
    extremeness criterion is an INTEGER comparison, engine-exact.
    Only the final normalized weights touch exp (12dp-rounded into
    DECIMAL sums).  A support wider than ``max_support`` refuses
    loudly: at that size the χ²/z approximations are exact to more
    digits than anyone reads, and the caller should use them.

    Returns ONE row: (arm_a, arm_b, a, b, c, d, odds_ratio 6dp,
    p_two 9dp, p_less 9dp, p_greater 9dp, significant) — a/b =
    arm_a successes/failures, c/d = arm_b's; odds_ratio NULL when
    b·c = 0.
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_weighted_cumsum,
    )

    spark = df.sparkSession
    counts = (
        df.filter(
            F.col(arm_col).isNotNull()
            & F.col(success_col).isNotNull()
        )
        .groupBy(F.col(arm_col).cast("string").alias("_g"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.when(
                    F.col(success_col).cast("int").isin(0, 1),
                    F.col(success_col).cast("int"),
                ).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "fisher_exact: success must be "
                                "0/1, got "
                            ),
                            F.col(success_col).cast("string"),
                        )
                    ).cast("int")
                )
            ).alias("_s"),
        )
        .collect()
    )
    if len(counts) != 2:
        raise UserException(
            f"fisher_exact needs exactly 2 arms, got "
            f"{sorted(r['_g'] for r in counts)!r}"
        )
    counts = sorted(counts, key=lambda r: r["_g"])
    arm_a, arm_b = counts[0]["_g"], counts[1]["_g"]
    a = int(counts[0]["_s"])
    b = int(counts[0]["_n"]) - a
    c = int(counts[1]["_s"])
    d = int(counts[1]["_n"]) - c
    r1, r2, c1 = a + b, c + d, a + c
    lo, hi = max(0, c1 - r2), min(r1, c1)
    if hi - lo > max_support:
        raise UserException(
            f"fisher_exact: hypergeometric support {hi - lo + 1} "
            f"exceeds {max_support} — at this size the chi2/z "
            "approximations are exact; use two_proportion_ztest"
        )
    grid = spark.range(lo, hi + 1).select(
        F.col("id").alias("_k"),
        # ln(pmf(k)/pmf(k−1)) from the exact integer ratio, scaled
        # to integer nanos (0 at the support's first table)
        F.when(F.col("id") == lo, F.lit(0)).otherwise(
            F.round(
                F.log(
                    (
                        (F.lit(r1) - F.col("id") + 1)
                        * (F.lit(c1) - F.col("id") + 1)
                    ).cast("double")
                    / (
                        F.col("id")
                        * (F.lit(r2 - c1) + F.col("id"))
                    )
                )
                * F.lit(1000000000.0),
                0,
            )
        ).cast("long").alias("_w"),
    )
    cum = global_weighted_cumsum(grid, "_k", "_w")
    rel = cum.select(
        "_k", (F.col("_cum") + F.col("_w")).alias("_ln")
    )
    anchors = rel.agg(
        F.max("_ln").alias("_mx"),
        F.max(F.when(F.col("_k") == a, F.col("_ln"))).alias(
            "_la"
        ),
    )
    staged = rel.crossJoin(F.broadcast(anchors)).select(
        "_k",
        "_ln",
        "_la",
        quantize(
            F.exp(
                (F.col("_ln") - F.col("_mx")).cast("double")
                / F.lit(1000000000.0)
            ),
            12,
        ).alias("_wt"),
    )
    # extremeness in integer nanos: 100 ≈ ln(1 + 1e−7)·1e9
    sel = F.col("_ln") <= F.col("_la") + F.lit(100)
    agg = staged.agg(
        F.sum("_wt").alias("_tot"),
        F.sum(F.when(sel, F.col("_wt"))).alias("_ext"),
        F.sum(
            F.when(F.col("_k") <= a, F.col("_wt"))
        ).alias("_le"),
        F.sum(
            F.when(F.col("_k") >= a, F.col("_wt"))
        ).alias("_ge"),
    )
    tot = F.col("_tot").cast("double")
    p_two = F.round(F.col("_ext").cast("double") / tot, 9)
    odds = F.when(
        F.lit(b * c) > 0,
        F.round(F.lit(float(a * d)) / F.lit(float(b * c)), 6),
    )
    return agg.select(
        F.lit(arm_a).alias("arm_a"),
        F.lit(arm_b).alias("arm_b"),
        F.lit(a).cast("long").alias("a"),
        F.lit(b).cast("long").alias("b"),
        F.lit(c).cast("long").alias("c"),
        F.lit(d).cast("long").alias("d"),
        odds.alias("odds_ratio"),
        p_two.alias("p_two"),
        F.round(F.col("_le").cast("double") / tot, 9).alias(
            "p_less"
        ),
        F.round(F.col("_ge").cast("double") / tot, 9).alias(
            "p_greater"
        ),
        (p_two < F.lit(0.05)).cast("int").alias("significant"),
    )


def pr_auc(
    df: DataFrame, label_col: str, score_col: str
) -> DataFrame:
    """Precision-recall AUC (average precision, the step-function
    convention sklearn's ``average_precision_score`` computes) —
    the ranking metric that matters when positives are RARE:
    ROC AUC stays near 1 on a 0.1%-positive corpus however many
    false positives flood the top of the ranking, because FPR's
    denominator is the huge negative class; precision sees exactly
    that flood.  The pair (auc_roc, pr_auc) is the standard readout
    for an LLM quality/safety classifier on imbalanced data.

    AP = Σ_blocks (ΔRecall)·Precision over distinct-score blocks in
    DESCENDING score order (a tie block is ONE step — the sklearn
    tie convention).  Scale shape: the corpus collapses to one row
    per distinct score (tie count + positive tie count); the
    descending cumulative TP/predicted counts ride the distributed
    exclusive cumsum (on the negated score — never a
    single-partition window); each block term
    tp_i · TP_i / PRED_i is a division of exact longs rounded 9dp
    into a DECIMAL sum, normalized once by the positive count.
    Non-0/1 labels refuse at action time inside the one collapse
    pass; a corpus with no positives returns NULL with the counts
    visible.

    Returns ONE row: (n_pos, n_neg, pr_auc 9dp, prevalence 9dp) —
    prevalence = P/N, the no-skill baseline AP.
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_weighted_cumsum,
    )

    src = df.filter(
        F.col(label_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        F.col(label_col).cast("int").alias("_y"),
        F.col(score_col).cast("double").alias("_s"),
    )
    per_value = src.groupBy("_s").agg(
        F.count(F.lit(1)).alias("_t"),
        F.sum(
            F.when(F.col("_y").isin(0, 1), F.col("_y")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("pr_auc: label must be 0/1, got "),
                        F.col("_y").cast("string"),
                    )
                ).cast("int")
            )
        ).alias("_tp"),
    ).select(
        (-F.col("_s")).alias("_ns"), "_t", "_tp"
    )
    cum = global_weighted_cumsum(per_value, "_ns", "_t")
    # a second cumsum for the positive counts would re-shuffle; the
    # tp prefix lifts off the SAME pinned relation via the identical
    # per-partition offset trick — but the helper is weight-generic,
    # so simply run it on the pinned output with the tp weight (the
    # input is already range-partitioned and checkpointed; the
    # second pass is metadata-scale)
    cum = global_weighted_cumsum(
        cum.withColumnRenamed("_cum", "_cumt"), "_ns", "_tp"
    ).withColumnRenamed("_cum", "_cumtp")
    tp_i = F.col("_cumtp") + F.col("_tp")
    pred_i = F.col("_cumt") + F.col("_t")
    term = quantize(F.col("_tp").cast("double") * tp_i / pred_i, 9)
    agg = cum.agg(
        F.sum("_t").alias("_N"),
        F.sum("_tp").alias("_P"),
        F.sum(term).alias("_ap"),
    )
    p_cnt = F.col("_P")
    ap = F.when(
        p_cnt > 0,
        F.round(
            F.col("_ap").cast("double") / p_cnt, 9
        ),
    )
    prev = F.when(
        F.col("_N") > 0,
        F.round(
            p_cnt.cast("double") / F.col("_N"), 9
        ),
    )
    return agg.select(
        p_cnt.cast("long").alias("n_pos"),
        (F.col("_N") - p_cnt).cast("long").alias("n_neg"),
        ap.alias("pr_auc"),
        prev.alias("prevalence"),
    )


def binom_exact_test(
    df: DataFrame,
    success_col: str,
    p0: float,
    max_support: int = 10_000_000,
) -> DataFrame:
    """Exact binomial test of an observed success count against a
    DECLARED rate p₀ — the one-arm guardrail readout ("is the crash
    rate above the 0.1% SLO", "is the judge's win rate really
    50/50"), exact where the normal approximation is shakiest:
    small n or p₀ near the edges.  The two-sample Poisson-rate
    comparison reduces to this test (condition on the total:
    k₁ ~ Binomial(k₁+k₂, t₁/(t₁+t₂))), so it doubles as the exact
    event-RATE comparison.

    Same machinery as :func:`fisher_exact`: ONE corpus scan
    collapses to (n, k); the support 0..n rides a distributed
    range with ln pmf built recursively from the exact ratio
    pmf(k)/pmf(k−1) = (n−k+1)/k · p₀/(1−p₀) in integer NANOS
    (exact-integer prefix sums; the two-sided "as-or-more-extreme"
    criterion is an integer comparison), only the final normalized
    weights touch exp.  p₀ must be strictly inside (0, 1); a
    support wider than ``max_support`` refuses toward the z-test.

    Returns ONE row: (n, k, p0, observed_rate 9dp, p_two 9dp,
    p_less 9dp, p_greater 9dp, significant).
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_weighted_cumsum,
    )

    if not (0.0 < p0 < 1.0):
        raise UserException(
            f"binom_exact_test: p0 must be inside (0, 1), got {p0}"
        )
    spark = df.sparkSession
    row = (
        df.filter(F.col(success_col).isNotNull())
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.when(
                    F.col(success_col).cast("int").isin(0, 1),
                    F.col(success_col).cast("int"),
                ).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "binom_exact_test: success must "
                                "be 0/1, got "
                            ),
                            F.col(success_col).cast("string"),
                        )
                    ).cast("int")
                )
            ).alias("_k"),
        )
        .collect()[0]
    )
    n, k = int(row["_n"] or 0), int(row["_k"] or 0)
    if n == 0:
        raise UserException(
            "binom_exact_test: no rows — test inconclusive"
        )
    if n > max_support:
        raise UserException(
            f"binom_exact_test: support {n + 1} exceeds "
            f"{max_support} — use two_proportion_ztest / a normal "
            "interval at this size"
        )
    return _binom_exact_tails(spark, n, k, p0)


def _binom_exact_tails(spark, n: int, k: int, p0: float):
    """Shared exact-binomial tail machinery (binom_exact_test,
    mcnemar_test): the distributed nano-ln support grid and the
    (n, k, p0, observed_rate, p_two, p_less, p_greater,
    significant) readout for ALREADY-collected (n, k)."""
    from component_delta_lake_writer_spark.operators.features import (
        global_weighted_cumsum,
    )

    odds = p0 / (1.0 - p0)
    grid = spark.range(0, n + 1).select(
        F.col("id").alias("_k"),
        F.when(F.col("id") == 0, F.lit(0)).otherwise(
            F.round(
                F.log(
                    (F.lit(n) - F.col("id") + 1).cast("double")
                    * F.lit(odds)
                    / F.col("id")
                )
                * F.lit(1000000000.0),
                0,
            )
        ).cast("long").alias("_w"),
    )
    cum = global_weighted_cumsum(grid, "_k", "_w")
    rel = cum.select(
        "_k", (F.col("_cum") + F.col("_w")).alias("_ln")
    )
    anchors = rel.agg(
        F.max("_ln").alias("_mx"),
        F.max(F.when(F.col("_k") == k, F.col("_ln"))).alias(
            "_lk"
        ),
    )
    staged = rel.crossJoin(F.broadcast(anchors)).select(
        "_k",
        "_ln",
        "_lk",
        quantize(
            F.exp(
                (F.col("_ln") - F.col("_mx")).cast("double")
                / F.lit(1000000000.0)
            ),
            12,
        ).alias("_wt"),
    )
    sel = F.col("_ln") <= F.col("_lk") + F.lit(100)
    agg = staged.agg(
        F.sum("_wt").alias("_tot"),
        F.sum(F.when(sel, F.col("_wt"))).alias("_ext"),
        F.sum(
            F.when(F.col("_k") <= k, F.col("_wt"))
        ).alias("_le"),
        F.sum(
            F.when(F.col("_k") >= k, F.col("_wt"))
        ).alias("_ge"),
    )
    tot = F.col("_tot").cast("double")
    p_two = F.round(F.col("_ext").cast("double") / tot, 9)
    return agg.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(k).cast("long").alias("k"),
        F.lit(float(p0)).alias("p0"),
        F.round(F.lit(float(k)) / F.lit(float(n)), 9).alias(
            "observed_rate"
        ),
        p_two.alias("p_two"),
        F.round(F.col("_le").cast("double") / tot, 9).alias(
            "p_less"
        ),
        F.round(F.col("_ge").cast("double") / tot, 9).alias(
            "p_greater"
        ),
        (p_two < F.lit(0.05)).cast("int").alias("significant"),
    )


def breslow_day(
    df: DataFrame,
    stratum_col: str,
    arm_col: str,
    success_col: str,
    tarone: bool = True,
) -> DataFrame:
    """Breslow–Day homogeneity test (with Tarone's correction by
    default) — the check that must pass BEFORE anyone quotes
    :func:`mantel_haenszel`'s common odds ratio: MH assumes the
    per-stratum ORs are one number, and when the effect genuinely
    DIFFERS by segment (the interesting finding!) the pooled OR is
    an average of things that shouldn't be averaged.  BD tests
    exactly that assumption; a significant BD means "report
    per-segment effects (ab_grid_fdr), don't pool".

    Same one-scan staging as MH (shared :func:`_stratified_2x2`
    pin).  Under the common OR ψ̂ = ΣR/ΣS, each stratum's expected
    arm-a success count ã solves the quadratic
    (ψ̂−1)ã² − [ψ̂(r₁+c₁) + (n−r₁−c₁)]ã + ψ̂r₁c₁ = 0 (the root
    inside the support; the ψ̂ = 1 degenerate takes the exact
    linear branch — both engines branch on the identical
    decimal-derived ψ̂), with asymptotic variance
    1/(1/ã + 1/(r₁−ã) + 1/(c₁−ã) + 1/(n−r₁−c₁+ã)).
    χ²_BD = Σ(a−ã)²/Ṽ − [Tarone] (Σ(a−ã))²/ΣṼ, df = k−1.  Every
    per-stratum term is a fixed double expression rounded 9dp into
    DECIMAL sums; the ψ̂ inputs are the SAME 9dp-rounded R/S sums
    MH uses, so the two operators quote literally the same ψ̂.

    Returns ONE row: (arm_a, arm_b, n_strata, or_mh 6dp, chi2 6dp,
    df, significant) — chi2 NULL when no stratum has an informative
    table (k_informative = 0 → df ≤ 0).
    """
    arm_a, arm_b, t22 = _stratified_2x2(
        df, stratum_col, arm_col, success_col, "breslow_day"
    )
    n = (
        F.col("a") + F.col("b") + F.col("c") + F.col("d")
    ).cast("double")
    a, b, c, d = (F.col(x).cast("double") for x in "abcd")

    # ψ̂ from the same 9dp-rounded MH sums
    psi_agg = t22.filter(n > 0).agg(
        exact_sum(a * d / n, 9).alias("_R"),
        exact_sum(b * c / n, 9).alias("_S"),
    )
    psi = (
        F.col("_R").cast("double") / F.col("_S").cast("double")
    )
    staged = t22.crossJoin(F.broadcast(psi_agg)).filter(n > 0)
    r1 = a + b
    c1 = a + c
    # informative stratum: both margins non-degenerate (otherwise
    # ã = a exactly and the stratum contributes nothing)
    informative = (
        (r1 > 0) & (c1 > 0) & (r1 < n) & (c1 < n)
    ) & (F.col("_S") > 0) & (F.col("_R") > 0)
    tt = psi * (r1 + c1) + (n - r1 - c1)
    disc = tt * tt - F.lit(4.0) * (psi - 1) * psi * r1 * c1
    a_quad = (tt - F.sqrt(F.greatest(disc, F.lit(0.0)))) / (
        F.lit(2.0) * (psi - 1)
    )
    a_lin = psi * r1 * c1 / tt
    a_fit = F.when(
        F.abs(psi - 1) < F.lit(1e-12), a_lin
    ).otherwise(a_quad)
    v_inv = (
        F.lit(1.0) / a_fit
        + F.lit(1.0) / (r1 - a_fit)
        + F.lit(1.0) / (c1 - a_fit)
        + F.lit(1.0) / (n - r1 - c1 + a_fit)
    )
    v_fit = F.lit(1.0) / v_inv
    agg = staged.agg(
        F.count(F.lit(1)).alias("_kall"),
        F.sum(F.when(informative, 1).otherwise(0)).alias("_k"),
        F.sum(
            F.when(
                informative,
                quantize((a - a_fit) * (a - a_fit) / v_fit, 9),
            )
        ).alias("_chi"),
        exact_sum(F.when(informative, a - a_fit), 9).alias("_dev"),
        exact_sum(F.when(informative, v_fit), 9).alias("_vs"),
        F.min(F.col("_R").cast("double")).alias("_Rd"),
        F.min(F.col("_S").cast("double")).alias("_Sd"),
    )
    chi_raw = F.col("_chi").cast("double")
    if tarone:
        chi_raw = chi_raw - F.when(
            F.col("_vs").cast("double") > 0,
            F.col("_dev").cast("double")
            * F.col("_dev").cast("double")
            / F.col("_vs").cast("double"),
        ).otherwise(F.lit(0.0))
    dof = F.col("_k") - 1
    ok = dof >= 1
    chi2 = F.when(ok, F.round(chi_raw, 6))
    crit = F.element_at(
        F.array(*[F.lit(v) for v in CHI2_CRIT_5PCT]),
        F.greatest(
            F.least(dof, F.lit(len(CHI2_CRIT_5PCT))), F.lit(1)
        ).cast("int"),
    )
    return agg.select(
        F.lit(arm_a).alias("arm_a"),
        F.lit(arm_b).alias("arm_b"),
        F.col("_kall").cast("long").alias("n_strata"),
        F.when(
            (F.col("_Sd") > 0) & (F.col("_Rd") > 0),
            F.round(F.col("_Rd") / F.col("_Sd"), 6),
        ).alias("or_mh"),
        chi2.alias("chi2"),
        F.greatest(dof, F.lit(0)).cast("long").alias("df"),
        F.coalesce(
            (chi2 > crit).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def mcnemar_test(
    df: DataFrame,
    first_col: str,
    second_col: str,
    max_support: int = 10_000_000,
) -> DataFrame:
    """McNemar's exact test on PAIRED binary outcomes — the readout
    for "model B vs model A judged on the SAME items" (two judges
    over one eval set, before/after a fine-tune on one benchmark,
    two retrieval systems on one query log).  Unpaired tests throw
    away the pairing and with it most of the power; McNemar
    conditions on the CONCORDANT pairs (which carry no information
    about the difference) and asks whether the discordant pairs
    split 50/50 — i.e. an exact Binomial(n₀₁+n₁₀, ½) test on one
    discordant count, riding the shared
    :func:`_binom_exact_tails` machinery (integer-nano recursive
    ln-pmf over a distributed support, integer extremeness
    criterion).

    ONE corpus scan to the four pair counts (bounded collect);
    non-0/1 outcomes refuse executor-side inside that pass.  Zero
    discordant pairs is the degenerate "the two systems never
    disagree": p = 1 by convention, flagged via n_discordant = 0.

    Returns ONE row: (n_pairs, n_both, n_neither, n_first_only,
    n_second_only, p_two 9dp, significant).
    """

    def bit(col_name: str) -> "F.Column":
        col = F.col(col_name).cast("int")
        return F.when(col.isin(0, 1), col).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "mcnemar_test: outcomes must be 0/1, got "
                    ),
                    col.cast("string"),
                )
            ).cast("int")
        )

    spark = df.sparkSession
    row = (
        df.filter(
            F.col(first_col).isNotNull()
            & F.col(second_col).isNotNull()
        )
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(bit(first_col) * bit(second_col)).alias("_b11"),
            F.sum(
                bit(first_col) * (1 - bit(second_col))
            ).alias("_b10"),
            F.sum(
                (1 - bit(first_col)) * bit(second_col)
            ).alias("_b01"),
        )
        .collect()[0]
    )
    n_pairs = int(row["_n"] or 0)
    b11 = int(row["_b11"] or 0)
    b10 = int(row["_b10"] or 0)
    b01 = int(row["_b01"] or 0)
    b00 = n_pairs - b11 - b10 - b01
    m = b10 + b01
    if m > max_support:
        raise UserException(
            f"mcnemar_test: {m} discordant pairs exceed "
            f"{max_support} — use the chi-square form at this size"
        )
    if m == 0:
        out = spark.range(1).select(
            F.lit(1.0).alias("p_two"),
        )
    else:
        out = _binom_exact_tails(spark, m, b10, 0.5).select(
            "p_two"
        )
    p_two = F.col("p_two")
    return out.select(
        F.lit(n_pairs).cast("long").alias("n_pairs"),
        F.lit(b11).cast("long").alias("n_both"),
        F.lit(b00).cast("long").alias("n_neither"),
        F.lit(b10).cast("long").alias("n_first_only"),
        F.lit(b01).cast("long").alias("n_second_only"),
        p_two.alias("p_two"),
        (p_two < F.lit(0.05)).cast("int").alias("significant"),
    )


def cochran_q(df: DataFrame, outcome_cols: list) -> DataFrame:
    """Cochran's Q — the k-system generalization of
    :func:`mcnemar_test`: k models/judges scored 0/1 on the SAME
    items ("do ANY of these k systems differ on this eval set"),
    the screen that precedes pairwise McNemars exactly as
    kruskal_wallis precedes pairwise Mann-Whitneys.  Significant Q
    → run the pairwise McNemars (with :func:`benjamini_hochberg`
    over them).

    Q = k(k−1)·Σ_j(G_j − T/k)² / (k·T − Σ_i L_i²) where G_j is
    system j's success total, L_i the per-item success count and
    T = ΣL.  ONE map-side-combinable corpus scan accumulates every
    term as exact integers (k·Σ G² and Σ L² included —
    the anova scale-0 rule), so Q is exact-integer-derived; items
    where all k agree contribute nothing, matching the McNemar
    conditioning.  χ² at df = k−1 vs the shared A&S table; non-0/1
    outcomes refuse executor-side.

    Returns ONE row: (k_systems, n_items, q 6dp, significant) — q
    NULL when the denominator degenerates (every item unanimous).
    """
    k = len(outcome_cols)
    if k < 2 or len(set(outcome_cols)) != k:
        raise UserException(
            "cochran_q needs >= 2 distinct outcome columns, got "
            f"{outcome_cols!r}"
        )

    def bit(name: str):
        col = F.col(name).cast("int")
        return F.when(col.isin(0, 1), col).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("cochran_q: outcomes must be 0/1, got "),
                    col.cast("string"),
                )
            ).cast("int")
        )

    src = df.filter(
        F.expr(
            " AND ".join(
                f"{c} IS NOT NULL" for c in outcome_cols
            )
        )
    )
    li = sum((bit(c) for c in outcome_cols[1:]), bit(outcome_cols[0]))
    agg = src.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(li).alias("_T"),
        exact_sum_product(li, li, 0).alias("_L2"),
        *[
            F.sum(bit(c)).alias(f"_g{i}")
            for i, c in enumerate(outcome_cols)
        ],
    )
    g2 = sum(
        quantize(F.col(f"_g{i}"), 0) * F.col(f"_g{i}")
        for i in range(k)
    )
    t = F.col("_T").cast("double")
    num = F.lit(float(k - 1)) * (
        F.lit(float(k)) * g2.cast("double") - t * t
    )
    den = F.lit(float(k)) * t - F.col("_L2").cast("double")
    q = F.when(den > 0, F.round(num / den, 6))
    crit = F.element_at(
        F.array(*[F.lit(v) for v in CHI2_CRIT_5PCT]),
        F.least(F.lit(k - 1), F.lit(len(CHI2_CRIT_5PCT))).cast(
            "int"
        ),
    )
    return agg.select(
        F.lit(k).cast("long").alias("k_systems"),
        F.col("_n").cast("long").alias("n_items"),
        q.alias("q"),
        F.coalesce(
            (q > crit).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def wilcoxon_signed_rank(
    df: DataFrame, first_col: str, second_col: str
) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED continuous outcomes —
    the paired family's continuous member (mcnemar_test: paired
    binary; cochran_q: k paired binary; this: "did latency /
    quality score / tokens-per-doc CHANGE for the same items",
    before-vs-after on one corpus, model A vs B scored on the same
    prompts).  The unpaired mann_whitney_u throws the pairing away;
    the signed-rank statistic ranks |differences| and asks whether
    the positive ones dominate.

    Zero differences are dropped (the standard convention — they
    carry no sign information); midranks of |d| ride the
    distributed exclusive cumsum (one corpus scan to the pinned
    per-|d| tie table, which also yields the pair/zero counts —
    never a second pass), 2·W⁺ accumulates as an exact long, and
    the normal approximation carries the tie correction
    Σ(t³−t)/48 summed as DECIMAL.  z is NULL when the variance
    degenerates (every pair tied).

    Returns ONE row: (n_pairs, n_nonzero, w_plus, z 6dp,
    significant).
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_weighted_cumsum,
    )

    d = F.col(first_col) - F.col(second_col)
    src = df.filter(
        F.col(first_col).isNotNull()
        & F.col(second_col).isNotNull()
    ).select(
        F.abs(d).alias("_ad"),
        F.when(d > 0, 1).otherwise(0).alias("_pos"),
    )
    per_value = src.groupBy("_ad").agg(
        F.count(F.lit(1)).alias("_t"),
        F.sum("_pos").alias("_tp"),
    )
    # pinned: the pair/zero counts AND the rank cumsum both consume it
    per_value = per_value.localCheckpoint(eager=True)
    totals = per_value.agg(
        F.sum("_t").alias("_np"),
        F.sum(F.when(F.col("_ad") == 0, F.col("_t")).otherwise(0)).alias(
            "_nz"
        ),
    )
    cum = global_weighted_cumsum(
        per_value.filter(F.col("_ad") != 0), "_ad", "_t"
    )
    mr2 = F.lit(2) * F.col("_cum") + F.col("_t") + F.lit(1)
    agg = cum.agg(
        F.sum("_t").alias("_m"),
        F.sum(F.col("_tp") * mr2).alias("_r2p"),
        exact_sum(
            quantize("_t", 0) * F.col("_t") * F.col("_t") - F.col("_t"), 0
        ).alias("_ties"),
    ).crossJoin(F.broadcast(totals))
    m = F.col("_m").cast("double")
    wp = F.col("_r2p").cast("double") / F.lit(2.0)
    mu = m * (m + 1) / F.lit(4.0)
    var = m * (m + 1) * (F.lit(2.0) * m + 1) / F.lit(24.0) - F.col(
        "_ties"
    ).cast("double") / F.lit(48.0)
    z = F.when(var > 0, F.round((wp - mu) / F.sqrt(var), 6))
    return agg.select(
        F.col("_np").cast("long").alias("n_pairs"),
        F.coalesce(F.col("_m"), F.lit(0)).cast("long").alias(
            "n_nonzero"
        ),
        wp.alias("w_plus"),
        z.alias("z"),
        F.coalesce(
            (F.abs(z) > F.lit(Z_CRIT_5PCT)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


#: Φ⁻¹ at the standard power targets — fixed literals shared with
#: the oracle (no inverse-normal built-in on either engine; the
#: table IS the determinism boundary, the CHI2_CRIT pattern)
Z_POWER = {80: 0.8416212, 90: 1.2815516, 95: 1.6448536}


def ab_power_mde(
    df: DataFrame,
    arm_col: str,
    success_col: str,
    power_pct: int = 80,
) -> DataFrame:
    """Minimum detectable effect at the CURRENT traffic — the
    planning readout that belongs next to every "not significant"
    result: a flat z-test answers "did we see an effect", this
    answers "what effect COULD we have seen" — without it, "no
    significant difference" on an underpowered experiment gets read
    as "no difference", the most common A/B misread there is.

    MDE(two-sided 5%, ``power_pct``) = (z_{α/2} + z_pow) ·
    √(2·p̄(1−p̄)/n̄) with p̄ the pooled rate and n̄ the harmonic
    mean arm size — the standard two-proportion approximation,
    evaluated AT the observed allocation (so an imbalanced split's
    power cost is visible in the number).  ONE corpus scan to the
    pinned per-arm counts (the srm/MH staging); both z constants
    are fixed literals shared with the oracle.

    Returns ONE row: (arm_a, arm_b, n_a, n_b, rate_a 6dp, rate_b
    6dp, pooled_rate 6dp, power_pct, mde_abs 9dp, mde_rel 6dp) —
    mde_rel = mde_abs / pooled rate, NULL when the pooled rate
    degenerates (0 or 1 — nothing to detect against).
    """
    if power_pct not in Z_POWER:
        raise UserException(
            f"ab_power_mde: power_pct must be one of "
            f"{sorted(Z_POWER)}, got {power_pct}"
        )
    src = df.filter(
        F.col(arm_col).isNotNull() & F.col(success_col).isNotNull()
    ).select(
        F.col(arm_col).cast("string").alias("_g"),
        F.col(success_col).cast("int").alias("_y"),
    )
    per_arm = src.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(
            F.when(F.col("_y").isin(0, 1), F.col("_y")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "ab_power_mde: success must be 0/1, "
                            "got "
                        ),
                        F.col("_y").cast("string"),
                    )
                ).cast("int")
            )
        ).alias("_s"),
    )
    per_arm = per_arm.localCheckpoint(eager=True)
    arms = [
        r["_g"]
        for r in per_arm.select("_g").distinct().limit(3).collect()
    ]
    if len(arms) != 2:
        raise UserException(
            f"ab_power_mde needs exactly 2 arms, got "
            f"{sorted(arms)!r}"
        )
    arm_a, arm_b = sorted(arms)
    is_a = F.col("_g") == F.lit(arm_a)
    agg = per_arm.agg(
        F.sum(F.when(is_a, F.col("_n")).otherwise(0)).alias("_na"),
        F.sum(F.when(is_a, F.col("_s")).otherwise(0)).alias("_sa"),
        F.sum(F.when(~is_a, F.col("_n")).otherwise(0)).alias(
            "_nb"
        ),
        F.sum(F.when(~is_a, F.col("_s")).otherwise(0)).alias(
            "_sb"
        ),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    pbar = (F.col("_sa") + F.col("_sb")).cast("double") / (
        F.col("_na") + F.col("_nb")
    )
    ok = (
        (F.col("_na") > 0)
        & (F.col("_nb") > 0)
        & (pbar > 0)
        & (pbar < 1)
    )
    zsum = F.lit(Z_CRIT_5PCT) + F.lit(Z_POWER[power_pct])
    mde = zsum * F.sqrt(
        pbar * (F.lit(1.0) - pbar) * (
            F.lit(1.0) / na + F.lit(1.0) / nb
        )
    )
    return agg.select(
        F.lit(arm_a).alias("arm_a"),
        F.lit(arm_b).alias("arm_b"),
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.when(
            F.col("_na") > 0,
            F.round(F.col("_sa").cast("double") / na, 6),
        ).alias("rate_a"),
        F.when(
            F.col("_nb") > 0,
            F.round(F.col("_sb").cast("double") / nb, 6),
        ).alias("rate_b"),
        F.when(
            (F.col("_na") + F.col("_nb")) > 0, F.round(pbar, 6)
        ).alias("pooled_rate"),
        F.lit(power_pct).alias("power_pct"),
        F.when(ok, F.round(mde, 9)).alias("mde_abs"),
        F.when(ok, F.round(mde / pbar, 6)).alias("mde_rel"),
    )


def brown_forsythe(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Brown–Forsythe test of variance homogeneity across k groups
    — the robust Levene variant (deviations from the MEDIAN, not
    the mean) and the precondition check the ANOVA story was
    missing: anova_oneway assumes equal variances, and when spread
    itself differs by segment (the common case for latency or
    spend) that's usually the finding.  BF = one-way ANOVA on
    z = |x − median_g|.

    Scale shape: ONE corpus scan to the pinned (group, value) tie
    table; per-group INTERPOLATED medians come from a cumulative
    count window PARTITIONED by group over the distinct values (the
    jonckheere contract: the value axis is discrete or pre-bucketed)
    — the lower/upper middle ranks are integer expressions, so the
    median is exact.  The deviations z are then exact multiples of
    0.5 (bucket ints vs half-int medians): the weighted ANOVA sums
    accumulate at DECIMAL scale 1/2 EXACTLY, and the grand sums
    follow the anova_oneway scale-0 floor rule.  F vs the shared
    1% critical table at df₁ = k−1.

    Returns ONE row: (k_groups, n_rows, f 6dp, significant) — f
    NULL when the dof or the within-spread degenerates.
    """
    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    )
    per_gv = src.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).alias("_t")
    )
    per_gv = per_gv.localCheckpoint(eager=True)
    w_grp = Window.partitionBy("_g")
    w_cum = (
        w_grp.orderBy("_v").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    cum = per_gv.select(
        "_g",
        "_v",
        "_t",
        F.sum("_t").over(w_cum).alias("_c"),
        F.sum("_t").over(w_grp).alias("_n"),
    )
    # interpolated median: the values at the integer middle ranks
    # (n+1) div 2 and (n+2) div 2 — exact, never a float quantile
    r_lo = (F.col("_n") + 1) / 2
    r_hi = (F.col("_n") + 2) / 2
    med = cum.groupBy("_g").agg(
        (
            (
                F.min(
                    F.when(
                        F.col("_c") >= F.floor(r_lo), F.col("_v")
                    )
                )
                + F.min(
                    F.when(
                        F.col("_c") >= F.floor(r_hi), F.col("_v")
                    )
                )
            ).cast("double")
            / F.lit(2.0)
        ).alias("_med"),
    )
    z = F.abs(F.col("_v").cast("double") - F.col("_med"))
    staged = per_gv.join(F.broadcast(med), "_g").select(
        "_g",
        "_t",
        z.alias("_z"),
    )
    # weighted per-group sums: z is an exact multiple of 0.5 for
    # integer-bucketed values, z² of 0.25 — DECIMAL scales 1 and 2
    # hold them exactly (the anova_oneway decimal rule)
    d1 = quantize("_z", 1)
    per_g = staged.groupBy("_g").agg(
        F.sum("_t").alias("_n"),
        F.sum(d1 * F.col("_t")).alias("_s"),
        F.sum(
            quantize(F.col("_z") * F.col("_z"), 2)
            * F.col("_t")
        ).alias("_ss"),
    )
    agg = per_g.agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum("_n").alias("_N"),
        exact_sum("_s", 1).alias("_S"),
        exact_sum(F.floor(F.col("_ss")), 0).alias("_SS"),
        exact_sum(
            F.floor(
                F.col("_s").cast("double")
                * F.col("_s").cast("double")
                / F.col("_n")
            ),
            0,
        ).alias("_SG"),
    )
    n = F.col("_N").cast("double")
    k = F.col("_k").cast("double")
    ssb = F.col("_SG").cast("double") - (
        F.col("_S").cast("double") * F.col("_S").cast("double") / n
    )
    ssw = F.col("_SS").cast("double") - F.col("_SG").cast("double")
    f = (ssb / (k - 1)) / (ssw / (n - k))
    ok = (
        (F.col("_k") >= 2)
        & (F.col("_N") > F.col("_k"))
        & (ssw > 0)
    )
    crit = F.element_at(
        F.array(*[F.lit(v) for v in F_CRIT_1PCT]),
        F.least(
            F.col("_k") - 1, F.lit(len(F_CRIT_1PCT))
        ).cast("int"),
    )
    ff = F.when(ok, F.round(f, 6))
    return agg.select(
        F.col("_k").cast("long").alias("k_groups"),
        F.col("_N").cast("long").alias("n_rows"),
        ff.alias("f"),
        F.coalesce(
            (ff > crit).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def friedman_test(df: DataFrame, measure_cols: list) -> DataFrame:
    """Friedman test — the paired family's k-sample continuous
    member, completing the grid: mcnemar (2 paired binary) →
    cochran_q (k paired binary) → wilcoxon_signed_rank (2 paired
    continuous) → THIS (k paired continuous): k models/configs
    scored on the SAME items ("do ANY of these k systems' scores
    differ on this eval set"), the screen that precedes pairwise
    signed-rank tests exactly as cochran_q precedes pairwise
    McNemars.

    Each item ranks its own k scores (midranks for ties — with k
    columns per ROW the rank is a closed-form expression,
    2·r_i = 2 + 2·#{j: s_j<s_i} + #{j≠i: s_j=s_i}, so NO window
    anywhere); the tie-corrected statistic is
    Q = (k−1)·Σ_j(R_j − n(k+1)/2)² / (A − C) with A = Σ r²,
    C = nk(k+1)²/4.  Everything accumulates in DOUBLED-rank
    integer space in ONE map-side-combinable corpus scan (R2_j as
    longs, Σ(2r)² an exact integer — the anova scale-0 rule), so Q
    is exact-integer-derived and both engines agree bit-for-bit
    before the final rounded division.  χ² at df = k−1 vs the
    shared A&S table.

    Returns ONE row: (k_treatments, n_blocks, chi2, significant) —
    chi2 NULL when the denominator degenerates (every block fully
    tied).
    """
    k = len(measure_cols)
    if k < 2 or len(set(measure_cols)) != k:
        raise UserException(
            "friedman_test needs >= 2 distinct measure columns, "
            f"got {measure_cols!r}"
        )

    def r2(i: int):
        s_i = F.col(measure_cols[i])
        less = sum(
            (F.col(c) < s_i).cast("int")
            for j, c in enumerate(measure_cols)
            if j != i
        )
        eq = sum(
            (F.col(c) == s_i).cast("int")
            for j, c in enumerate(measure_cols)
            if j != i
        )
        return (F.lit(2) + F.lit(2) * less + eq).cast("long")

    src = df.filter(
        F.expr(
            " AND ".join(f"{c} IS NOT NULL" for c in measure_cols)
        )
    )
    a4_term = sum(
        quantize(r2(i), 0) * r2(i) for i in range(k)
    )
    agg = src.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(a4_term).alias("_a4"),
        *[F.sum(r2(i)).alias(f"_r{i}") for i in range(k)],
    )
    n = F.col("_n")
    # D_j = R2_j − n(k+1) = 2(R_j − n(k+1)/2); Σ D² needs DECIMAL
    dsq = sum(
        quantize(F.col(f"_r{i}") - n * (k + 1), 0)
        * (F.col(f"_r{i}") - n * (k + 1))
        for i in range(k)
    )
    # A − C = (Σ(2r)² − nk(k+1)²)/4 — same /4 as ΣD²/4: cancels
    den = (
        F.col("_a4") - quantize(n * k * (k + 1) * (k + 1), 0)
    ).cast("double")
    q = F.when(
        den > 0,
        F.round(F.lit(float(k - 1)) * dsq.cast("double") / den, 6),
    )
    crit = F.element_at(
        F.array(*[F.lit(v) for v in CHI2_CRIT_5PCT]),
        F.least(F.lit(k - 1), F.lit(len(CHI2_CRIT_5PCT))).cast(
            "int"
        ),
    )
    return agg.select(
        F.lit(k).cast("long").alias("k_treatments"),
        n.cast("long").alias("n_blocks"),
        q.alias("chi2"),
        F.coalesce((q > crit).cast("int"), F.lit(0)).alias(
            "significant"
        ),
    )


def g_test_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """G-test (likelihood-ratio) of independence plus Cramér's V —
    the chi2_independence siblings a readout needs together: G is
    the additive statistic (partitions sum across sub-tables, the
    property chi-square lacks — the reason corpus-mix audits prefer
    it), V is the [0,1] effect size that says whether a
    'significant at n=10⁷' association is actually tiny.

    Same scale shape as :func:`chi2_independence`: ONE map-side
    groupBy to the observed |a|×|b| cells, marginals as windows
    over that metadata-scale table.  G = 2·Σ n·ln(n/e) needs only
    OBSERVED cells (0·ln0 = 0 — zero cells contribute nothing, so
    the sparse table never explodes); chi-square folds unobserved
    cells in analytically (N − Σe) and feeds V =
    √(χ²/(N·min(ka−1,kb−1))).  ln is the one libm call whose last
    ulp differs between engines: each ln is rounded 9dp BEFORE the
    multiply (the MH-CI discipline), per-cell terms rounded 4dp and
    summed as DECIMAL (order-free); √ is IEEE-exact and safe
    unrounded.  χ² at df vs the shared A&S table (conservative cap
    past df 29).

    Returns ONE row: (n_rows, n_levels_a, n_levels_b, dof, g,
    chi2, cramers_v, significant) — g/chi2/v NULL when dof = 0.
    Zero non-null pairs raises (the chi2_independence contract).
    """
    src = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    )
    if not src.select(F.lit(1)).limit(1).collect():
        raise UserException(
            "g_test_independence: no rows with both "
            f"{col_a!r} and {col_b!r} non-null"
        )
    cells = src.groupBy(
        F.col(col_a).cast("string").alias("_a"),
        F.col(col_b).cast("string").alias("_b"),
    ).agg(F.count(F.lit(1)).alias("_n"))
    from pyspark.sql import Window

    staged = cells.select(
        "_n",
        "_a",
        "_b",
        F.sum("_n").over(Window.partitionBy("_a")).alias("_ra"),
        F.sum("_n").over(Window.partitionBy("_b")).alias("_cb"),
        F.sum("_n").over(Window.partitionBy()).alias("_tot"),
    )
    e = (
        F.col("_ra").cast("double")
        * F.col("_cb")
        / F.col("_tot")
    )
    n_d = F.col("_n").cast("double")
    terms = staged.select(
        "_a",
        "_b",
        "_n",
        quantize(n_d * F.round(F.log(n_d / e), 9), 4).alias("_g"),
        quantize((F.col("_n") - e) * (F.col("_n") - e) / e, 9).alias("_t"),
        quantize(e, 9).alias("_e"),
    )
    agg = terms.agg(
        F.sum("_n").alias("_rows"),
        F.countDistinct("_a").alias("_ka"),
        F.countDistinct("_b").alias("_kb"),
        F.sum("_g").alias("_sg"),
        F.sum("_t").alias("_st"),
        F.sum("_e").alias("_se"),
    )
    dof = (F.col("_ka") - 1) * (F.col("_kb") - 1)
    g = F.when(
        dof > 0, F.round(F.lit(2.0) * F.col("_sg").cast("double"), 6)
    )
    chi2 = F.when(
        dof > 0,
        F.round(
            F.col("_st").cast("double")
            + (F.col("_rows") - F.col("_se").cast("double")),
            6,
        ),
    )
    mindim = F.least(F.col("_ka") - 1, F.col("_kb") - 1)
    v = F.when(
        dof > 0,
        F.round(
            F.sqrt(
                chi2
                / (F.col("_rows") * mindim).cast("double")
            ),
            6,
        ),
    )
    crit = F.element_at(
        F.array(*[F.lit(c) for c in CHI2_CRIT_5PCT]),
        F.least(dof, F.lit(len(CHI2_CRIT_5PCT))).cast("int"),
    )
    return agg.select(
        F.col("_rows").cast("long").alias("n_rows"),
        F.col("_ka").cast("long").alias("n_levels_a"),
        F.col("_kb").cast("long").alias("n_levels_b"),
        dof.cast("long").alias("dof"),
        g.alias("g"),
        chi2.alias("chi2"),
        v.alias("cramers_v"),
        F.coalesce((g > crit).cast("int"), F.lit(0)).alias(
            "significant"
        ),
    )


def page_trend_test(df: DataFrame, measure_cols: list) -> DataFrame:
    """Page's trend test — the ordered-alternative member of the
    paired family: k scores on the SAME items where the COLUMN
    ORDER of ``measure_cols`` declares the hypothesized increasing
    trend (model-size ladders, dose tiers, checkpoint sequences —
    the JT declared-order posture for repeated measures).  Where
    :func:`friedman_test` asks "do ANY differ", Page asks "do they
    INCREASE left to right", with the power Friedman leaves on the
    table when the alternative is monotone.

    L = Σ_j j·R_j over within-block midranks.  The tie-EXACT null
    moments come from the permutation form of the linear rank
    statistic: E = nk(k+1)²/4 always, and Var = k(k+1)/12·(A−C)
    with A−C exactly Friedman's tie denominator — so the whole
    readout rides the same ONE map-side-combinable scan of
    closed-form per-row midrank expressions (no window), in
    doubled-rank integer space (L2/A4 exact longs & DECIMAL), and
    heavy ties are handled exactly rather than by the textbook
    no-tie variance.  z two-sided vs 1.959964 on the 6dp-rounded
    statistic (the house boundary convention).

    Returns ONE row: (k_treatments, n_blocks, l_stat, z,
    significant) — z NULL when every block is fully tied.
    """
    k = len(measure_cols)
    if k < 3 or len(set(measure_cols)) != k:
        raise UserException(
            "page_trend_test needs >= 3 distinct ordered measure "
            f"columns, got {measure_cols!r}"
        )

    def r2(i: int):
        s_i = F.col(measure_cols[i])
        less = sum(
            (F.col(c) < s_i).cast("int")
            for j, c in enumerate(measure_cols)
            if j != i
        )
        eq = sum(
            (F.col(c) == s_i).cast("int")
            for j, c in enumerate(measure_cols)
            if j != i
        )
        return (F.lit(2) + F.lit(2) * less + eq).cast("long")

    src = df.filter(
        F.expr(
            " AND ".join(f"{c} IS NOT NULL" for c in measure_cols)
        )
    )
    a4_term = sum(
        quantize(r2(i), 0) * r2(i) for i in range(k)
    )
    l2_term = sum(r2(i) * F.lit(i + 1) for i in range(k))
    agg = src.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(a4_term).alias("_a4"),
        F.sum(l2_term).alias("_l2"),
    )
    n = F.col("_n")
    # A−C in doubled² space: A4 − nk(k+1)²; E(L2) = nk(k+1)²/2
    denint = (
        F.col("_a4") - quantize(n * k * (k + 1) * (k + 1), 0)
    ).cast("double")
    var2 = F.lit(k * (k + 1) / 12.0) * denint
    e2 = (n * k * (k + 1) * (k + 1)).cast("double") / F.lit(2.0)
    z = F.when(
        denint > 0,
        F.round(
            (F.col("_l2").cast("double") - e2) / F.sqrt(var2), 6
        ),
    )
    return agg.select(
        F.lit(k).cast("long").alias("k_treatments"),
        n.cast("long").alias("n_blocks"),
        (F.col("_l2").cast("double") / F.lit(2.0)).alias("l_stat"),
        z.alias("z"),
        F.coalesce(
            (F.abs(z) > F.lit(1.959964)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def cohens_d(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Cohen's d / Hedges' g — the standardized two-arm effect size
    the significance tests in this module deliberately don't give
    you: welch_ttest says WHETHER the means differ, this says BY
    HOW MUCH in pooled-SD units (the number meta-analyses,
    power planning and 'is this lift worth shipping' reviews
    actually consume, next to ab_power_mde's forward planning).

    Same staging discipline as :func:`welch_ttest`: exactly two
    arms (refused loudly otherwise), ONE map-side-combinable scan
    accumulating per-arm n/Σv/Σv² with values at 4dp
    (order-free exact sums), then pooled-SD d = (m_b−m_a)/s_p,
    the Hedges small-sample correction g = d·(1−3/(4n−9)), and
    the Hedges–Olkin large-sample CI d ± z·√((n_a+n_b)/(n_a·n_b)
    + d²/(2(n_a+n_b))).

    Returns ONE row: (group_a, group_b, n_a, n_b, mean_a, mean_b,
    cohens_d, hedges_g, ci_lo, ci_hi) — effect fields NULL when
    either arm has < 2 rows or the pooled variance degenerates.
    """
    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    )
    found = [
        r["_g"]
        for r in src.select("_g").distinct().limit(3).collect()
    ]
    if len(found) != 2:
        raise UserException(
            f"cohens_d needs exactly 2 arms, found "
            f"{sorted(found)!r}"
        )
    ga, gb = sorted(found)
    arms = src.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        exact_sum("_v", 4).alias("_s"),
        exact_sum_product("_v", "_v", 4).alias("_ss"),
    )

    def pick(g, c):
        return F.max(F.when(F.col("_g") == g, F.col(c)))

    agg = arms.agg(
        pick(ga, "_n").alias("_na"),
        pick(ga, "_s").alias("_sa"),
        pick(ga, "_ss").alias("_ssa"),
        pick(gb, "_n").alias("_nb"),
        pick(gb, "_s").alias("_sb"),
        pick(gb, "_ss").alias("_ssb"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    ma = F.col("_sa").cast("double") / na
    mb = F.col("_sb").cast("double") / nb
    sp2 = (
        (F.col("_ssa").cast("double") - na * ma * ma)
        + (F.col("_ssb").cast("double") - nb * mb * mb)
    ) / (na + nb - 2)
    d = (mb - ma) / F.sqrt(sp2)
    g = d * (
        F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (na + nb) - 9)
    )
    se = F.sqrt(
        (na + nb) / (na * nb) + d * d / (F.lit(2.0) * (na + nb))
    )
    ok = (F.col("_na") >= 2) & (F.col("_nb") >= 2) & (sp2 > 0)
    return agg.select(
        F.lit(ga).alias("group_a"),
        F.lit(gb).alias("group_b"),
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.when(ok, F.round(d, 6)).alias("cohens_d"),
        F.when(ok, F.round(g, 6)).alias("hedges_g"),
        F.when(ok, F.round(d - F.lit(1.959964) * se, 6)).alias(
            "ci_lo"
        ),
        F.when(ok, F.round(d + F.lit(1.959964) * se, 6)).alias(
            "ci_hi"
        ),
    )


def cliffs_delta(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Cliff's delta — the ORDINAL two-arm effect size:
    δ = (#{a>b} − #{a<b}) / (n_a·n_b), the probability a random
    arm-a observation exceeds a random arm-b one minus the reverse.
    The magnitude readout next to mann_whitney_u's significance
    (what :func:`cohens_d` is to welch_ttest, this is to the rank
    test): robust to heavy tails and monotone transforms, which is
    exactly when teams reach for the rank test in the first place.

    Scale shape: the corpus collapses to the (arm, value) tie
    table; cross-arm pair counts ride the Jonckheere grid — every
    distinct value × both arms, an EXCLUSIVE per-arm prefix window
    over values, then per-value products of arm-b counts against
    arm-a running counts (never an O(n²) pair walk, never an
    unpartitioned corpus window; discrete or pre-bucketed values,
    the MW/JT contract).  #{a>b} falls out as
    n_a·n_b − #{a<b} − ties, all exact integers; δ is one rounded
    division at the end.  The magnitude label uses the conventional |δ| cuts
    0.147/0.33/0.474 on the 6dp-ROUNDED δ (the house boundary
    rule).

    Returns ONE row: (group_a, group_b, n_a, n_b, n_tied_pairs,
    delta 6dp, magnitude) — arms oriented lexicographically;
    refuses unless exactly two arms.
    """
    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    )
    per_gv = src.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).alias("_t")
    )
    per_gv = per_gv.localCheckpoint(eager=True)
    arms = [
        r["_g"]
        for r in per_gv.select("_g").distinct().limit(3).collect()
    ]
    if len(arms) != 2:
        raise UserException(
            f"cliffs_delta needs exactly 2 arms, found "
            f"{sorted(arms)!r}"
        )
    ga, gb = sorted(arms)
    grid = (
        per_gv.select("_v")
        .distinct()
        .crossJoin(F.broadcast(per_gv.select("_g").distinct()))
        .join(per_gv, ["_g", "_v"], "left")
        .select(
            "_g", "_v", F.coalesce("_t", F.lit(0)).alias("_t")
        )
    )
    w_vals = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = grid.select(
        "_g",
        "_v",
        "_t",
        F.coalesce(F.sum("_t").over(w_vals), F.lit(0)).alias(
            "_cumlt"
        ),
    )
    w_grps = (
        Window.partitionBy("_v")
        .orderBy("_g")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cells = staged.select(
        "_g",
        "_t",
        F.coalesce(F.sum("_cumlt").over(w_grps), F.lit(0)).alias(
            "_A"
        ),
        F.coalesce(F.sum("_t").over(w_grps), F.lit(0)).alias("_B"),
    )
    is_b = F.col("_g") == F.lit(gb)
    agg = cells.agg(
        F.sum(
            F.when(
                is_b,
                quantize("_t", 0) * F.col("_A"),
            ).otherwise(F.lit(0))
        ).alias("_lt"),            # pairs with a < b
        F.sum(
            F.when(
                is_b,
                quantize("_t", 0) * F.col("_B"),
            ).otherwise(F.lit(0))
        ).alias("_tie"),
        F.sum(F.when(~is_b, F.col("_t")).otherwise(0)).alias(
            "_na"
        ),
        F.sum(F.when(is_b, F.col("_t")).otherwise(0)).alias("_nb"),
    )
    pairs = quantize("_na", 0) * F.col("_nb")
    delta = F.when(
        pairs > 0,
        F.round(
            (
                pairs - 2 * F.col("_lt") - F.col("_tie")
            ).cast("double")
            / pairs.cast("double"),
            6,
        ),
    )
    mag = F.when(
        F.abs(delta) < 0.147, F.lit("negligible")
    ).when(F.abs(delta) < 0.33, F.lit("small")).when(
        F.abs(delta) < 0.474, F.lit("medium")
    ).otherwise(F.lit("large"))
    return agg.select(
        F.lit(ga).alias("group_a"),
        F.lit(gb).alias("group_b"),
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.col("_tie").cast("long").alias("n_tied_pairs"),
        delta.alias("delta"),
        F.when(delta.isNotNull(), mag).alias("magnitude"),
    )


def lins_ccc(
    df: DataFrame, first_col: str, second_col: str
) -> DataFrame:
    """Lin's concordance correlation coefficient — agreement
    between two PAIRED continuous measurements of the same items:
    "do these two scorers/models/sensors produce the SAME number",
    which Pearson's r deliberately doesn't answer (r is blind to
    scale and shift; two judges where one is always 2× the other
    correlate perfectly and agree never).  The continuous member of
    the agreement tier next to :func:`cohen_kappa` (categorical):
    model-A-vs-model-B quality scores on the same docs, re-scored
    eval sets, sensor cross-calibration.

    CCC = 2·s_xy / (s_x² + s_y² + (x̄−ȳ)²) with POPULATION moments
    (Lin 1989) — equivalently r·C_b where C_b is the bias
    correction, both surfaced.  ONE map-side-combinable scan
    accumulates n/Σx/Σy/Σx²/Σy²/Σxy with values at 4dp
    (the welch exact-sum discipline); every downstream expression
    is the identical left-to-right double chain on both engines.

    Returns ONE row: (n_pairs, mean_a, mean_b, pearson_r, c_b,
    ccc) — rounded 6dp; r/C_b/CCC NULL when either variance
    degenerates (a constant column has no agreement to measure).
    """
    src = df.filter(
        F.col(first_col).isNotNull() & F.col(second_col).isNotNull()
    ).select(
        F.col(first_col).alias("_x"), F.col(second_col).alias("_y")
    )
    agg = src.agg(
        F.count(F.lit(1)).alias("_n"),
        exact_sum("_x", 4).alias("_sx"),
        exact_sum("_y", 4).alias("_sy"),
        exact_sum_product("_x", "_x", 4).alias("_sxx"),
        exact_sum_product("_y", "_y", 4).alias("_syy"),
        exact_sum_product("_x", "_y", 4).alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    mx = F.col("_sx").cast("double") / n
    my = F.col("_sy").cast("double") / n
    vx = F.col("_sxx").cast("double") / n - mx * mx
    vy = F.col("_syy").cast("double") / n - my * my
    cxy = F.col("_sxy").cast("double") / n - mx * my
    ok = (F.col("_n") >= 2) & (vx > 0) & (vy > 0)
    r = cxy / F.sqrt(vx * vy)
    ccc = (
        F.lit(2.0)
        * cxy
        / (vx + vy + (mx - my) * (mx - my))
    )
    c_b = ccc / r
    return agg.select(
        F.col("_n").cast("long").alias("n_pairs"),
        F.round(mx, 6).alias("mean_a"),
        F.round(my, 6).alias("mean_b"),
        F.when(ok & (cxy != 0), F.round(r, 6)).alias("pearson_r"),
        F.when(ok & (cxy != 0), F.round(c_b, 6)).alias("c_b"),
        F.when(ok, F.round(ccc, 6)).alias("ccc"),
    )


def jarque_bera(df: DataFrame, value_col: str) -> DataFrame:
    """Jarque–Bera normality test — the precondition gate for the
    parametric tier (z/t/ANOVA assume roughly normal metrics;
    :func:`brown_forsythe` checks their variance assumption, this
    checks the shape one): skewness and excess kurtosis from exact
    moment sums, JB = n/6·(S² + K²/4) vs χ²(2).  A fat-tailed or
    skewed metric failing this gate is the signal to route to the
    rank machinery (mann_whitney/kruskal/cliffs_delta) instead.

    ONE map-side-combinable scan accumulates n and Σv^k (k=1..4):
    each power is computed in double (deterministic — identical
    inputs, identical IEEE ops on both engines), rounded 4dp and
    summed exactly, so the accumulation is order-free.
    The moment recombination is the identical left-to-right double
    chain both sides; m2^1.5 is spelled m2·√m2 (√ is IEEE-exact;
    a libm pow could diverge in the last ulp).  Values are
    expected bounded/bucketed (|v| ≲ 1e3 — the mann_whitney
    fixture contract): the 4th-power DECIMAL unscaled sums must
    stay under 2^53 for the decimal→double conversion to be
    engine-exact (the anova scale-0 lesson).

    Returns ONE row: (n_rows, mean, skewness, excess_kurtosis,
    jb, significant) — NULL statistics when the variance
    degenerates or n < 4.
    """
    src = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("_v")
    )
    v = F.col("_v")

    def psum(k: int):
        p = v
        for _ in range(k - 1):
            p = p * v
        return exact_sum(p, 4).alias(
            f"_s{k}"
        )

    agg = src.agg(
        F.count(F.lit(1)).alias("_n"),
        psum(1),
        psum(2),
        psum(3),
        psum(4),
    )
    n = F.col("_n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    s3 = F.col("_s3").cast("double")
    s4 = F.col("_s4").cast("double")
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - 3 * m * (s2 / n) + 2 * m * m * m
    m4 = (
        s4 / n
        - 4 * m * (s3 / n)
        + 6 * m * m * (s2 / n)
        - 3 * m * m * m * m
    )
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = m4 / (m2 * m2) - 3
    jb = n / 6 * (skew * skew + kurt * kurt / 4)
    ok = (F.col("_n") >= 4) & (m2 > 0)
    jb_r = F.when(ok, F.round(jb, 6))
    return agg.select(
        F.col("_n").cast("long").alias("n_rows"),
        F.round(m, 6).alias("mean"),
        F.when(ok, F.round(skew, 6)).alias("skewness"),
        F.when(ok, F.round(kurt, 6)).alias("excess_kurtosis"),
        jb_r.alias("jb"),
        F.coalesce(
            (jb_r > F.lit(CHI2_CRIT_5PCT[1])).cast("int"),
            F.lit(0),
        ).alias("significant"),
    )


def kendall_tau(
    df: DataFrame, first_col: str, second_col: str
) -> DataFrame:
    """Kendall's τ-b rank correlation — the pair-concordance
    companion to :func:`spearman_corr`: of all pairs of items, do
    the two metrics order them the same way?  τ-b carries the
    tie corrections both axes (the reason it's the default for
    bucketed/ordinal data where Spearman's midranks blur), and its
    interpretation — P(concordant) − P(discordant) — is the one
    analysts actually quote.

    Scale shape: ONE corpus scan to the (x, y) cell table,
    expanded onto the |X|×|Y| grid (the JT/concordance
    2D-dominance machinery; discrete or pre-bucketed axes, the
    same contract): S1(x,y) = Σ_{x'>x} t rides an exclusive
    suffix window per y, then the joint dominance
    D = Σ_{y'>y} S1 / E = Σ_{y'<y} S1 ride exclusive suffix /
    prefix windows per x — never an O(n²) pair walk, never an
    unpartitioned corpus window.  P/Q and the tie pair counts
    accumulate as exact integers;
    τ-b = (P−Q)/√((n₀−n₁)(n₀−n₂)) is one rounded expression at
    the end (√ IEEE-exact).  The z approximation uses the
    no-3rd-moment variance 2(2n+5)/(9n(n−1)) on τ-a's scale —
    surfaced for the trend-flag only, the house two-sided 6dp
    boundary.

    Returns ONE row: (n_rows, n_concordant, n_discordant, tau_b,
    z, significant) — NULL τ/z when either axis is constant.
    """
    src = df.filter(
        F.col(first_col).isNotNull() & F.col(second_col).isNotNull()
    ).select(
        F.col(first_col).alias("_x"), F.col(second_col).alias("_y")
    )
    cells = src.groupBy("_x", "_y").agg(
        F.count(F.lit(1)).alias("_t")
    )
    cells = cells.localCheckpoint(eager=True)
    grid = (
        cells.select("_x")
        .distinct()
        .crossJoin(F.broadcast(cells.select("_y").distinct()))
        .join(cells, ["_x", "_y"], "left")
        .select(
            "_x", "_y", F.coalesce("_t", F.lit(0)).alias("_t")
        )
    )
    w_s1 = (
        Window.partitionBy("_y")
        .orderBy("_x")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    g1 = grid.select(
        "_x",
        "_y",
        "_t",
        F.coalesce(F.sum("_t").over(w_s1), F.lit(0)).alias("_s1"),
    )
    w_d = (
        Window.partitionBy("_x")
        .orderBy("_y")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w_e = (
        Window.partitionBy("_x")
        .orderBy("_y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g2 = g1.select(
        "_t",
        F.coalesce(F.sum("_s1").over(w_d), F.lit(0)).alias("_D"),
        F.coalesce(F.sum("_s1").over(w_e), F.lit(0)).alias("_E"),
    )
    pq = g2.agg(
        exact_sum_product("_t", F.col("_D"), 0).alias("_P"),
        exact_sum_product("_t", F.col("_E"), 0).alias("_Q"),
    )
    tx = cells.groupBy("_x").agg(F.sum("_t").alias("_tx")).agg(
        exact_sum_product("_tx", F.col("_tx") - 1, 0).alias("_n1x2"),
        F.sum("_tx").alias("_n"),
    )
    ty = cells.groupBy("_y").agg(F.sum("_t").alias("_ty")).agg(
        exact_sum_product("_ty", F.col("_ty") - 1, 0).alias("_n2x2"),
    )
    agg = pq.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    n = F.col("_n").cast("double")
    # doubled pair counts: 2n0 = n(n−1), 2n1 = Σtx(tx−1), 2n2 = …
    n0x2 = n * (n - 1)
    den = (n0x2 - F.col("_n1x2").cast("double")) * (
        n0x2 - F.col("_n2x2").cast("double")
    )
    diff = (F.col("_P") - F.col("_Q")).cast("double")
    tau = F.when(
        den > 0, F.round(F.lit(2.0) * diff / F.sqrt(den), 6)
    )
    z = F.when(
        den > 0,
        F.round(
            (F.lit(2.0) * diff / F.sqrt(den))
            / F.sqrt(
                F.lit(2.0)
                * (2 * n + 5)
                / (F.lit(9.0) * n * (n - 1))
            ),
            6,
        ),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_rows"),
        F.col("_P").cast("long").alias("n_concordant"),
        F.col("_Q").cast("long").alias("n_discordant"),
        tau.alias("tau_b"),
        z.alias("z"),
        F.coalesce(
            (F.abs(z) > F.lit(1.959964)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def benjamini_yekutieli(
    df: DataFrame,
    test_col: str,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini–Yekutieli FDR correction — BH's
    arbitrary-dependence-safe sibling: the same step-up machinery
    with the statistic scaled by the harmonic sum c(m) = Σ 1/j,
    which makes the FDR bound hold under ANY dependence between
    the tests (BH's bound assumes positive dependence — a
    metric×segment grid whose metrics are ratios of shared
    denominators violates it).  More conservative by ~ln(m); the
    readout teams run when they can't argue the dependence
    structure.

    Rides :func:`benjamini_hochberg` with ``harmonic_scale=True``
    verbatim: the distributed global rank, the range-partitioned
    suffix-min, the 9dp-rounded reject boundary — c(m) folds into
    the one driver-side constant, so the distributed shape is
    unchanged.  Returns (test_id, p_value, p_rank, q_value,
    reject).
    """
    return benjamini_hochberg(
        df, test_col, p_col, alpha=alpha, harmonic_scale=True
    )


def holm_bonferroni(
    df: DataFrame,
    test_col: str,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Holm–Bonferroni step-down correction — the FWER member of
    the multiple-testing tier next to BH/BY's FDR: when the family
    is small and ANY false positive is unacceptable (ship/no-ship
    gates, safety metrics), you control the familywise error, not
    the discovery fraction.  Uniformly more powerful than plain
    Bonferroni at the same guarantee, no dependence assumptions.

    Mirror image of :func:`benjamini_hochberg`'s machinery: the
    same distributed global rank (total order (p, test_id)), the
    statistic s_i = (m−i+1)·p_i, and adjusted
    p̃_i = min(1, max_{j≤i} s_j) as a PREFIX-max computed the
    range-partitioned way — one tiny per-partition-max collect,
    prefix-folded offsets, a __pid-partitioned running-max window
    (never an unpartitioned corpus window).  The reject flag
    compares the 9dp-ROUNDED p̃ (the house boundary rule); the
    step-down set is exactly Holm's: reject while p_(i) ≤
    α/(m−i+1).

    Returns (test_id, p_value, p_rank, p_adjusted, reject).
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_value_rank,
    )

    if not (0.0 < alpha < 1.0):
        raise UserException(
            f"holm_bonferroni: alpha must be in (0, 1), got {alpha}"
        )
    p_in = F.col(p_col).cast("double")
    src = df.select(
        F.col(test_col).cast("string").alias("_t"),
        F.when(
            (p_in < 0) | (p_in > 1),
            F.raise_error(
                F.concat(
                    F.lit(
                        "holm_bonferroni: p-value outside [0, 1]: "
                    ),
                    p_in.cast("string"),
                )
            ).cast("double"),
        )
        .otherwise(p_in)
        .alias("_p"),
    )
    ranked, m = global_value_rank(src, "_p", "_t")
    if m == 0:
        return ranked.select(
            F.col("_t").alias("test_id"),
            F.col("_p").alias("p_value"),
            F.col("_rank").alias("p_rank"),
            F.lit(None).cast("double").alias("p_adjusted"),
            F.lit(None).cast("int").alias("reject"),
        )
    staged = ranked.select(
        "_t",
        "_p",
        (F.col("_rank") + 1).alias("_i"),
        # (m−i+1)·p: one subtract, one multiply — the identical
        # IEEE expression on both engines (the BH discipline)
        (
            (F.lit(float(m + 1)) - F.col("_i")) * F.col("_p")
        ).alias("_s"),
    )
    p = df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        staged.repartitionByRange(p, F.col("_i"))
        .withColumn("__pid", F.spark_partition_id())
    )
    ranged = ranged.localCheckpoint(eager=True)
    maxs = {
        r["__pid"]: r["mx"]
        for r in ranged.groupBy("__pid")
        .agg(F.max("_s").alias("mx"))
        .collect()
    }
    # prefix-fold: offs[pid] = max of every EARLIER partition's max
    offs: dict = {}
    acc = None
    for pid in sorted(maxs):
        offs[pid] = acc
        acc = maxs[pid] if acc is None else max(acc, maxs[pid])
    off = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in sorted(offs)]),
            F.array(
                *[
                    F.lit(offs[k]).cast("double")
                    for k in sorted(offs)
                ]
            ),
        ),
        F.col("__pid"),
    )
    w_pre = (
        Window.partitionBy("__pid")
        .orderBy(F.asc("_i"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # F.greatest skips NULLs: the first partition (no earlier
    # offset) keeps its local running max
    adj_raw = F.least(
        F.lit(1.0), F.greatest(F.max("_s").over(w_pre), off)
    )
    return ranged.select(
        F.col("_t").alias("test_id"),
        F.col("_p").alias("p_value"),
        F.col("_i").cast("long").alias("p_rank"),
        F.round(adj_raw, 6).alias("p_adjusted"),
        (F.round(adj_raw, 9) <= F.lit(alpha))
        .cast("int")
        .alias("reject"),
    )


def eb_shrunk_rates(
    df: DataFrame, segment_col: str, success_col: str
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-segment success rates —
    the noise-proof segment leaderboard: a 3-user segment at 100%
    should NOT outrank a 10k-user segment at 60%, and ranking raw
    rates does exactly that.  A beta prior fitted to the observed
    between-segment spread (method of moments) pulls small
    segments toward the global mean in proportion to their sample
    size — the standard remedy before any per-segment readout is
    sorted, plotted or shipped.

    ONE map-side-combinable scan collapses the corpus to the
    per-segment (n, successes) relation (metadata-scale); the
    prior moments are decimal sums of 12dp-rounded segment rates
    (order-free — a plain double sum over segments would be
    partition-order-dependent), K = μ(1−μ)/σ² − 1 and
    shrunk_i = (s_i + μK)/(n_i + K).  When the observed spread
    carries no usable prior (σ² = 0, μ at a boundary, or K ≤ 0 —
    between-segment variance at or above the binomial maximum),
    the shrunk rate IS the raw rate and prior_strength is NULL:
    refusing to invent a prior is the contract.

    Returns one row per segment: (segment, n, successes,
    raw_rate, shrunk_rate, prior_strength) — rates 6dp.
    """
    seg = df.filter(
        F.col(segment_col).isNotNull()
        & F.col(success_col).isNotNull()
    ).groupBy(
        F.col(segment_col).cast("string").alias("_g")
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(
            F.when(
                F.col(success_col).cast("int").isin(0, 1),
                F.col(success_col).cast("int"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "eb_shrunk_rates: success must be "
                            "0/1, got "
                        ),
                        F.col(success_col).cast("string"),
                    )
                ).cast("int")
            )
        ).alias("_s"),
    )
    # pinned: the prior moments and the per-segment readout both
    # consume it
    seg = seg.localCheckpoint(eager=True)
    r = F.col("_s").cast("double") / F.col("_n")
    mm = seg.agg(
        F.count(F.lit(1)).alias("_k"),
        exact_sum(r, 12).alias("_sr"),
        exact_sum(r * r, 12).alias("_sr2"),
    )
    mu = F.col("_sr").cast("double") / F.col("_k")
    v2 = F.col("_sr2").cast("double") / F.col("_k") - mu * mu
    k_raw = mu * (F.lit(1.0) - mu) / v2 - 1
    prior = mm.select(
        F.when(
            (v2 > 0) & (mu > 0) & (mu < 1) & (k_raw > 0),
            k_raw,
        ).alias("_K"),
        F.when(
            (v2 > 0) & (mu > 0) & (mu < 1) & (k_raw > 0), mu
        ).alias("_mu"),
    )
    out = seg.crossJoin(F.broadcast(prior))
    shrunk = F.when(
        F.col("_K").isNotNull(),
        (
            F.col("_s").cast("double")
            + F.col("_mu") * F.col("_K")
        )
        / (F.col("_n").cast("double") + F.col("_K")),
    ).otherwise(r)
    return out.select(
        F.col("_g").alias("segment"),
        F.col("_n").cast("long").alias("n"),
        F.col("_s").cast("long").alias("successes"),
        F.round(r, 6).alias("raw_rate"),
        F.round(shrunk, 6).alias("shrunk_rate"),
        F.round(F.col("_K"), 6).alias("prior_strength"),
    )


def wasserstein_1d(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between two arms'
    value distributions — the drift metric PSI and TVD can't be:
    bin-permutation-invariant metrics score "everyone moved one
    bucket up" the same as "everyone jumped to the top"; W₁
    = ∫|F_a − F_b| dx weights shift by HOW FAR the mass moved, in
    the value's own units (dollars, tokens, latency ms).

    Scale shape: ONE corpus scan to the per-(arm, value) tie
    table; the CDF difference rides ordered windows over the
    DISTINCT-value relation (discrete or pre-bucketed values — the
    MW/JT contract); W₁ = Σ gap·|cum_a·n_b − cum_b·n_a|/(n_a·n_b)
    accumulates as EXACT integers
    (cum·n ~ N² overflows long at N≈2³¹; the value gaps are exact
    longs on bucketed data), so both engines agree bit-for-bit
    before the single rounded division.

    Returns ONE row: (group_a, group_b, n_a, n_b, n_values,
    wasserstein 6dp) — arms oriented lexicographically; exactly
    two arms required.
    """
    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("long").alias("_v"),
    )
    cells = src.groupBy("_v", "_g").agg(
        F.count(F.lit(1)).alias("_t")
    )
    cells = cells.localCheckpoint(eager=True)
    arms = [
        r["_g"]
        for r in cells.select("_g").distinct().limit(3).collect()
    ]
    if len(arms) != 2:
        raise UserException(
            f"wasserstein_1d needs exactly 2 arms, found "
            f"{sorted(arms)!r}"
        )
    ga, gb = sorted(arms)
    per_v = cells.groupBy("_v").agg(
        F.sum(
            F.when(F.col("_g") == ga, F.col("_t")).otherwise(0)
        ).alias("_ca"),
        F.sum(
            F.when(F.col("_g") == gb, F.col("_t")).otherwise(0)
        ).alias("_cb"),
    )
    w_ord = Window.orderBy("_v")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    staged = per_v.select(
        "_v",
        F.sum("_ca").over(w_cum).alias("_fa"),
        F.sum("_cb").over(w_cum).alias("_fb"),
        (F.lead("_v").over(w_ord) - F.col("_v")).alias("_gap"),
    )
    totals = per_v.agg(
        F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb")
    )
    agg = staged.crossJoin(F.broadcast(totals)).agg(
        exact_sum(
            F.when(
                F.col("_gap").isNotNull(),
                quantize("_gap", 0)
                * F.abs(
                    quantize("_fa", 0) * F.col("_nb")
                    - quantize("_fb", 0) * F.col("_na")
                ),
            ),
            0,
        ).alias("_s"),
        F.count(F.lit(1)).alias("_nv"),
        F.max("_na").alias("_na"),
        F.max("_nb").alias("_nb"),
    )
    w1 = F.when(
        (F.col("_na") > 0) & (F.col("_nb") > 0),
        F.round(
            # a single distinct value has no gaps: the empty sum is
            # NULL, but the distance is genuinely 0
            F.coalesce(F.col("_s"), F.lit(0))
            .cast("double")
            / (quantize("_na", 0) * F.col("_nb")).cast("double"),
            6,
        ),
    )
    return agg.select(
        F.lit(ga).alias("group_a"),
        F.lit(gb).alias("group_b"),
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.col("_nv").cast("long").alias("n_values"),
        w1.alias("wasserstein"),
    )


def inv_normal_upper(p: float) -> float:
    """Φ⁻¹(1−p): the upper-tail standard-normal quantile, computed
    ONCE driver-side with Acklam's rational approximation
    (|ε| < 1.15e−9 — far below the 6dp boundary convention) —
    the Bonferroni-adjusted thresholds Dunn-style post-hoc tests
    need at arbitrary α/m where the fixed Z_CRIT literals can't
    reach.  Both the operator and its oracle embed the SAME
    Python-computed literal, so no engine evaluates an inverse
    normal at run time.
    """
    if not (0.0 < p < 0.5):
        raise UserException(
            f"inv_normal_upper: p must be in (0, 0.5), got {p}"
        )
    q = 1.0 - p
    a = (
        -3.969683028665376e01, 2.209460984245205e02,
        -2.759285104469687e02, 1.383577518672690e02,
        -3.066479806614716e01, 2.506628277459239e00,
    )
    b = (
        -5.447609879822406e01, 1.615858368580409e02,
        -1.556989798598866e02, 6.680131188771972e01,
        -1.328068155288572e01,
    )
    c = (
        -7.784894002430293e-03, -3.223964580411365e-01,
        -2.400758277161838e00, -2.549732539343734e00,
        4.374664141464968e00, 2.938163982698783e00,
    )
    d = (
        7.784695709041462e-03, 3.224671290700398e-01,
        2.445134137142996e00, 3.754408661907416e00,
    )
    plow = 0.02425
    if q > 1 - plow:
        import math

        qq = math.sqrt(-2 * math.log(1 - q))
        return (
            ((((c[0] * qq + c[1]) * qq + c[2]) * qq + c[3]) * qq
             + c[4]) * qq + c[5]
        ) / ((((d[0] * qq + d[1]) * qq + d[2]) * qq + d[3]) * qq + 1)
    r = q - 0.5
    rr = r * r
    return (
        (((((a[0] * rr + a[1]) * rr + a[2]) * rr + a[3]) * rr
          + a[4]) * rr + a[5]) * r
    ) / (
        ((((b[0] * rr + b[1]) * rr + b[2]) * rr + b[3]) * rr
         + b[4]) * rr + 1
    )


def dunn_posthoc(
    df: DataFrame,
    group_col: str,
    value_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Dunn's post-hoc test — the step AFTER a significant
    :func:`kruskal_wallis`: WHICH group pairs actually differ,
    on the same pooled midranks the omnibus test used (re-ranking
    per pair, what naive pairwise Mann-Whitneys do, is the
    textbook mistake Dunn exists to avoid), with the Bonferroni
    familywise adjustment across the k(k−1)/2 comparisons.

    Scale shape: ONE corpus scan to the (group, value) tie table;
    pooled midranks ride the distributed exclusive cumsum
    (features.global_weighted_cumsum — doubled-rank integers);
    per-group rank sums are exact integer products; the
    pairwise readout is a self-join of the k-row group summary
    (metadata-scale).  The tie-corrected variance
    N(N+1)/12 − Σ(t³−t)/(12(N−1)) folds tie cubes as DECIMAL; the
    significance threshold Φ⁻¹(1−α/(2m)) is computed ONCE
    driver-side (:func:`inv_normal_upper`) and compared against
    the 6dp-ROUNDED |z| (the house boundary rule).  Discrete or
    pre-bucketed values — the MW/JT contract.

    Returns one row per unordered pair (a < b): (group_a,
    group_b, n_a, n_b, mean_rank_a, mean_rank_b, z, significant).
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_weighted_cumsum,
    )

    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    )
    per_gv = src.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).alias("_t")
    )
    per_gv = per_gv.localCheckpoint(eager=True)
    per_v = per_gv.groupBy("_v").agg(F.sum("_t").alias("_tv"))
    ranked = global_weighted_cumsum(per_v, "_v", "_tv")
    # doubled midrank: 2r = 2·cum + t + 1 (exact integers)
    ranked = ranked.select(
        "_v",
        "_tv",
        (2 * F.col("_cum") + F.col("_tv") + 1).alias("_r2"),
    )
    joined = per_gv.join(F.broadcast(ranked), "_v")
    grp = joined.groupBy("_g").agg(
        F.sum("_t").alias("_n"),
        exact_sum_product("_t", F.col("_r2"), 0).alias("_s2"),
    )
    grp = grp.localCheckpoint(eager=True)
    k = grp.count()
    m = k * (k - 1) // 2
    if m == 0:
        raise UserException(
            "dunn_posthoc needs >= 2 groups with data"
        )
    zcrit = inv_normal_upper(alpha / 2.0 / m)
    ties = ranked.agg(
        exact_sum(
            quantize("_tv", 0) * (F.col("_tv") - 1) * (F.col("_tv") + 1), 0
        ).alias("_tt"),
        F.sum("_tv").alias("_N"),
    )
    a = grp.select(
        F.col("_g").alias("_ga"),
        F.col("_n").alias("_na"),
        F.col("_s2").alias("_sa"),
    )
    b = grp.select(
        F.col("_g").alias("_gb"),
        F.col("_n").alias("_nb"),
        F.col("_s2").alias("_sb"),
    )
    pairs = a.join(b, F.col("_ga") < F.col("_gb")).crossJoin(
        F.broadcast(ties)
    )
    n_d = F.col("_N").cast("double")
    ra = F.col("_sa").cast("double") / (
        F.lit(2.0) * F.col("_na").cast("double")
    )
    rb = F.col("_sb").cast("double") / (
        F.lit(2.0) * F.col("_nb").cast("double")
    )
    var_core = n_d * (n_d + 1) / 12 - F.col("_tt").cast(
        "double"
    ) / (F.lit(12.0) * (n_d - 1))
    se = F.sqrt(
        var_core
        * (
            F.lit(1.0) / F.col("_na").cast("double")
            + F.lit(1.0) / F.col("_nb").cast("double")
        )
    )
    z = F.when(
        (var_core > 0) & (F.col("_N") > 1),
        F.round((ra - rb) / se, 6),
    )
    return pairs.select(
        F.col("_ga").alias("group_a"),
        F.col("_gb").alias("group_b"),
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(ra, 6).alias("mean_rank_a"),
        F.round(rb, 6).alias("mean_rank_b"),
        z.alias("z"),
        F.coalesce(
            (F.abs(z) > F.lit(zcrit)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def brunner_munzel(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Brunner–Munzel test — the modern replacement for
    Mann–Whitney when the two arms' distributions can differ in
    SHAPE, not just location (the Behrens–Fisher situation for
    ranks): MW's variance assumes exchangeability under the null,
    and unequal spreads inflate its false-positive rate; BM
    estimates each arm's rank variance separately (the Welch idea
    applied to ranks) and tests P(X<Y)+½P(X=Y) = ½ directly —
    the relative effect p̂ it also reports.

    Scale shape: ONE corpus scan to the (arm, value) tie table;
    POOLED midranks ride the distributed exclusive cumsum
    (doubled-rank integers), WITHIN-arm midranks ride a window
    partitioned by arm over the same tie table (metadata-scale
    under the MW/JT discrete-values contract).  Every observation
    in a cell shares its (pooled − within) rank difference, so the
    per-arm moments Σt·D, Σt·D² are exact integer
    sums in doubled-rank space — the variance recombination and
    the Satterthwaite df are identical double chains both
    engines.  Exactly two arms (refused loudly); the flag
    compares the 6dp-ROUNDED |W| vs 1.959964 (large-sample normal
    — at corpus n the t(df) refinement is sub-ulp).

    Returns ONE row: (group_a, group_b, n_a, n_b, p_hat, w, df,
    significant) — p̂ = P(a<b)+½P(=); W/df NULL when both rank
    variances degenerate (all values tied).
    """
    from component_delta_lake_writer_spark.operators.features import (
        global_weighted_cumsum,
    )

    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    )
    per_gv = src.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).alias("_t")
    )
    per_gv = per_gv.localCheckpoint(eager=True)
    arms = [
        r["_g"]
        for r in per_gv.select("_g").distinct().limit(3).collect()
    ]
    if len(arms) != 2:
        raise UserException(
            f"brunner_munzel needs exactly 2 arms, found "
            f"{sorted(arms)!r}"
        )
    ga, gb = sorted(arms)
    per_v = per_gv.groupBy("_v").agg(F.sum("_t").alias("_tv"))
    pooled = global_weighted_cumsum(per_v, "_v", "_tv").select(
        "_v",
        (2 * F.col("_cum") + F.col("_tv") + 1).alias("_p2"),
    )
    w_grp = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = per_gv.select(
        "_g",
        "_v",
        "_t",
        (
            2 * F.coalesce(F.sum("_t").over(w_grp), F.lit(0))
            + F.col("_t")
            + 1
        ).alias("_w2"),
    ).join(F.broadcast(pooled), "_v")
    d2 = F.col("_p2") - F.col("_w2")
    grp = staged.groupBy("_g").agg(
        F.sum("_t").alias("_n"),
        exact_sum_product("_t", F.col("_p2"), 0).alias("_B"),
        exact_sum_product("_t", d2, 0).alias("_A"),
        exact_sum(quantize("_t", 0) * d2 * d2, 0).alias("_Q"),
    )

    def pick(g, c):
        return F.max(F.when(F.col("_g") == g, F.col(c)))

    agg = grp.agg(
        pick(ga, "_n").alias("_na"),
        pick(ga, "_B").alias("_ba"),
        pick(ga, "_A").alias("_aa"),
        pick(ga, "_Q").alias("_qa"),
        pick(gb, "_n").alias("_nb"),
        pick(gb, "_B").alias("_bb"),
        pick(gb, "_A").alias("_ab"),
        pick(gb, "_Q").alias("_qb"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    n_tot = na + nb
    # 4·S² per arm from the doubled-rank moments
    s4a = (
        F.col("_qa").cast("double")
        - F.col("_aa").cast("double")
        * F.col("_aa").cast("double")
        / na
    ) / (na - 1)
    s4b = (
        F.col("_qb").cast("double")
        - F.col("_ab").cast("double")
        * F.col("_ab").cast("double")
        / nb
    ) / (nb - 1)
    ta = na * s4a
    tb = nb * s4b
    p_hat = (
        F.col("_bb").cast("double") / nb - (nb + 1)
    ) / (F.lit(2.0) * na)
    w = (
        na
        * nb
        * (
            F.col("_bb").cast("double") / nb
            - F.col("_ba").cast("double") / na
        )
        / (n_tot * F.sqrt(ta + tb))
    )
    dof = (
        (ta + tb)
        * (ta + tb)
        / (ta * ta / (na - 1) + tb * tb / (nb - 1))
    )
    ok = (
        (F.col("_na") >= 2)
        & (F.col("_nb") >= 2)
        & (ta + tb > 0)
    )
    w_r = F.when(ok, F.round(w, 6))
    return agg.select(
        F.lit(ga).alias("group_a"),
        F.lit(gb).alias("group_b"),
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(p_hat, 6).alias("p_hat"),
        w_r.alias("w"),
        F.when(ok & (ta * ta + tb * tb > 0), F.round(dof, 2)).alias(
            "df"
        ),
        F.coalesce(
            (F.abs(w_r) > F.lit(1.959964)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def welch_anova(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Welch's ANOVA — the k-group mean comparison that does NOT
    assume equal variances: classic :func:`anova_oneway` pools the
    within-group variance, and when :func:`brown_forsythe` rejects
    homogeneity that pooling is exactly the invalid step.  The
    triangle closes: BF gates, classic ANOVA for homogeneous
    spreads, Welch for the rest (the welch_ttest idea at k
    groups), with the Welch–Satterthwaite denominator df.

    ONE map-side-combinable scan accumulates per-group n/Σv/Σv²
    at 4dp (the welch exact-sum discipline); the k-row
    group relation collapses to ONE row of group-sorted arrays,
    and every cross-group reduction (ΣW, the weighted grand mean,
    the F* numerator, the df term) is a SEQUENTIAL left fold in
    group order — a groupBy sum of doubles would be
    partition-order-dependent; the fold is the deterministic
    spelling both engines share.  The significance flag compares
    F* against the conservative limiting-df F table at df1 = k−1
    (the anova_oneway convention).

    Returns ONE row: (k_groups, n_rows, f_star, df1, df2,
    significant) — NULL statistics when any group has n < 2 or a
    degenerate variance.
    """
    src = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    )
    grp = src.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        exact_sum("_v", 4).alias("_s"),
        exact_sum_product("_v", "_v", 4).alias("_ss"),
    )
    one = grp.agg(
        F.array_sort(
            F.collect_list(F.struct("_g", "_n", "_s", "_ss"))
        ).alias("_r")
    )
    m_of = lambda r: r["_s"].cast("double") / r["_n"]
    one = one.select(
        F.size("_r").alias("_k"),
        F.transform(F.col("_r"), lambda r: r["_n"]).alias("_ns"),
        F.transform(F.col("_r"), m_of).alias("_ms"),
        F.transform(
            F.col("_r"),
            lambda r: (
                r["_ss"].cast("double")
                - r["_n"].cast("double") * m_of(r) * m_of(r)
            )
            / (r["_n"] - 1),
        ).alias("_vs"),
    )

    def fold(arr):
        return F.aggregate(
            arr, F.lit(0.0), lambda acc, x: acc + x
        )

    one = one.select(
        "_k",
        "_ns",
        "_ms",
        "_vs",
        F.aggregate(
            F.col("_ns"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("_N"),
        F.transform(
            F.sequence(F.lit(1), F.col("_k")),
            # try_divide: a zero-variance group would otherwise throw
            # DIVIDE_BY_ZERO under ANSI before the `ok` gate below can
            # NULL the statistics — the weight is only consumed when
            # _vmin > 0, where try_divide ≡ divide bit-for-bit.
            lambda i: F.try_divide(
                F.element_at(F.col("_ns"), i).cast("double"),
                F.element_at(F.col("_vs"), i),
            ),
        ).alias("_ws"),
        F.array_min("_vs").alias("_vmin"),
        F.array_min("_ns").alias("_nmin"),
    )
    one = one.select(
        "*", fold(F.col("_ws")).alias("_W")
    ).select(
        "*",
        (
            fold(
                F.zip_with(
                    F.col("_ws"),
                    F.col("_ms"),
                    lambda w, m: w * m,
                )
            )
            / F.col("_W")
        ).alias("_xw"),
    )
    k_d = F.col("_k").cast("double")
    a_num = fold(
        F.zip_with(
            F.col("_ws"),
            F.col("_ms"),
            lambda w, m: w
            * (m - F.col("_xw"))
            * (m - F.col("_xw")),
        )
    ) / (k_d - 1)
    c_term = fold(
        F.transform(
            F.sequence(F.lit(1), F.col("_k")),
            lambda i: (
                F.lit(1.0)
                - F.element_at(F.col("_ws"), i) / F.col("_W")
            )
            * (
                F.lit(1.0)
                - F.element_at(F.col("_ws"), i) / F.col("_W")
            )
            / (F.element_at(F.col("_ns"), i) - 1),
        )
    )
    b_term = (
        F.lit(2.0) * (k_d - 2) / (k_d * k_d - 1) * c_term
    )
    f_star = a_num / (F.lit(1.0) + b_term)
    df2 = (k_d * k_d - 1) / (F.lit(3.0) * c_term)
    ok = (
        (F.col("_k") >= 2)
        & (F.col("_nmin") >= 2)
        & (F.col("_vmin") > 0)
    )
    f_r = F.when(ok, F.round(f_star, 6))
    crit = F.element_at(
        F.array(*[F.lit(v) for v in F_CRIT_1PCT]),
        F.least(
            F.col("_k") - 1, F.lit(len(F_CRIT_1PCT))
        ).cast("int"),
    )
    return one.select(
        F.col("_k").cast("long").alias("k_groups"),
        F.col("_N").cast("long").alias("n_rows"),
        f_r.alias("f_star"),
        (F.col("_k") - 1).cast("long").alias("df1"),
        F.when(ok & (c_term > 0), F.round(df2, 2)).alias("df2"),
        F.coalesce(
            (f_r > crit).cast("int"), F.lit(0)
        ).alias("significant"),
    )
