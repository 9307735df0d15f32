"""Deterministic sampling: hash-Bernoulli, stratified, train/test split.

Beyond-reference extension (build brief: operations a large-scale
training-data pipeline needs). All sampling here is HASH-based, not
RNG-based: membership is a pure function of the row id
(md5-prefix % 100 against a per-stratum threshold), which buys three
properties RNG sampling (``df.sample``/``sampleBy``) cannot give at
100 TB:

- reproducible across runs, engines, partitionings, and retries (a
  task retry resamples identically — RNG + nondeterministic task
  replay silently duplicates/drops rows, see the salted-join lesson);
- stable under data growth: a row's membership never flips when other
  rows arrive, so incremental pipelines can sample append-only;
- oracle-checkable: the DuckDB twin computes the identical set.

The hash is the engine's portable hash (``functions/hashing.py``),
uniform enough for sampling buckets by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.hashing import portable_hash


def _bucket(id_name: str, salt: str, buckets: int = 100) -> Column:
    """Deterministic uniform bucket in [0, buckets): the portable hash
    of '<salt>:<id>' mod buckets.

    Every sampler passes its OWN salt: with a shared unsalted hash,
    composed samplers key on the identical bucket of the same id, so
    hash_sample(20%) then train_test_split(10%) yields a ~50% test
    fraction (bucket<10 is a subset of bucket<20) instead of the
    independent 10% — measured, not hypothetical. Distinct salts make
    the draws independent."""
    return portable_hash(_salted(id_name, salt)) % buckets


def _salted(id_name: str, salt: str) -> Column:
    """'<salt>:<id>' as a string."""
    return F.concat(F.lit(f"{salt}:"), F.col(id_name).cast("string"))


def _uniform(id_name: str, salt: str) -> Column:
    """u = (hash + 1) / 2^32 of '<salt>:<id>' in (0, 1], as a double."""
    return (
        portable_hash(_salted(id_name, salt)).cast("double") + 1.0
    ) / F.lit(4294967296.0)


def hash_sample(df: DataFrame, id_col: str, percent: int) -> DataFrame:
    """Keep ~percent% of rows, deterministically by id hash."""
    return df.filter(_bucket(id_col, salt="sample") < percent)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k rows: the
    Efraimidis–Spirakis A-ES scheme ("Weighted random sampling with
    a reservoir", IPL 2006) — each row draws key = u^(1/w) from a
    uniform u and the k LARGEST keys win; inclusion probability is
    then proportional to weight at every prefix.  The quota/Bernoulli
    samplers above keep *fractions*; this is the exact-k,
    importance-proportional draw a mixture pipeline needs ("give me
    100k docs, quality-weighted").

    The uniform is the house HASH idiom, not RNG: u = (md5-prefix32
    + 1) / 2^32 of '<salt>:<id>' — reproducible across runs, engines,
    partitionings and task retries, stable under appends (a row's key
    never changes as other rows arrive, so yesterday's draw is
    today's prefix), and oracle-replayable in ANSI SQL.  Selection is
    a single TakeOrdered top-k (no full sort materializes — the same
    O(k)-per-partition heap every top-k in the engine rides); ties
    (u = 1, or equal weights with equal hashes) break on id, so the
    set is a deterministic function of the data.  Rows with NULL or
    non-positive weight never qualify (a zero weight must have zero
    inclusion probability; u^(1/0) is undefined).

    Returns (id, weight, sample_key) for the k winners, sample_key
    rounded 6dp (the key is the audit trail: re-running with a
    larger k extends, never reshuffles, the selection).
    """
    if k < 1:
        raise ValueError(f"weighted_sample needs k >= 1, got {k}")
    u = _uniform(id_col, salt)
    w = F.col(weight_col).cast("double")
    key = F.pow(u, 1.0 / w)
    return (
        df.filter(w.isNotNull() & (w > 0))
        .select(
            F.col(id_col),
            w.alias("weight"),
            key.alias("_key"),
        )
        .orderBy(F.col("_key").desc(), F.col(id_col).asc())
        .limit(k)
        .select(
            id_col, "weight", F.round("_key", 6).alias("sample_key")
        )
    )


def weighted_sample_by_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """``weighted_sample`` per group: the k heaviest-keyed rows of
    EACH group value — "top 1,000 docs per domain, quality-weighted",
    the shape that keeps a mixture balanced while sampling
    proportionally within each source.  Same Efraimidis–Spirakis
    exponential keys over the house hash (identical guarantees:
    deterministic, retry/append-stable, prefix-extensible per group);
    selection is ONE shuffle on the group key + a windowed
    row_number — groups prune in parallel, nothing global
    materializes.  Returns (group, id, weight, sample_key, rank).
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(
            f"weighted_sample_by_group needs k >= 1, got {k}"
        )
    u = _uniform(id_col, salt)
    w = F.col(weight_col).cast("double")
    win = Window.partitionBy(group_col).orderBy(
        F.col("_key").desc(), F.col(id_col).asc()
    )
    return (
        df.filter(w.isNotNull() & (w > 0))
        .select(
            F.col(group_col),
            F.col(id_col),
            w.alias("weight"),
            F.pow(u, 1.0 / w).alias("_key"),
        )
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            group_col, id_col, "weight",
            F.round("_key", 6).alias("sample_key"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def stratified_sample(
    df: DataFrame, strata_col: str, percents: dict[str, int], id_col: str
) -> DataFrame:
    """Per-stratum deterministic sampling: ``percents`` maps stratum
    value → kept percentage (0-100); unlisted strata are dropped.
    One narrow filter, no shuffle, no RNG state."""
    b = _bucket(id_col, salt="strata")
    thresh = None
    for val, pct in sorted(percents.items()):
        c = F.when(F.col(strata_col) == val, F.lit(pct))
        thresh = c if thresh is None else thresh.when(
            F.col(strata_col) == val, F.lit(pct)
        )
    thresh = thresh.otherwise(F.lit(0)) if thresh is not None else F.lit(0)
    return df.filter(b < thresh)


def train_test_split(
    df: DataFrame, id_col: str, test_percent: int = 10
) -> DataFrame:
    """Adds a deterministic ``split`` column ('test' for ~test_percent%
    of rows, else 'train'). Membership is stable under appends and
    retries — the property that keeps eval sets leak-free across
    incremental training-data runs."""
    return df.withColumn(
        "split",
        F.when(_bucket(id_col, salt="split") < test_percent, F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    id_col: str,
    budget: int,
    strata_col: str | None = None,
) -> DataFrame:
    """Sequential greedy packing: assign each doc to a bin so bins
    hold ~``budget`` tokens, in deterministic id order — the
    context-window packing step of a pretraining data pipeline.

    bin = ceil(running_token_sum / budget) - 1 over (strata, id
    order): pure window cumsum, no RNG, rerun-stable. A doc straddling
    a boundary lands in the bin where it ends (docs are not split —
    compose with chunk_documents first when they must be). With
    ``strata_col`` the cumsum window partitions by stratum, so packing
    parallelizes across strata instead of serializing on one global
    ordered window (the 100 TB posture: pick strata ≫ executor count).
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(strata_col) if strata_col else Window.partitionBy()
    ).orderBy(id_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(F.col(token_col)).over(w)
    # floor((cum-1)/budget) == ceil(cum/budget)-1 for cum ≥ 1; floor on
    # both engines (a bare BIGINT cast truncates in Spark but ROUNDS in
    # DuckDB — a real cross-engine trap on exact boundaries). The
    # greatest(cum, 1) guard keeps ZERO-TOKEN docs at a stratum's head
    # in bin 0 — the raw formula put them in a nonexistent bin -1.
    return df.withColumn(
        "bin",
        F.floor(
            (F.greatest(cum, F.lit(1)) - F.lit(1)) / F.lit(budget)
        ).cast("long"),
    )


def importance_sample(
    df: DataFrame, id_col: str, rate_col: Column
) -> DataFrame:
    """Quality-weighted (importance) sampling: keep a row with
    probability ``rate_col``% (an integer 1-100 column, typically a
    CASE over a quality signal), and attach the inverse-probability
    ``weight`` = 100/rate so downstream token/loss statistics over the
    sample remain unbiased estimates of the full corpus — the standard
    quality-upsampling move of a pretraining data mix.

    Membership reuses the deterministic hash bucket (not RNG), so the
    same row set survives reruns, task retries, and engine swaps, and
    a row's membership never flips as the corpus grows."""
    return df.withColumn("_rate", rate_col).filter(
        _bucket(id_col, salt="imp") < F.col("_rate")
    ).withColumn(
        "weight", F.round(F.lit(100.0) / F.col("_rate"), 6)
    ).drop("_rate")


def domain_cap(
    df: DataFrame,
    group_col: str,
    cap: int,
    order_col: str,
    id_col: str,
    descending: bool = True,
) -> DataFrame:
    """Per-domain document cap (domain balancing): keep at most ``cap``
    rows per ``group_col`` value, preferring high ``order_col`` (ties
    broken by ``id_col`` so the kept set is a pure function of the
    data). The standard guard against a single crawl domain dominating
    a pretraining mix.

    One shuffle on ``group_col`` (the row_number window); no global
    sort. At 100 TB a skewed mega-domain concentrates its partition,
    but the window is rank-then-filter — state per partition is O(1),
    and AQE splits oversized post-shuffle partitions."""
    from pyspark.sql.window import Window

    key = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(group_col).orderBy(key, F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def token_budget_sample(
    df: DataFrame,
    group_col: str,
    budget: int,
    tokens_col: str,
    id_col: str,
) -> DataFrame:
    """Greedy token-budget prefix per group: walk each group's rows in
    ``id_col`` order and keep rows until the group's cumulative token
    count reaches ``budget`` — how a training mix is cut to "N tokens
    per source". A row is kept when the tokens BEFORE it are under
    budget (so the budget is always reached, never undershot by a
    large final document).

    Deterministic (integer running sum over a total order), one
    shuffle on ``group_col``, and incremental-friendly: appending new
    rows with higher ids never flips membership of earlier rows."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(F.col(tokens_col)).over(w)
    return (
        df.withColumn("_cum_tokens", cum)
        .filter(F.col("_cum_tokens") - F.col(tokens_col) < budget)
    )


def temperature_quota(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    budget: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-flattened mixture quotas — the multilingual /
    multi-source α-sampling play (sample source i with probability
    ∝ share_iᵅ, α<1 boosting low-resource sources).

    Returns one row per group: exact integer ``n_weight``, its raw
    ``share``, the flattened ``p_temp``, and ``quota`` =
    round(p_temp·budget).

    Plan shape: one partial-agg shuffle down to #groups rows, then a
    single unpartitioned window over those few rows — trivially
    cluster-safe (groups are sources/languages, countable by hand).

    Numeric determinism (the engine's oracle rule): the only
    cross-row float reduction — the normalization denominator — runs
    in integer micro-units (each αth power rounded to 1e-6 first), so
    no float-sum ordering can flip a digit between engines. α=0.5
    uses sqrt (IEEE correctly-rounded everywhere); other α use pow,
    which may differ by 1 ulp across libm implementations — fine for
    production, avoided in oracle probes.
    """
    from pyspark.sql.window import Window

    agg = df.groupBy(group_col).agg(
        # round-then-cast: a bare BIGINT cast TRUNCATES in Spark but
        # ROUNDS in DuckDB (the file's own cross-engine rule) — a
        # fractional weight column would diverge the whole mix
        F.round(F.sum(weight_col)).cast("long").alias("n_weight")
    )
    w = Window.partitionBy()
    total = F.sum("n_weight").over(w)  # integer sum — exact
    share = F.col("n_weight").cast("double") / total.cast("double")
    powered = F.sqrt(share) if alpha == 0.5 else F.pow(share, F.lit(alpha))
    micro = F.round(powered * 1_000_000).cast("long")
    out = agg.select(
        group_col,
        "n_weight",
        F.round(share, 6).alias("share"),
        micro.alias("_micro"),
    )
    denom = F.sum("_micro").over(w)  # integer sum — exact
    p_temp = F.round(
        F.col("_micro").cast("double") / denom.cast("double"), 6
    )
    return (
        out.withColumn("p_temp", p_temp)
        .withColumn(
            "quota", F.round(F.col("p_temp") * F.lit(budget)).cast("long")
        )
        .drop("_micro")
    )


def quantile_bucket_sample(
    df: DataFrame,
    metric_col: str,
    id_col: str,
    buckets: int = 4,
    rates: list[int] | None = None,
) -> DataFrame:
    """Quantile-stratified sampling: rank rows into ``buckets``
    NTILE quantiles of ``metric_col`` (ties broken by ``id_col`` — a
    total order, so bucket membership is deterministic), then keep a
    different hash-sample rate per bucket. The quality-curriculum
    shape: oversample the best quantile, keep a trickle of the worst
    for robustness.

    One global-sort window for the NTILE (at 100 TB swap for
    approx-quantile cut points + a broadcast range join if the sort
    becomes the bottleneck — same semantics, documented trade), then
    the rate filter is embarrassingly parallel."""
    from pyspark.sql.window import Window

    if rates is None:
        if buckets != 4:
            raise ValueError(
                "the default rate ladder is 4 buckets; pass rates= for "
                f"buckets={buckets}"
            )
        rates = [10, 25, 50, 100]
    if len(rates) != buckets:
        raise ValueError("need one rate per bucket")
    w = Window.orderBy(F.col(metric_col), F.col(id_col))
    tiled = df.withColumn("bucket", F.ntile(buckets).over(w))
    rate = F.element_at(
        F.array(*[F.lit(r) for r in rates]), F.col("bucket")
    )
    return tiled.filter(_bucket(id_col, salt="qtile") < rate)


def shard_export(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: int = 0,
    range_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global shuffle + exactly-balanced shard assignment
    — the export step before pretraining: rows are ordered by a seeded
    hash of their id (a reproducible permutation; change the seed,
    change the epoch order) and dealt round-robin into ``n_shards``
    shards whose sizes differ by at most one (hash-mod sharding leaves
    ±sqrt(n) imbalance, which at trillion-token scale is whole idle
    accelerators).

    Scale shape: the global rank is computed WITHOUT a single-partition
    sort — range-repartition on the hash, local sort + local
    row_number per partition, then one tiny per-partition count
    collect whose cumulative offsets lift local ranks to global ones
    (the DataFrame spelling of zipWithIndex). Wrong-by-construction
    alternative: ``row_number() OVER (ORDER BY h)``, which Spark
    executes on ONE partition.

    Returns df + (shuffle_rank, shard).
    """
    from pyspark.sql.window import Window

    h = F.md5(
        F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    p = range_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.withColumn("__h", h)
        .repartitionByRange(p, "__h")
        .withColumn("__pid", F.spark_partition_id())
    )
    # localCheckpoint, not persist: (1) repartitionByRange SAMPLES to
    # pick boundaries, so an un-materialized (or recomputed) plan can
    # produce different pids than the counts collected below — the
    # stored partitions are the only correct input for both; (2) the
    # blocks are released by the ContextCleaner when the returned
    # DataFrame is dropped, where a bare persist with no caller-facing
    # handle pinned the full corpus cache for the app lifetime.
    ranged = ranged.localCheckpoint(eager=True)
    counts = {
        r["__pid"]: r["n"]
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in sorted(offsets)]),
            F.array(*[F.lit(offsets[k]) for k in sorted(offsets)]),
        ),
        F.col("__pid"),
    )
    # id tie-break: rows SHARING an id share __h, and row_number over
    # __h alone would order them task-dependently — the export must be
    # a pure function of (data, seed), duplicates included
    w = Window.partitionBy("__pid").orderBy("__h", F.col(id_col))
    return (
        ranged.withColumn(
            "shuffle_rank", (off + F.row_number().over(w) - 1).cast("long")
        )
        .withColumn(
            "shard", (F.col("shuffle_rank") % n_shards).cast("int")
        )
        .drop("__h", "__pid")
    )
