"""General two-table as-of join (pandas ``merge_asof`` / DuckDB
``ASOF JOIN`` parity) as a one-shuffle ordered-stream plan.

A naive as-of join is a range join — O(n·m) nested-loop without a
special interval optimizer (Spark has none). The scalable formulation
unions both sides into ONE keyed, time-ordered stream and takes a
running last-non-null of the right payload over a window: one shuffle
on the key, a linear scan per key partition, no join at all. The same
shape Databricks' ASOF optimization and kdb's aj reduce to.

Directions: ``backward`` (greatest right ts <= left ts — the default
everywhere), ``forward`` (least right ts >= left ts), ``nearest``
(closer of the two; backward wins ties, matching pandas).
``tolerance`` (same units as ``on``) nulls matches farther than the
bound.

Determinism contract: the right side must be unique per (by, on) —
two right rows at the same key+timestamp make "the" as-of value
ill-defined in every engine (pandas takes physical order, DuckDB an
arbitrary one). ``merge_asof`` pre-asserts uniqueness only when
``check_unique=True`` (an extra aggregation; off by default for the
100 TB path — callers that just built the right side know its shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.errors import UserException
from component_delta_lake_writer_spark.functions.exact import (
    exact_sum,
    exact_sum_product,
    quantize,
)


def merge_asof(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str] | None = None,
    direction: str = "backward",
    tolerance=None,
    suffix: str = "_r",
    check_unique: bool = False,
) -> DataFrame:
    """For every left row, attach the right row nearest in ``on``
    per ``direction`` (grouped by ``by``), or typed NULLs when none
    (or none within ``tolerance``). Output: all left columns + every
    right non-key column suffixed with ``suffix``.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise UserException(
            f"merge_asof direction must be backward/forward/nearest, "
            f"got {direction!r}"
        )
    by = by or []
    reserved = {"_on", "_l", "_r", "_side", "_back", "_fwd", "_m"}
    clash = reserved & (set(left.columns) | set(right.columns) | set(by))
    if clash:
        raise UserException(
            f"merge_asof reserves internal column names {sorted(clash)}; "
            "rename those inputs first."
        )
    out_clash = {
        f"{c}{suffix}" for c in right.columns if c != on and c not in by
    } & set(left.columns)
    if out_clash:
        raise UserException(
            f"merge_asof suffix {suffix!r} collides with existing left "
            f"columns {sorted(out_clash)}; pass a different suffix."
        )
    if check_unique:
        dup = (
            right.groupBy(*by, on).count().filter(F.col("count") > 1)
            .limit(1).count()
        )
        if dup:
            raise UserException(
                "merge_asof right side has duplicate (by, on) rows; "
                "the as-of value would be engine-dependent."
            )
    r_payload = [c for c in right.columns if c != on and c not in by]

    lhs = left.select(
        *[F.col(c) for c in by],
        F.col(on).alias("_on"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        F.lit(None).cast(
            right.select(
                F.struct(
                    F.col(on).alias("_r_on"),
                    *[F.col(c) for c in r_payload],
                ).alias("x")
            ).schema["x"].dataType
        ).alias("_r"),
    )
    rhs = right.select(
        *[F.col(c) for c in by],
        F.col(on).alias("_on"),
        F.lit(None).cast(
            left.select(
                F.struct(*[F.col(c) for c in left.columns]).alias("x")
            ).schema["x"].dataType
        ).alias("_l"),
        F.struct(
            F.col(on).alias("_r_on"), *[F.col(c) for c in r_payload]
        ).alias("_r"),
    )
    allrows = lhs.unionByName(rhs)

    # _side orders right rows BEFORE left rows at equal `on`, so an
    # exactly-simultaneous right row is eligible for backward (<=)
    # and forward (>=) alike
    side = F.when(F.col("_r").isNotNull(), F.lit(0)).otherwise(F.lit(1))
    allrows = allrows.withColumn("_side", side)

    back_w = (
        Window.partitionBy(*by)
        .orderBy(F.col("_on").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd_w = (
        Window.partitionBy(*by)
        .orderBy(F.col("_on").desc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    need_back = direction in ("backward", "nearest")
    need_fwd = direction in ("forward", "nearest")
    df = allrows
    if need_back:
        df = df.withColumn(
            "_back", F.last("_r", ignorenulls=True).over(back_w)
        )
    if need_fwd:
        df = df.withColumn(
            "_fwd", F.last("_r", ignorenulls=True).over(fwd_w)
        )
    df = df.filter(F.col("_l").isNotNull())

    def _within(match):
        if tolerance is None:
            return match
        dist = F.abs(F.col("_on") - match["_r_on"])
        return F.when(dist <= F.lit(tolerance), match)

    if direction == "backward":
        chosen = _within(F.col("_back"))
    elif direction == "forward":
        chosen = _within(F.col("_fwd"))
    else:  # nearest: closer wins, backward wins ties (pandas rule)
        b = _within(F.col("_back"))
        f = _within(F.col("_fwd"))
        d_b = F.abs(F.col("_on") - b["_r_on"])
        d_f = F.abs(F.col("_on") - f["_r_on"])
        chosen = (
            F.when(b.isNull(), f)
            .when(f.isNull(), b)
            .when(d_f < d_b, f)
            .otherwise(b)
        )
    df = df.withColumn("_m", chosen)
    out_cols = [F.col("_l")[c].alias(c) for c in left.columns]
    out_cols.append(F.col("_m")["_r_on"].alias(f"{on}{suffix}"))
    out_cols.extend(F.col("_m")[c].alias(f"{c}{suffix}") for c in r_payload)
    return df.select(*out_cols)


def interpolate_linear(
    df: DataFrame,
    on: str,
    value_col: str,
    by: list[str] | None = None,
) -> DataFrame:
    """Linear interpolation of NULL values along ``on`` (per ``by``
    group): each missing value becomes the straight line between its
    nearest known neighbors; rows before the first or after the last
    known point stay NULL (no extrapolation — matching pandas
    ``interpolate(limit_area='inside')``).

    One shuffle on the group key; two windows over the same ordering
    (previous-known via last-ignore-nulls, next-known via the reversed
    frame) — the gap-fill sibling of LOCF for continuous measures
    (sensor feeds, price curves) where carrying the last observation
    flat would bias downstream aggregates.
    """
    by = by or []
    # duplicate-`on` determinism: a NULL row co-located with a known
    # value at the SAME timestamp adopts it up front — otherwise the
    # asc and desc windows break the tie in independent arbitrary
    # orders and the output varies across runs
    w_same = Window.partitionBy(*by, on)
    df = df.withColumn(
        value_col, F.coalesce(F.col(value_col), F.max(value_col).over(w_same))
    )
    w_prev = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).asc(), F.col(value_col).asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).desc(), F.col(value_col).desc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    known = F.when(
        F.col(value_col).isNotNull(),
        F.struct(F.col(on).alias("_t"), F.col(value_col).alias("_v")),
    )
    df = (
        df.withColumn("_pk", F.last(known, ignorenulls=True).over(w_prev))
        .withColumn("_nk", F.last(known, ignorenulls=True).over(w_next))
    )
    p, n = F.col("_pk"), F.col("_nk")
    t = F.col(on).cast("double")
    interp = F.when(F.col(value_col).isNotNull(), F.col(value_col)).when(
        p.isNotNull() & n.isNotNull() & (n["_t"] != p["_t"]),
        p["_v"]
        + (n["_v"] - p["_v"])
        * (t - p["_t"].cast("double"))
        / (n["_t"].cast("double") - p["_t"].cast("double")),
    )
    return df.withColumn(value_col, interp).drop("_pk", "_nk")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 1800,
) -> DataFrame:
    """Point-in-interval range join as a BUCKETIZED equi-join.

    A naive ``points JOIN intervals ON p >= s AND p < e`` is a theta
    join — Spark plans it as broadcast-nested-loop (or a cartesian
    when neither side fits), O(|points| x |intervals|) comparisons.
    Bucketizing time into fixed ``bucket_seconds`` windows turns it
    into an equi-join: each interval explodes to the buckets it
    covers (bounded by interval span / bucket width), each point maps
    to exactly one bucket, and the residual predicate filters inside
    the matched bucket. Every join key is a bucket id, so at 100 TB
    both sides hash-partition on it — no pairwise expansion ever.

    Timestamps are compared at microsecond precision; intervals are
    half-open [start, end). Returns points x matching-interval rows
    (all columns from both sides)."""
    w_us = int(bucket_seconds) * 1_000_000
    # NTZ-tolerant: the session tz is UTC, so the cast is value-exact
    p_us = F.unix_micros(F.col(point_col).cast("timestamp"))
    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_col).cast("timestamp"))
    pb = points.withColumn("_rj_bucket", F.floor(p_us / F.lit(w_us)))
    ib = (
        intervals.withColumn(
            "_rj_bucket",
            F.explode(
                F.sequence(
                    F.floor(s_us / F.lit(w_us)),
                    # end is EXCLUSIVE: an interval ending exactly on a
                    # bucket edge does not cover that bucket
                    F.floor((e_us - F.lit(1)) / F.lit(w_us)),
                )
            ),
        )
    )
    return (
        pb.join(ib, "_rj_bucket")
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) < F.col(end_col))
        )
        .drop("_rj_bucket")
    )


def ewma_latest(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    tiebreak: str | None = None,
    round_dp: int | None = 6,
) -> DataFrame:
    """Per-key exponentially-weighted moving average, LATEST value:
    acc ← alpha·x + (1−alpha)·acc folded over the key's series in
    time order (first observation seeds the accumulator) — the
    smoothed-signal primitive behind alerting baselines and trend
    features.

    EWMA is inherently recursive, which no window frame expresses —
    so the series folds as ``sort_array(collect_list(struct(ts, x)))``
    + ``F.aggregate``: ONE keyed aggregation, with the sequential
    in-order fold making the double result deterministic and
    engine-portable (the oracle replays the identical fold with
    list_reduce). State is bounded by the per-key series length —
    fine for entity-keyed telemetry; window-bucket the key for
    unbounded single-entity streams.

    Returns (key, n_obs, ewma).
    """
    order_cols = [F.col(ts_col)] + (
        [F.col(tiebreak)] if tiebreak else []
    )
    packed = F.struct(*order_cols, F.col(value_col).cast("double").alias("_v"))
    series = F.sort_array(F.collect_list(packed))
    fold = F.aggregate(
        series,
        F.struct(
            F.lit(0).cast("long").alias("n"),
            F.lit(0.0).alias("acc"),
        ),
        lambda acc, s: F.struct(
            (acc["n"] + 1).alias("n"),
            F.when(acc["n"] == 0, s["_v"])
            .otherwise(
                F.lit(alpha) * s["_v"]
                + F.lit(1.0 - alpha) * acc["acc"]
            )
            .alias("acc"),
        ),
    )
    out = df.groupBy(key).agg(fold.alias("_f"))
    ew = F.col("_f.acc")
    return out.select(
        key,
        F.col("_f.n").alias("n_obs"),
        (F.round(ew, round_dp) if round_dp is not None else ew).alias(
            "ewma"
        ),
    )


def rolling_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    n: int = 5,
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-key rolling statistics over the last ``n`` observations
    (current + n-1 preceding by ``ts_col``): mean, min, max — the
    moving-average smoothing / rolling-extrema feature every
    time-series feature pipeline computes before modeling.

    One keyed shuffle, one window pass over the (key, ts, tiebreak)
    sort; the frame is ROWS-bounded so state per row is O(n).  The
    rolling SUM rides the round→DECIMAL idiom: windowed double sums
    are engine-ORDER-DEPENDENT (DuckDB's segment-tree sliding
    aggregate adds in a different order than Spark's frame scan, so
    raw-double means drift in the last ulps and break a 6dp hash) —
    an exact decimal sum divided once per row is bit-identical.

    ``tiebreak`` orders equal timestamps deterministically (pass an
    id column).  Returns the input key/ts/tiebreak/value plus
    (roll_mean, roll_min, roll_max, roll_n) rounded 6dp.
    """
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(-(n - 1), 0)
    )
    v6 = F.round(F.col(value_col).cast("double"), 6)
    cols = [F.col(key_col), F.col(ts_col)] + (
        [F.col(tiebreak)] if tiebreak else []
    )
    return df.select(*cols, v6.alias("value")).select(
        "*",
        F.round(
            exact_sum("value", 6).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            6,
        ).alias("roll_mean"),
        F.round(F.min(F.col("value")).over(w), 6).alias("roll_min"),
        F.round(F.max(F.col("value")).over(w), 6).alias("roll_max"),
        F.count(F.lit(1)).over(w).cast("int").alias("roll_n"),
    )


def cusum_changepoint(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket: str = "hour",
) -> DataFrame:
    """Offline CUSUM change-point detection over a bucketed series:
    the bucket where the cumulative deviation from the global mean
    peaks — the "when did the level shift" primitive behind ingest
    regression hunts (a corpus source changes format, a tracker
    breaks, a price feed re-bases) that a drift profile (which
    compares two *static* batches) cannot time-localize.

    Shape: ONE corpus scan collapses rows to per-``bucket`` sums;
    everything after runs on the bucket-level series (metadata-scale,
    like funnel's final window), so the unpartitioned ordered window
    is |buckets| rows, never row-space.  Exactness: with prefix_i and
    total T as decimal sums, S_i = prefix_i − i·T/n is scaled by n to
    D_i = n·prefix_i − i·T — all-integer/decimal arithmetic, so the
    argmax is exact and engine-portable (no float accumulation
    anywhere near the comparison).  argmax |D_i| = argmax |S_i|;
    ties break to the earliest bucket.

    Returns ONE row: (changepoint_ts, n_buckets, cusum_abs =
    |S_k| = |D_k|/n, mean_before, mean_after) — means exact-decimal
    sums with a single rounded division each; mean_after is NULL when
    the peak lands on the last bucket (empty right side).
    """
    series = (
        df.filter(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.date_trunc(bucket, F.col(ts_col)).alias("b"))
        .agg(exact_sum(value_col, 6).alias("x"))
    )
    w_ord = Window.orderBy("b")
    w_pre = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = series.select(
        "b",
        F.sum("x").over(w_pre).alias("pre"),
        F.row_number().over(w_ord).alias("i"),
        F.sum("x").over(w_all).alias("t"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    ).select(
        "*",
        F.abs(
            quantize("n", 0) * F.col("pre") - quantize("i", 0) * F.col("t")
        ).alias("absd"),
    )
    w_rank = Window.orderBy(F.col("absd").desc(), F.col("b").asc())
    return (
        staged.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") == 1)
        .select(
            F.col("b").alias("changepoint_ts"),
            F.col("n").cast("long").alias("n_buckets"),
            F.round(
                F.col("absd").cast("double") / F.col("n"), 6
            ).alias("cusum_abs"),
            F.round(
                F.col("pre").cast("double") / F.col("i"), 6
            ).alias("mean_before"),
            F.when(
                F.col("n") > F.col("i"),
                F.round(
                    (F.col("t") - F.col("pre")).cast("double")
                    / (F.col("n") - F.col("i")),
                    6,
                ),
            ).alias("mean_after"),
        )
    )


def seasonal_profile(
    df: DataFrame, ts_col: str, value_col: str
) -> DataFrame:
    """Hour-of-week seasonal baseline: mean value and traffic share
    per (ISO day-of-week, hour-of-day) cell, plus each cell's
    seasonal index (cell mean ÷ overall mean) — the expected-load
    surface an anomaly monitor divides by before flagging, and the
    first artifact a traffic pipeline derives when "is Tuesday 3am
    always this quiet?" comes up.

    ONE map-side-combinable groupBy to ≤168 cells; the overall
    totals ride an unbounded window over those 168 rows
    (metadata-scale, no second scan).  Sums are exact decimal; the
    mean / index / share are single rounded double divisions with
    the identical operator tree on both engines.  ISO dow (1=Mon …
    7=Sun) is derived from Spark's Sunday-based ``dayofweek`` as
    ((dow+5) mod 7)+1 so it matches DuckDB's ``isodow`` exactly.

    Returns (dow_iso, hour, n_events, mean_value, seasonal_index,
    share_events).
    """
    cells = (
        df.filter(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(
            (
                (F.dayofweek(F.col(ts_col)) + F.lit(5)) % 7 + 1
            ).alias("dow_iso"),
            F.hour(F.col(ts_col)).alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum(value_col, 6).alias("s"),
        )
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot_n = F.sum("n").over(w_all)
    tot_s = F.sum("s").over(w_all)
    return cells.select(
        F.col("dow_iso").cast("int").alias("dow_iso"),
        F.col("hour").cast("int").alias("hour"),
        F.col("n").cast("long").alias("n_events"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias(
            "mean_value"
        ),
        F.round(
            (F.col("s").cast("double") / F.col("n"))
            / (tot_s.cast("double") / tot_n),
            6,
        ).alias("seasonal_index"),
        F.round(F.col("n").cast("double") / tot_n, 6).alias(
            "share_events"
        ),
    )


def seasonal_outliers(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    id_col: str,
    z: float = 3.0,
) -> DataFrame:
    """Seasonally-adjusted outlier detection: rows whose value
    deviates more than ``z`` standard deviations from the mean of
    THEIR hour-of-week cell — the anomaly screen that doesn't page
    on "Tuesday 3am is quiet" (a global or per-segment z-score
    would: nightly lows look like outliers against a 24/7 mean).

    Composition, not re-implementation: the (ISO dow, hour) cell key
    is derived as one int (dow·100 + hour) and the detection
    delegates to :func:`~...dq.zscore_outliers` — same exact-decimal
    group stats, same broadcast-back join (≤168 cells), same sd=0
    and NaN guards.  One aggregation pass + one broadcast join.

    Returns (dow_iso, hour, id, value, zscore) for flagged rows.
    """
    from component_delta_lake_writer_spark.operators.dq import (
        zscore_outliers,
    )

    cells = df.filter(F.col(ts_col).isNotNull()).withColumn(
        "_cell",
        (
            ((F.dayofweek(F.col(ts_col)) + F.lit(5)) % 7 + 1)
            * F.lit(100)
            + F.hour(F.col(ts_col))
        ).cast("int"),
    )
    out = zscore_outliers(cells, value_col, "_cell", id_col, z=z)
    return out.select(
        (F.col("_cell") / F.lit(100)).cast("int").alias("dow_iso"),
        (F.col("_cell") % 100).cast("int").alias("hour"),
        F.col(id_col),
        F.col("value"),
        F.col("zscore"),
    )


def forecast_backtest(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    split_ts: str,
) -> DataFrame:
    """Seasonal-naive forecast backtest: hourly value-sums after
    ``split_ts`` are predicted by the mean hourly sum of the SAME
    hour-of-week cell before it, and scored with MAE/MAPE — the
    capacity-planning baseline every "should we buy a model" question
    starts from (a model that can't beat same-hour-last-weeks isn't a
    model).

    ONE corpus scan collapses rows to hourly sums; the time split,
    the ≤168-cell training means, the test join (broadcast — the
    train side is the cell table) and the error aggregation all run
    on the hourly/metadata scale.  Exactness: hourly sums and error
    terms ride the round→DECIMAL idiom so MAE/MAPE are order-free;
    test hours whose cell never occurred in training are counted in
    ``n_test_hours`` − ``n_scored``, not silently dropped; MAPE
    skips zero-actual hours (undefined there).

    Returns ONE row: (n_test_hours, n_scored, mae, mape) — rounded
    6dp.
    """
    hours = (
        df.filter(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.date_trunc("hour", F.col(ts_col)).alias("h"))
        .agg(
            F.round(exact_sum(value_col, 6).cast("double"), 6).alias("v")
        )
        .select(
            "h",
            "v",
            ((F.dayofweek("h") + F.lit(5)) % 7 + 1).alias("dow"),
            F.hour("h").alias("hod"),
        )
    )
    split = F.lit(split_ts).cast("timestamp")
    cells = (
        hours.filter(F.col("h") < split)
        .groupBy("dow", "hod")
        .agg(
            F.round(
                exact_sum("v", 6).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("pred")
        )
    )
    test = hours.filter(F.col("h") >= split)
    scored = test.join(F.broadcast(cells), ["dow", "hod"], "left")
    ae = F.abs(F.col("v") - F.col("pred"))
    ape = F.when(F.col("v") != 0, ae / F.abs(F.col("v")))
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_test_hours"),
        F.count("pred").cast("long").alias("n_scored"),
        F.round(
            exact_sum(ae, 6).cast("double") / F.count("pred"),
            6,
        ).alias("mae"),
        F.round(
            exact_sum(ape, 6).cast("double") / F.count(ape),
            6,
        ).alias("mape"),
    )


def _gap_filled_hourly(
    df: DataFrame, ts_col: str
) -> tuple[DataFrame, int]:
    """(series, span): the GAP-FILLED hourly count series (_h, _y —
    an eventless hour is y=0, not missing) and its bucket span.
    Shared by acf_hourly and theil_sen_hourly (r11 review: the two
    first shipped duplicate constructions).  ONE corpus scan: the
    bucket relation is checkpoint-pinned (its consumers would each
    re-scan the corpus otherwise — 8 FileScans measured on the ACF
    before the pin), the min/max bounds are collected once (2
    scalars) and the hour range ships back as LITERALS.  Raises on
    an all-null timestamp column."""
    counted = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.date_trunc("hour", F.col(ts_col)).alias("_h"))
        .agg(F.count(F.lit(1)).alias("_y"))
    )
    counted = counted.localCheckpoint(eager=True)
    b = counted.agg(
        F.min("_h").alias("_lo"), F.max("_h").alias("_hi")
    ).collect()[0]
    if b["_lo"] is None:
        raise ValueError("no non-null timestamps in the series")
    span = (
        int((b["_hi"] - b["_lo"]).total_seconds() // 3600) + 1
    )
    hours = counted.sparkSession.range(1).select(
        F.explode(
            F.sequence(
                F.lit(b["_lo"]),
                F.lit(b["_hi"]),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("_h")
    )
    series = hours.join(counted, "_h", "left").select(
        "_h", F.coalesce(F.col("_y"), F.lit(0)).alias("_y")
    )
    return series, span


def acf_hourly(
    df: DataFrame,
    ts_col: str,
    max_lag: int = 24,
) -> DataFrame:
    """Autocorrelation function of the hourly event-count series at
    lags 1..``max_lag`` — the seasonality detector behind "is this
    corpus daily-periodic" (a spike at lag 24 = daily rhythm; fast
    decay = noise): ACF(ℓ) = Σ(y_t−ȳ)(y_{t+ℓ}−ȳ) / Σ(y_t−ȳ)².

    Scale shape: ONE corpus scan collapses to the hourly bucket
    series; the hour range is GAP-FILLED with zero counts (an hour
    with no events is y=0, not missing — skipping gaps would splice
    non-adjacent hours together at lag 1), generated from the
    min/max timestamps as a metadata-scale sequence.  The lag pairs
    come from one explode(sequence(1, L)) + self-join on the shifted
    hour — |buckets|·L rows, still metadata-scale.  Products are
    rounded 6dp and summed as DECIMAL per lag (order-free); ȳ is a
    single exact-sum division broadcast as a 1-row cross join.

    Returns one row per lag: (lag, n_pairs, acf) — acf rounded 6dp,
    NULL when the series is constant (zero variance).
    """
    series, _span = _gap_filled_hourly(df, ts_col)
    stats = F.broadcast(
        series.agg(
            F.count(F.lit(1)).alias("_n"),
            exact_sum("_y", 0).alias("_sy"),
        )
    )
    with_mean = series.crossJoin(stats).select(
        "_h",
        "_y",
        (
            F.col("_sy").cast("double") / F.col("_n")
        ).alias("_ybar"),
    )
    denom = with_mean.agg(
        exact_sum(
            (F.col("_y") - F.col("_ybar")) * (F.col("_y") - F.col("_ybar")),
            6,
        ).alias("_den")
    )
    lagged = (
        with_mean.select(
            "_h",
            "_y",
            "_ybar",
            F.explode(
                F.sequence(F.lit(1), F.lit(max_lag))
            ).alias("lag"),
        )
        .withColumn(
            "_h2",
            F.col("_h")
            + F.make_interval(hours=F.col("lag")),
        )
    )
    right = series.select(
        F.col("_h").alias("_h2"), F.col("_y").alias("_y2")
    )
    per_lag = (
        lagged.join(right, "_h2")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            exact_sum(
                (F.col("_y") - F.col("_ybar"))
                * (F.col("_y2") - F.col("_ybar")),
                6,
            ).alias("_num"),
        )
    )
    return per_lag.crossJoin(F.broadcast(denom)).select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.when(
            F.col("_den") > 0,
            F.round(
                F.col("_num").cast("double")
                / F.col("_den").cast("double"),
                6,
            ),
        ).alias("acf"),
    )


def theil_sen_hourly(
    df: DataFrame,
    ts_col: str,
    max_buckets: int = 2000,
) -> DataFrame:
    """Theil–Sen robust trend of the hourly event-count series: the
    median of all pairwise slopes — the trend readout that one
    outage spike or backfill burst can't drag the way least squares
    drags (the companion to CUSUM's "did the level jump" and the
    forecast backtest's "is it seasonal": "is volume actually
    drifting").

    Scale shape: ONE corpus scan collapses to the gap-filled hourly
    bucket series (shared spelling with acf_hourly, checkpoint-
    pinned); the pairwise expansion is C(b, 2) over BUCKETS, not
    rows — metadata-scale, but quadratic in the window length, so
    ``max_buckets`` refuses series past ~2M pairs instead of
    silently exploding (hour-bucket a year = 8.8k buckets ≈ 38M
    pairs — rebucket to days first; the refusal names the count).
    Slopes are exact-integer Δy/Δhours rounded 9dp; the median is
    the LOWER median under a (slope, i, j) total order — rank-based,
    no interpolation, engine-exact (the single-partition rank window
    runs over pair rows, documented metadata-scale).

    Returns ONE row: (n_buckets, n_pairs, slope_per_hour, trending)
    — slope 6dp; trending = sign(slope) as int.
    """
    full, n_b = _gap_filled_hourly(df, ts_col)
    if n_b > max_buckets:
        raise ValueError(
            f"theil_sen_hourly: the gap-filled series spans {n_b} "
            f"hourly buckets, over max_buckets={max_buckets} "
            f"(~{n_b * (n_b - 1) // 2} pairwise slopes); rebucket "
            "to a coarser grain first"
        )
    if n_b < 2:
        # a single bucket has zero pairwise slopes: the documented
        # ONE-row contract cannot be met — refuse loudly instead of
        # returning an empty frame (r11 review)
        raise ValueError(
            "theil_sen_hourly: the series spans a single hourly "
            "bucket — no pairwise slope exists"
        )
    series = full.select(
        (
            F.unix_timestamp("_h") / F.lit(3600)
        ).cast("long").alias("_t"),
        "_y",
    )
    a = series.select(
        F.col("_t").alias("_ta"), F.col("_y").alias("_ya")
    )
    b = series.select(
        F.col("_t").alias("_tb"), F.col("_y").alias("_yb")
    )
    pairs = a.join(b, F.col("_ta") < F.col("_tb")).select(
        "_ta",
        "_tb",
        F.round(
            (F.col("_yb") - F.col("_ya")).cast("double")
            / (F.col("_tb") - F.col("_ta")),
            9,
        ).alias("_s"),
    )
    w_rank = Window.orderBy("_s", "_ta", "_tb")
    w_all = Window.partitionBy()
    ranked = pairs.select(
        "_s",
        F.row_number().over(w_rank).alias("_r"),
        F.count(F.lit(1)).over(w_all).alias("_m"),
    )
    # lower median: rank (m+1) div 2 under the (slope, i, j) total
    # order — integer arithmetic, no interpolation
    med = ranked.filter(
        F.col("_r") == F.expr("CAST((_m + 1) div 2 AS BIGINT)")
    )
    return med.select(
        F.lit(n_b).cast("long").alias("n_buckets"),
        F.col("_m").cast("long").alias("n_pairs"),
        F.round(F.col("_s"), 6).alias("slope_per_hour"),
        F.signum(F.col("_s")).cast("int").alias("trending"),
    )


def mann_kendall_hourly(
    df: DataFrame,
    ts_col: str,
    max_buckets: int = 2000,
) -> DataFrame:
    """Mann–Kendall trend test of the hourly event-count series —
    the SIGNIFICANCE companion to :func:`theil_sen_hourly`:
    Theil–Sen says how steep the drift is, MK says whether a
    monotone trend exists at all (S = Σ_{i<j} sgn(y_j − y_i), the
    nonparametric test every ops/monitoring methodology pairs with
    the Sen slope).  Robust to the same spikes and distribution
    weirdness that motivate the rank machinery elsewhere.

    Scale shape: ONE corpus scan collapses to the gap-filled
    hourly series (the shared pinned spelling); the pairwise sign
    count is C(b, 2) over BUCKETS, not rows — metadata-scale with
    the same ``max_buckets`` refusal as Theil–Sen (quadratic in
    the window length; rebucket first past ~2M pairs).  S and the
    tie counts are exact integers (the cubic tie terms
    included); the normal approximation
    carries the tie-corrected variance
    [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18 and the ±1 continuity
    correction.  Significance compares the 6dp-ROUNDED |z| (the
    house boundary rule).

    Returns ONE row: (n_buckets, s_stat, z, trending,
    significant) — z NULL when the variance degenerates (all
    buckets tied); trending = sign(S).
    """
    full, n_b = _gap_filled_hourly(df, ts_col)
    if n_b > max_buckets:
        raise ValueError(
            f"mann_kendall_hourly: the gap-filled series spans "
            f"{n_b} hourly buckets, over max_buckets={max_buckets} "
            f"(~{n_b * (n_b - 1) // 2} pairs); rebucket to a "
            "coarser grain first"
        )
    if n_b < 2:
        raise ValueError(
            "mann_kendall_hourly: the series spans a single "
            "hourly bucket — no pair exists"
        )
    series = full.select(
        (F.unix_timestamp("_h") / F.lit(3600))
        .cast("long")
        .alias("_t"),
        "_y",
    )
    a = series.select(
        F.col("_t").alias("_ta"), F.col("_y").alias("_ya")
    )
    b = series.select(
        F.col("_t").alias("_tb"), F.col("_y").alias("_yb")
    )
    sgn = (
        F.when(F.col("_yb") > F.col("_ya"), 1)
        .when(F.col("_yb") < F.col("_ya"), -1)
        .otherwise(0)
    )
    s_agg = a.join(b, F.col("_ta") < F.col("_tb")).agg(
        F.sum(sgn).alias("_s")
    )
    t_c = F.col("_t2")
    ties = series.groupBy("_y").agg(
        F.count(F.lit(1)).alias("_t2")
    ).agg(
        exact_sum(quantize(t_c, 0) * (t_c - 1) * (2 * t_c + 5), 0).alias(
            "_tt"
        )
    )
    n = n_b
    var = (
        F.lit(float(n * (n - 1) * (2 * n + 5)))
        - F.col("_tt").cast("double")
    ) / F.lit(18.0)
    s_d = F.col("_s").cast("double")
    z = F.when(
        var > 0,
        F.round(
            F.when(F.col("_s") > 0, (s_d - 1) / F.sqrt(var))
            .when(F.col("_s") < 0, (s_d + 1) / F.sqrt(var))
            .otherwise(F.lit(0.0)),
            6,
        ),
    )
    return s_agg.crossJoin(F.broadcast(ties)).select(
        F.lit(n).cast("long").alias("n_buckets"),
        F.col("_s").cast("long").alias("s_stat"),
        z.alias("z"),
        F.signum(s_d).cast("int").alias("trending"),
        F.coalesce(
            (F.abs(z) > F.lit(1.959964)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def durbin_watson_hourly(
    df: DataFrame,
    ts_col: str,
) -> DataFrame:
    """Durbin–Watson first-order autocorrelation diagnostic of the
    hourly event-count series — the residual check next to
    :func:`mann_kendall_hourly`'s trend and CUSUM's level shift:
    DW ≈ 2 means the hourly counts are serially independent, DW
    near 0 strong positive autocorrelation (bursts/backfills), DW
    near 4 alternation.  The number every forecasting-residual
    review quotes.

    ONE corpus scan to the gap-filled hourly series (the shared
    pinned spelling); the lag difference is a window over the
    METADATA-scale bucket grid (the KM/CUSUM discipline), and the
    whole statistic is the EXACT integer ratio
    n·Σ(Δy)² / (n·Σy² − (Σy)²) — counts are integers, so both
    engines agree bit-for-bit before the single rounded division
    (sums are exact integers; Σy² · n ~ N³ overflows long).

    Returns ONE row: (n_buckets, dw, rho1) — dw 6dp, rho1 =
    1 − dw/2 (the implied lag-1 coefficient); NULL when the
    series is constant.
    """
    full, n_b = _gap_filled_hourly(df, ts_col)
    if n_b < 2:
        raise ValueError(
            "durbin_watson_hourly: the series spans a single "
            "hourly bucket — no lag exists"
        )
    w = Window.orderBy("_h")
    lagged = full.select(
        "_y", F.lag("_y").over(w).alias("_yp")
    )
    dy = F.col("_y") - F.col("_yp")
    agg = lagged.agg(
        exact_sum_product(dy, dy, 0).alias("_sd2"),
        exact_sum_product("_y", "_y", 0).alias("_sy2"),
        F.sum("_y").alias("_sy"),
    )
    n = quantize(F.lit(n_b), 0)
    den = n * F.col("_sy2") - quantize("_sy", 0) * F.col("_sy")
    dw = F.when(
        den > 0,
        F.round(
            (n * F.col("_sd2")).cast("double") / den.cast("double"), 6
        ),
    )
    return agg.select(
        F.lit(n_b).cast("long").alias("n_buckets"),
        dw.alias("dw"),
        F.round(F.lit(1.0) - dw / 2, 6).alias("rho1"),
    )


def xcorr_hourly(
    df: DataFrame,
    ts_col: str,
    type_col: str,
    type_a: str,
    type_b: str,
    max_lag: int = 3,
) -> DataFrame:
    """Lagged cross-correlation between two event types' hourly
    series — the ops question the single-series tier can't answer:
    does type A LEAD type B (errors spike, then purchases drop N
    hours later)?  One row per lag in [−max_lag, +max_lag] with
    the Pearson correlation of (A_t, B_{t+lag}); the argmax lag is
    the lead/lag estimate monitoring playbooks act on.

    ONE corpus scan builds the shared gap-filled hour spine with
    BOTH series as columns (missing hours are real zeros — the
    gap-fill discipline); per-lag alignment is ``lead`` windows
    over the metadata-scale spine exploded into (lag, a, b) rows,
    and each lag's five Pearson moments accumulate as exact
    integers (hourly-count products overflow
    long at web scale).  The correlation is one rounded expression
    per lag; NULL when either side of a lag window is constant.

    Returns 2·max_lag+1 rows: (lag_hours, n_hours, corr 6dp).
    """
    counted = (
        df.filter(
            F.col(ts_col).isNotNull()
            & F.col(type_col).isin(type_a, type_b)
        )
        .groupBy(
            F.date_trunc("hour", F.col(ts_col)).alias("_h")
        )
        .agg(
            F.sum(
                F.when(F.col(type_col) == type_a, 1).otherwise(0)
            ).alias("_a"),
            F.sum(
                F.when(F.col(type_col) == type_b, 1).otherwise(0)
            ).alias("_b"),
        )
    )
    counted = counted.localCheckpoint(eager=True)
    bounds = counted.agg(
        F.min("_h").alias("_lo"), F.max("_h").alias("_hi")
    )
    spine = (
        bounds.select(
            F.explode(
                F.sequence(
                    F.col("_lo"),
                    F.col("_hi"),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("_h")
        )
        .join(counted, "_h", "left")
        .select(
            "_h",
            F.coalesce("_a", F.lit(0)).alias("_a"),
            F.coalesce("_b", F.lit(0)).alias("_b"),
        )
    )
    w = Window.orderBy("_h")
    # window functions can't live inside a generator: materialize
    # the shifted columns first, THEN explode the (lag, b) structs
    shifted = spine.select(
        "_a",
        *[
            (
                F.lead("_b", lag).over(w)
                if lag >= 0
                else F.lag("_b", -lag).over(w)
            ).alias(f"_bl_{lag + max_lag}")
            for lag in range(-max_lag, max_lag + 1)
        ],
    )
    lag_cols = [
        F.struct(
            F.lit(lag).alias("_lag"),
            F.col(f"_bl_{lag + max_lag}").alias("_bl"),
        )
        for lag in range(-max_lag, max_lag + 1)
    ]
    pairs = (
        shifted.select(
            "_a", F.explode(F.array(*lag_cols)).alias("_p")
        )
        .select(
            F.col("_p._lag").alias("_lag"),
            "_a",
            F.col("_p._bl").alias("_bl"),
        )
        .filter(F.col("_bl").isNotNull())
    )
    agg = pairs.groupBy("_lag").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_a").alias("_sa"),
        F.sum("_bl").alias("_sb"),
        exact_sum_product("_a", "_bl", 0).alias("_sab"),
        exact_sum_product("_a", "_a", 0).alias("_saa"),
        exact_sum_product("_bl", "_bl", 0).alias("_sbb"),
    )
    n = quantize("_n", 0)
    cov = n * F.col("_sab") - quantize("_sa", 0) * F.col("_sb")
    va = n * F.col("_saa") - quantize("_sa", 0) * F.col("_sa")
    vb = n * F.col("_sbb") - quantize("_sb", 0) * F.col("_sb")
    corr = F.when(
        (va > 0) & (vb > 0),
        F.round(
            cov.cast("double")
            / F.sqrt(va.cast("double") * vb.cast("double")),
            6,
        ),
    )
    return agg.select(
        F.col("_lag").cast("int").alias("lag_hours"),
        F.col("_n").cast("long").alias("n_hours"),
        corr.alias("corr"),
    )
