"""Event-stream batch operators: sessionization and as-of join.

Beyond-reference extension (SURVEY §2.5/§2.7 note: the reference has
no aggregation/window surface; these add the time-series shapes a
pipeline over an ``events`` table needs, as pure window functions —
one shuffle on the partition key, then codegen'd window evaluation).

Timestamps are handled as exact int64 microseconds (``ts_us``, see
tables.py) so gap arithmetic is integer-exact and oracle-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.exact import (
    exact_sum,
    exact_sum_product,
    quantize,
)


def sessionize(
    df: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to
    the previous event of the same user exceeds ``gap_seconds``.

    Classic two-window formulation: flag session starts with lag(),
    then running-sum the flags into session ids. Scale: one shuffle
    on user_id; everything after is within-partition.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_us = gap_seconds * 1_000_000
    flagged = df.withColumn(
        "is_new",
        F.when(
            (F.col(ts_col) - F.lag(ts_col).over(w)) > gap_us, 1
        ).otherwise(F.when(F.lag(ts_col).over(w).isNull(), 1).otherwise(0)),
    )
    wsum = (
        Window.partitionBy(user_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.withColumn("session_id", F.sum("is_new").over(wsum)).drop("is_new")


def session_stats(
    df: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
) -> DataFrame:
    s = sessionize(df, gap_seconds, user_col, ts_col)
    return s.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("start_us"),
        F.max(ts_col).alias("end_us"),
    )


def asof_last_event(
    df: DataFrame,
    match_type: str,
    target_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """As-of join expressed within one event stream: for every
    ``target_type`` event, the timestamp of the most recent *prior*
    ``match_type`` event of the same user (NULL if none).

    Spark-first formulation of ASOF JOIN: instead of a range join
    (O(n·m) without interval optimization), union both sides into one
    ordered stream and take a running MAX over a window that excludes
    the current row — one shuffle, linear scan. The same plan shape
    covers the general two-table as-of join after a unionByName.

    ``ts_col`` may be a numeric epoch (the int64-microsecond ``ts_us``
    convention) OR a real TIMESTAMP/TIMESTAMP_NTZ column — timestamp
    inputs are converted to exact int64 microseconds internally
    (``rangeBetween`` with an integer boundary is undefined over a
    timestamp ordering column; ADVICE r4); ``asof_ts_us`` is int64
    microseconds either way.
    """
    from component_delta_lake_writer_spark.tables import ts_us_expr

    dt = dict(df.dtypes)[ts_col]
    if dt in ("timestamp", "timestamp_ntz"):
        df = df.withColumn("_asof_ord_us", ts_us_expr(dt, ts_col))
        ord_col = "_asof_ord_us"
    else:
        ord_col = ts_col
    # RANGE frame ending at -1 = "strictly earlier timestamp": the
    # ROWS spelling depended on arbitrary intra-tie row order when a
    # match and a target share the exact same ts (nondeterministic
    # across runs — the module's oracle-exactness contract forbids it)
    w = (
        Window.partitionBy(user_col)
        .orderBy(ord_col)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    asof_ts = F.max(
        F.when(F.col(type_col) == match_type, F.col(ord_col))
    ).over(w)
    return (
        df.withColumn("asof_ts_us", asof_ts)
        .filter(F.col(type_col) == target_type)
        .select(id_col, user_col, ts_col, "asof_ts_us")
    )


def hourly_rollup(
    df: DataFrame, ts_col: str = "ts", value_col: str = "value"
) -> DataFrame:
    """Tumbling-hour rollup by event type (the hypertable-rollup shape):
    date_trunc + groupBy — partial aggregation map-side, one shuffle."""
    return (
        df.groupBy(
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                exact_sum(value_col, 4).cast("double"), 4
            ).alias("sum_value"),
        )
    )


def gap_fill_hourly(
    df: DataFrame, ts_col: str = "ts", value_col: str = "value"
) -> DataFrame:
    """Hourly rollup on a DENSE calendar spine with gap semantics —
    the timeseries gap-fill operator (hypertable ``time_bucket_gapfill``
    shape): hours with no events appear with ``n_events = 0`` and a
    forward-filled ``sum_value_filled`` (LOCF — last observation
    carried forward per event_type).

    Plan shape: the spine is ONE row of min/max bounds exploded
    through ``sequence`` — data-driven, never a driver loop — then a
    broadcastable cross join against the distinct types, a left join
    onto the rolled-up hours, and one window per type for the fill.
    Spine cardinality is #hours × #types (tiny next to the raw
    events), so every join side except the rollup is broadcast-sized
    at any scale."""
    from pyspark.sql.window import Window

    hourly = hourly_rollup(df, ts_col, value_col)
    # bounds and the type set derive from the TINY rollup, not the raw
    # events — the previous spelling re-scanned the full corpus twice
    # (a bounds agg + a distinct) for answers the #hours x #types
    # relation already holds
    bounds = hourly.agg(
        F.min("hour").alias("mn"), F.max("hour").alias("mx")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = hourly.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(hourly, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias(
                "n_events"
            ),
            F.last("sum_value", ignorenulls=True).over(w).alias(
                "sum_value_filled"
            ),
        )
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention matrix: users grouped by FIRST-SEEN day (their
    cohort), counted by how many are active at each day offset from
    it — the activation/retention curve every product-analytics stack
    computes.

    Two keyed aggregations, no self-join: (1) min(ts) per user → the
    cohort assignment (broadcast-sized: one row per user); (2) the
    events stream joins its user's cohort day and aggregates distinct
    users per (cohort_day, day_offset). At 100 TB the first agg is a
    map-side-combined shuffle on the user key and the second reuses
    it; the output is |cohorts| x |offsets| — metadata-sized.

    Returns (cohort_day DATE, day_offset INT, n_users BIGINT).
    """
    day = F.to_date(F.col(ts_col))
    firsts = (
        events.groupBy(user_col)
        .agg(F.min(day).alias("cohort_day"))
    )
    return (
        events.select(F.col(user_col), day.alias("_d"))
        .join(firsts, user_col)
        .select(
            "cohort_day",
            F.datediff(F.col("_d"), F.col("cohort_day")).alias(
                "day_offset"
            ),
            F.col(user_col),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct(user_col).alias("n_users"))
    )


def attribution_last_touch(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Last-touch attribution: each conversion event credits the
    user's most recent PRECEDING non-conversion event — the marketing
    question ("what drove this purchase?") as one per-user window
    pass.

    ``last(..., ignorenulls)`` over rows-unbounded-to-previous carries
    the latest touch struct forward; one keyed shuffle, no self-join,
    no per-conversion subquery.  Conversions with no preceding touch
    report NULLs (direct conversions).  Deterministic: same-timestamp
    events order by ``id_col``.

    Returns (user_id, conversion_id, conversion_ts, touch_type,
    touch_ts).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_conv = F.col(type_col) == conversion_type
    touch = F.last(
        F.when(
            ~is_conv, F.struct(F.col(type_col), F.col(ts_col))
        ),
        ignorenulls=True,
    ).over(w)
    return (
        events.withColumn("_touch", touch)
        .filter(is_conv)
        .select(
            F.col(user_col),
            F.col(id_col).alias("conversion_id"),
            F.col(ts_col).alias("conversion_ts"),
            F.col(f"_touch.{type_col}").alias("touch_type"),
            F.col(f"_touch.{ts_col}").alias("touch_ts"),
        )
    )


def _funnel_credits(
    events: DataFrame,
    steps: list[str],
    user_col: str,
    type_col: str,
    ts_col: str,
    within: float | None,
    by: str | None,
) -> DataFrame:
    """Shared credit-time builder for the funnel family: one row per
    (segment?, user) with columns ``_t0.._tk`` = each step's credited
    time (NULL = never reached), computed by the flat per-step
    ``array_min(filter(...))`` chain over the user's collected step
    events — ONE corpus scan, ONE keyed shuffle.  Semantics and
    validation are documented on :func:`funnel`."""
    from component_delta_lake_writer_spark.errors import UserException

    if len(set(steps)) != len(steps):
        raise UserException(
            f"funnel steps must be distinct event types, got {steps}; "
            "model a repeated step as a distinct event_type upstream."
        )
    step_idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    # `by` (segment breakdown): the segment joins the grouping key,
    # so a user's events form one sequence PER SEGMENT — the standard
    # product-analytics breakdown ("funnel by country"); still one
    # scan, one keyed shuffle (now on (segment, user)). A segment
    # with no step-relevant events has no rows (nothing to report).
    seg_cols = [F.col(by).alias("_seg")] if by else []
    per_user = (
        events.filter(
            F.col(type_col).isin(list(steps))
            & F.col(ts_col).isNotNull()
        )
        .select(
            *seg_cols,
            F.col(user_col).alias("_u"),
            F.struct(
                F.col(ts_col).alias("t"),
                step_idx[F.col(type_col)].alias("s"),
            ).alias("_e"),
        )
        .groupBy(*(["_seg"] if by else []), "_u")
        .agg(F.collect_list("_e").alias("_es"))
    )

    # the horizon bound rides interval arithmetic for timestamp-typed
    # ts (TIMESTAMP and TIMESTAMP_NTZ both add intervals; neither
    # casts to double) and plain addition for numeric ts
    from pyspark.sql import types as T

    _ts_is_time = isinstance(
        events.schema[ts_col].dataType,
        (T.TimestampType, T.TimestampNTZType, T.DateType),
    )

    def _horizon(prev):
        if _ts_is_time:
            return prev + F.make_interval(secs=F.lit(float(within)))
        return prev + F.lit(float(within))

    # flat per-step chain: _t{i} = MIN t of step-i events strictly
    # after _t{i-1} (and inside the `within` horizon, if set); each
    # layer's lambda references the previous layer's column, so the
    # whole chain stays one Project stack over the single shuffle
    def _credit(i: int):
        # single-parameter lambda on purpose: pyspark infers HOF
        # arity from the signature, so a bound `i=i` default would be
        # read as filter's (element, index) form
        def cond(e):
            c = e["s"] == F.lit(i)
            if i > 0:  # noqa: B023 — i is fixed per _credit call
                prev = F.col(f"_t{i - 1}")
                c = c & prev.isNotNull() & (e["t"] > prev)
                if within is not None:
                    c = c & (e["t"] <= _horizon(prev))
            return c

        return F.array_min(
            F.transform(F.filter(F.col("_es"), cond), lambda e: e["t"])
        )

    for i in range(len(steps)):
        per_user = per_user.withColumn(f"_t{i}", _credit(i))
    return per_user


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within: float | None = None,
    by: str | None = None,
) -> DataFrame:
    """Ordered event funnel: how many users completed step 1, then
    step 2 STRICTLY AFTER their step-1 time, then step 3 after that —
    the conversion query behind every product analytics dashboard
    (view → click → purchase), which neither a plain per-step count
    (ignores order) nor sessionization (windows, not sequence)
    answers.  ``within`` (seconds) optionally time-boxes each hop:
    step i is credited only at an event in ``(t_{i-1}, t_{i-1} +
    within]`` of the CREDITED step-(i-1) time — the "converted within
    an hour of the click" shape.  Crediting stays greedy (first
    qualifying event), so a later, better-placed step-1 occurrence is
    never retroactively substituted; that matches the strict-order
    base semantics and keeps the per-user cost one array pass per
    step.

    ONE corpus scan, ONE keyed shuffle: per user the step-relevant
    events collect into an array (bounded by per-user event count —
    the ewma_latest idiom) and each step's credited time is the MIN
    event time qualifying against the previous step's credited time
    (the MIN-with-residual spelling, identical to a greedy ascending
    fold, and what the SQL oracle's join cascade replays — but that
    cascade re-scans the corpus per step, O(steps²) work this
    avoids).  The per-step chain is a FLAT ``array_min(filter(...))``
    expression rather than a nested fold: the r9 fold spelling spent
    ~3 s per call in plan construction + whole-stage-codegen of the
    |steps|-deep transform-in-aggregate lambda; the flat chain
    analyzes and compiles in milliseconds and grows linearly with
    |steps|.  Equal-ts events cannot advance two steps under either
    spelling, so the result is a deterministic function of the data.

    Events with a NULL ``ts_col`` are dropped before crediting (an
    unordered event cannot participate in an ordered funnel — the
    contract the SQL oracle mirrors with ``ts IS NOT NULL``).

    Returns (step, event_type, n_users, pct_of_first, pct_of_prev) —
    one row per step in order, pcts rounded 6dp, step 1's pcts = 1.
    A zero-user denominator yields NULL pcts (matching SQL's NULL on
    guarded division), never NaN.  ``by=`` prepends a segment column
    and computes an independent funnel per segment value (a user's
    events form one sequence per segment; the keyed shuffle moves to
    (segment, user) — same single scan); segments with no
    step-relevant events emit no rows.

    Steps must be DISTINCT event types: a repeated step ("view →
    view → buy") is ambiguous under the type→index map this chain
    rides on (and Spark's map-key dedup policy would throw mid-job,
    not at plan time) — raised here as a clear UserException instead.
    """
    per_user = _funnel_credits(
        events, steps, user_col, type_col, ts_col, within, by
    )

    count_aggs = [
        F.sum(F.col(f"_t{i}").isNotNull().cast("long")).alias(
            f"__n_{i}"
        )
        for i in range(len(steps))
    ]
    counts_row = (
        per_user.groupBy("_seg").agg(*count_aggs)
        if by
        else per_user.agg(*count_aggs)
    )
    step_structs = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("int").alias("step"),
                F.lit(s).alias("event_type"),
                F.coalesce(
                    F.col(f"__n_{i}"), F.lit(0)
                ).cast("long").alias("n_users"),
            )
            for i, s in enumerate(steps)
        ]
    )
    lead = [F.col("_seg").alias(by)] if by else []
    out = counts_row.select(
        *lead, F.explode(step_structs).alias("s")
    ).select(*([by] if by else []), "s.*")
    wpart = (
        Window.partitionBy(by) if by else Window.partitionBy()
    )
    w = wpart.orderBy("step").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    first = F.first("n_users").over(w)
    prev = F.coalesce(
        F.lag("n_users", 1).over(wpart.orderBy("step")),
        F.col("n_users"),
    )
    # guarded division: a zero-user step yields NULL (as SQL's CASE
    # spelling does), never the 0/0 double NaN
    return out.select(
        *([by] if by else []),
        "step", "event_type", "n_users",
        F.when(
            first > 0, F.round(F.col("n_users") / first, 6)
        ).alias("pct_of_first"),
        F.when(
            prev > 0, F.round(F.col("n_users") / prev, 6)
        ).alias("pct_of_prev"),
    )


def funnel_times(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within: float | None = None,
) -> DataFrame:
    """Time-to-convert per funnel hop: for every step i ≥ 2, the
    median / mean / min / max SECONDS between the user's credited
    step-(i-1) time and their credited step-i time, over users who
    reached step i — the "how long does click → purchase take"
    companion every funnel dashboard pairs with the counts.  Shares
    :func:`funnel`'s credit chain verbatim (same one scan, one keyed
    shuffle, same greedy strict-after + optional ``within``
    semantics), so the population here is EXACTLY the n_users the
    funnel reports.

    Seconds are exact: timestamp-typed ``ts_col`` diffs via
    ``unix_micros`` (NTZ casts through the session's pinned-UTC
    timestamp losslessly), numeric ``ts_col`` diffs directly; the
    median is Spark's exact interpolated percentile (== DuckDB
    quantile_cont at 6dp) and the mean rides the round→DECIMAL
    idiom, both the numeric_profile pricing (per-hop value buffering
    in the final aggregate — funnels have bounded step counts, so the
    buffered population is per-hop converters, not the corpus).

    Returns (step, event_type, n_converted, median_secs, mean_secs,
    min_secs, max_secs) for steps 2..k, 6dp.
    """
    from pyspark.sql import types as T

    if len(steps) < 2:
        raise ValueError(
            "funnel_times needs at least two steps (one hop)"
        )
    per_user = _funnel_credits(
        events, steps, user_col, type_col, ts_col, within, by=None
    )
    _is_time = isinstance(
        events.schema[ts_col].dataType,
        (T.TimestampType, T.TimestampNTZType, T.DateType),
    )

    def _diff_secs(hi, lo):
        if _is_time:
            # NTZ → timestamp is a wall-clock reinterpretation in the
            # session tz; the engine pins UTC (session.py), so the
            # micros are exact.  Subtract in int64 micros FIRST, then
            # divide: per-operand /1e6 on epoch-scale values carries
            # ~1e-7 s of float error — enough to flip the 6th decimal
            # at a rounding boundary; the micros diff is exact and
            # its /1e6 is error-free at hop magnitudes.  DuckDB's
            # EXTRACT(EPOCH FROM (t2 - t1)) does the same micros-diff
            # arithmetic.
            return (
                F.unix_micros(hi.cast("timestamp"))
                - F.unix_micros(lo.cast("timestamp"))
            ) / F.lit(1e6)
        return hi.cast("double") - lo.cast("double")

    aggs = []
    for i in range(1, len(steps)):
        d = F.when(
            F.col(f"_t{i}").isNotNull(),
            F.round(
                _diff_secs(F.col(f"_t{i}"), F.col(f"_t{i-1}")), 6
            ),
        )
        aggs += [
            F.count(d).alias(f"__n_{i}"),
            F.round(F.percentile(d, F.lit(0.5)), 6).alias(f"__med_{i}"),
            F.round(
                exact_sum(d, 6).cast("double")
                / F.count(d),
                6,
            ).alias(f"__mean_{i}"),
            F.round(F.min(d), 6).alias(f"__min_{i}"),
            F.round(F.max(d), 6).alias(f"__max_{i}"),
        ]
    row = per_user.agg(*aggs)
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).cast("int").alias("step"),
                        F.lit(steps[i]).alias("event_type"),
                        F.coalesce(F.col(f"__n_{i}"), F.lit(0))
                        .cast("long")
                        .alias("n_converted"),
                        F.col(f"__med_{i}").alias("median_secs"),
                        F.col(f"__mean_{i}").alias("mean_secs"),
                        F.col(f"__min_{i}").alias("min_secs"),
                        F.col(f"__max_{i}").alias("max_secs"),
                    )
                    for i in range(1, len(steps))
                ]
            )
        ).alias("s")
    ).select("s.*")


def event_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every ordered (from_type → to_type) hop that
    actually occurs, its count and the conditional probability
    P(to | from) — the "what do users do next" table behind
    clickstream path analysis, next-event baselines, and bot
    screening (a scripted client's transition row is a spike).

    One shuffle on the user key orders each user's events (lag
    window); a second map-side-combinable groupBy collapses hops to
    the |types|² transition matrix, whose row totals ride an
    unbounded window over those metadata-scale rows.  Rows with a
    NULL user/ts/type are excluded BEFORE the lag so both engines
    order the identical sequence; ``tiebreak`` (an id column)
    disambiguates same-timestamp events deterministically.

    Returns (from_type, to_type, n_transitions, p_transition).
    """
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    w = Window.partitionBy(user_col).orderBy(*order)
    hops = (
        df.filter(
            F.col(user_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(type_col).isNotNull()
        )
        .select(
            F.lag(F.col(type_col)).over(w).alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_row = Window.partitionBy("from_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hops.select(
        "from_type",
        "to_type",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_row),
            6,
        ).alias("p_transition"),
    )


def event_path_trigrams(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak: str | None = None,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` three-step paths across per-user event sequences —
    the second-order extension of :func:`event_transitions`: where
    the transition matrix answers "what comes next", the trigram
    table answers "what FLOWS exist" (view→click→purchase vs
    view→click→view is the difference between a working funnel and a
    pogo-sticking one, invisible at first order).

    Same shape as transitions: rows with NULL user/ts/type excluded
    BEFORE the window, ONE user-keyed shuffle computes both lags in
    the same window pass, one map-side-combinable groupBy collapses
    to the ≤|types|³ path table, TakeOrdered top-k under the total
    (n desc, steps asc) order.  Share is of ALL trigram instances
    (window over the ≤k survivors' join side — totals come from a
    metadata-scale aggregate, broadcast back).

    Returns (step1, step2, step3, n_paths, share).
    """
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    w = Window.partitionBy(user_col).orderBy(*order)
    tri = (
        df.filter(
            F.col(user_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(type_col).isNotNull()
        )
        .select(
            F.lag(F.col(type_col), 2).over(w).alias("step1"),
            F.lag(F.col(type_col), 1).over(w).alias("step2"),
            F.col(type_col).alias("step3"),
        )
        .filter(F.col("step1").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )
    totals = tri.agg(F.sum("n_paths").alias("_total"))
    top = tri.orderBy(
        F.col("n_paths").desc(),
        F.col("step1").asc(),
        F.col("step2").asc(),
        F.col("step3").asc(),
    ).limit(k)
    return top.crossJoin(F.broadcast(totals)).select(
        "step1",
        "step2",
        "step3",
        F.col("n_paths").cast("long").alias("n_paths"),
        F.round(
            F.col("n_paths").cast("double") / F.col("_total"), 6
        ).alias("share"),
    )


def km_survival(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    censor_days: int = 7,
) -> DataFrame:
    """Kaplan–Meier user-lifetime survival curve: P(a user is still
    active after t days) with right-censoring — the churn analysis
    that cohort retention approximates but gets wrong near the
    observation edge (a user last seen yesterday hasn't churned;
    counting them as dead biases every retention number down).

    Lifetime = whole days between a user's first and last event.
    Users whose last event falls within ``censor_days`` of the
    corpus's last day are CENSORED at their observed lifetime (still
    alive as far as the data can say); everyone else's last event is
    their churn.  One corpus scan to per-user (first, last); the
    curve itself runs over |distinct lifetimes| rows (metadata-scale
    ordered windows, like CUSUM).  At-risk counts are suffix sums;
    the survival product folds as exp(Σ ln(1 − d/n)) with the log
    terms rounded 9dp and summed as DECIMAL, so the curve is
    order-free and engine-portable.

    Returns one row per distinct event time with deaths:
    (t_days, n_at_risk, n_deaths, n_censored, survival 6dp).
    """
    users = (
        df.filter(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .groupBy(user_col)
        .agg(
            F.min(F.to_date(ts_col)).alias("_first"),
            F.max(F.to_date(ts_col)).alias("_last"),
        )
    )
    # pin the per-user collapse: it feeds BOTH the horizon aggregate
    # and the lifetime staging, and unpinned each consumer re-ran the
    # full corpus scan (r13 plan audit: 2 FileScans for one logical
    # pass) — the pin is |users| rows, the relation every consumer
    # needs anyway
    users = users.localCheckpoint(eager=True)
    horizon = users.agg(F.max("_last").alias("_end"))
    staged = users.crossJoin(F.broadcast(horizon)).select(
        F.datediff("_last", "_first").alias("t"),
        (
            F.datediff("_end", "_last") < F.lit(censor_days)
        ).alias("_censored"),
    )
    by_t = staged.groupBy("t").agg(
        F.sum(F.when(~F.col("_censored"), 1).otherwise(0)).alias(
            "d"
        ),
        F.sum(F.when(F.col("_censored"), 1).otherwise(0)).alias(
            "c"
        ),
    )
    w_ord = Window.orderBy("t")
    w_suffix = w_ord.rowsBetween(0, Window.unboundedFollowing)
    w_prefix = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    curve = by_t.select(
        "t",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(w_suffix).alias("n"),
    ).select(
        "*",
        # guard d = n EXPLICITLY (ln(0) = -inf; Spark's decimal cast
        # nulls it but DuckDB's raises — both sides get NULL by
        # construction, and the survival short-circuit below owns
        # that row)
        quantize(
            F.when(
                F.col("d") < F.col("n"),
                F.log(
                    F.lit(1.0)
                    - F.col("d").cast("double") / F.col("n")
                )
            ),
            9,
        ).alias("_lnterm"),
    )
    # d = n only at the final time with no censored survivors:
    # ln(0) -> -inf; survival is exactly 0 there — short-circuit
    # instead of feeding -inf into the decimal sum
    surv = F.when(
        F.col("d") == F.col("n"), F.lit(0.0)
    ).otherwise(
        F.round(
            F.exp(F.sum("_lnterm").over(w_prefix).cast("double")), 6
        )
    )
    return (
        curve.filter(F.col("d") > 0)
        .select(
            F.col("t").cast("int").alias("t_days"),
            F.col("n").cast("long").alias("n_at_risk"),
            F.col("d").cast("long").alias("n_deaths"),
            F.col("c").cast("long").alias("n_censored"),
            surv.alias("survival"),
        )
    )


def _two_arm_risk_grid(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    arm_col: str,
    censor_days: int,
    caller: str,
) -> tuple:
    """Shared staging for the two-arm survival statistics (log-rank,
    Cox PH): ONE corpus scan to per-user (arm, lifetime, censored),
    collapsed to the pinned (arm, t) relation, expanded onto the
    shared time grid with per-arm at-risk suffix sums, folded to one
    row per time.  Returns (arm_a, arm_b, by_t, counts):

    - arm_a/arm_b — the lexicographically smaller/larger arm label
      (the deterministic orientation every consumer documents);
    - by_t — (t, dt, nt, da, na): total deaths / total at-risk /
      arm-a deaths / arm-a at-risk per distinct lifetime
      (metadata-scale: |distinct lifetimes| rows);
    - counts — a broadcastable 1-row (_nua, _nub) per-arm user-count
      aggregate folded from the pinned relation (every user lands in
      exactly one (arm, t) cell, so Σ(d+c) per arm is the user count
      and the corpus is never re-scanned for it).

    Exactly two arms required — refused loudly in the house style
    (a k-sample spelling of either statistic is a different test).
    """
    from component_delta_lake_writer_spark.errors import UserException

    users = (
        df.filter(
            F.col(user_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(arm_col).isNotNull()
        )
        .groupBy(user_col)
        .agg(
            # an arm is a property of the user; min() makes a user
            # that somehow carries two labels deterministic instead
            # of nondeterministic-first
            F.min(F.col(arm_col).cast("string")).alias("_arm"),
            F.min(F.to_date(ts_col)).alias("_first"),
            F.max(F.to_date(ts_col)).alias("_last"),
        )
    )
    # pin the per-user collapse (the km_survival rule): horizon and
    # staging both consume it — unpinned, each re-ran the corpus scan
    users = users.localCheckpoint(eager=True)
    horizon = users.agg(F.max("_last").alias("_end"))
    staged = users.crossJoin(F.broadcast(horizon)).select(
        "_arm",
        F.datediff("_last", "_first").alias("t"),
        (
            F.datediff("_end", "_last") < F.lit(censor_days)
        ).alias("_censored"),
    )
    # per (arm, t): deaths and censorings — the corpus collapse
    by_at = staged.groupBy("_arm", "t").agg(
        F.sum(F.when(~F.col("_censored"), 1).otherwise(0)).alias(
            "d"
        ),
        F.sum(F.when(F.col("_censored"), 1).otherwise(0)).alias(
            "c"
        ),
    )
    by_at = by_at.localCheckpoint(eager=True)
    # arms validated from the PINNED relation — checking on `users`
    # cost a full corpus aggregation action BEFORE the pin ran the
    # same scan again (two corpus passes for one); the refusal
    # contract is unchanged, it just fires after the single pass
    arms = [
        r["_arm"]
        for r in by_at.select("_arm").distinct().limit(3).collect()
    ]
    if len(arms) != 2:
        raise UserException(
            f"{caller} needs exactly 2 arms, got {sorted(arms)!r}"
        )
    arm_a, arm_b = sorted(arms)
    # shared grid: every distinct lifetime × both arms, so each arm
    # has an at-risk suffix sum at every OTHER arm's death times too
    grid = (
        by_at.select("t")
        .distinct()
        .crossJoin(
            F.broadcast(
                by_at.select("_arm").distinct()
            )
        )
        .join(by_at, ["_arm", "t"], "left")
        .select(
            "_arm",
            "t",
            F.coalesce("d", F.lit(0)).alias("d"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    w_suffix = (
        Window.partitionBy("_arm")
        .orderBy("t")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    per_arm = grid.select(
        "_arm",
        "t",
        "d",
        F.sum(F.col("d") + F.col("c")).over(w_suffix).alias("n"),
    )
    # fold the 2 arms back to one row per time with arm-a splits
    is_a = F.col("_arm") == F.lit(arm_a)
    by_t = per_arm.groupBy("t").agg(
        F.sum("d").alias("dt"),
        F.sum("n").alias("nt"),
        F.sum(F.when(is_a, F.col("d")).otherwise(0)).alias("da"),
        F.sum(F.when(is_a, F.col("n")).otherwise(0)).alias("na"),
    )
    counts = (
        by_at.groupBy("_arm")
        .agg(F.sum(F.col("d") + F.col("c")).alias("nu"))
        .agg(
            F.sum(F.when(is_a, F.col("nu")).otherwise(0)).alias(
                "_nua"
            ),
            F.sum(
                F.when(~is_a, F.col("nu")).otherwise(0)
            ).alias("_nub"),
        )
    )
    return arm_a, arm_b, by_t, counts


def logrank_test(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    arm_col: str,
    censor_days: int = 7,
) -> DataFrame:
    """Two-arm log-rank test over Kaplan–Meier lifetimes — the reason
    teams compute KM curves at all: "is arm B's retention actually
    different", answered with censoring handled correctly instead of
    eyeballing two survival lines (:func:`km_survival` draws them;
    this tests them).

    Same lifetime staging as km_survival (one corpus scan to per-user
    (arm, first, last); lifetime = whole days between; users whose
    last event falls within ``censor_days`` of the corpus's last day
    are censored).  The test itself runs over the |distinct
    lifetimes| × 2 grid (metadata-scale ordered windows, the KM/CUSUM
    discipline): per-arm at-risk counts are suffix sums over the
    SHARED time grid (a broadcast of the 2-row arm relation onto the
    distinct-times relation, so both arms have an at-risk count at
    every death time), and at each time with d_t total deaths the
    hypergeometric moments accrue:

        E_a(t)  = d_t · n_a(t) / n_t
        Var(t)  = d_t · n_a/n_t · (n_t−n_a)/n_t · (n_t−d_t)/(n_t−1)

    Each per-time term is the identical left-to-right double
    expression on both engines, ROUNDED 9dp and summed as DECIMAL
    (order-free, engine-portable — the km ln-term rule); Var terms at
    n_t = 1 are 0 by definition (the guard is explicit, not a NULL
    cast).  z = (O_a − E_a)/√V compares arm_a = the lexicographically
    SMALLER arm label (a deterministic orientation); the significance
    flag compares the 6dp-ROUNDED |z| on both sides (the ztest/MW
    convention).  chi² = z² is the classic one-dof statistic.

    Exactly two arms are required — a k-sample log-rank is a
    different statistic (a vector quadratic form), and silently
    collapsing arms would test something the caller didn't ask;
    refused loudly in the house style.

    Returns ONE row: (arm_a, arm_b, n_users_a, n_users_b, n_times,
    o_a, e_a, z, chi2, significant) — e_a/z/chi2 rounded 6dp, NULL
    z/chi2 when the variance degenerates (no deaths, or every death
    time has a single at-risk user).
    """
    arm_a, arm_b, by_t, counts = _two_arm_risk_grid(
        df, user_col, ts_col, arm_col, censor_days, "logrank_test"
    )
    dt = F.col("dt").cast("double")
    nt = F.col("nt").cast("double")
    na = F.col("na").cast("double")
    terms = by_t.filter(F.col("dt") > 0).select(
        "dt",
        "da",
        # identical left-to-right double expressions on both engines;
        # 9dp-round + DECIMAL sum makes the accumulation order-free
        quantize(dt * na / nt, 9).alias("_e"),
        quantize(
            F.when(
                F.col("nt") > 1,
                dt
                * na
                / nt
                * (nt - na)
                / nt
                * (nt - dt)
                / (nt - F.lit(1.0))
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("_v"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("n_times"),
        F.sum("da").alias("_oa"),
        F.sum("_e").alias("_ea"),
        F.sum("_v").alias("_va"),
    ).crossJoin(F.broadcast(counts))
    z = F.when(
        F.col("_va") > 0,
        F.round(
            (
                F.col("_oa").cast("double")
                - F.col("_ea").cast("double")
            )
            / F.sqrt(F.col("_va").cast("double")),
            6,
        ),
    )
    return agg.select(
        F.lit(arm_a).alias("arm_a"),
        F.lit(arm_b).alias("arm_b"),
        F.col("_nua").cast("long").alias("n_users_a"),
        F.col("_nub").cast("long").alias("n_users_b"),
        F.col("n_times").cast("long").alias("n_times"),
        F.coalesce(F.col("_oa"), F.lit(0))
        .cast("long")
        .alias("o_a"),
        F.round(F.col("_ea").cast("double"), 6).alias("e_a"),
        z.alias("z"),
        F.round(z * z, 6).alias("chi2"),
        F.coalesce(
            (F.abs(z) > F.lit(1.959964)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def cox_ph_two_arm(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    arm_col: str,
    censor_days: int = 7,
    iterations: int = 3,
) -> DataFrame:
    """Two-arm Cox proportional-hazards fit over Kaplan–Meier
    lifetimes — the survival regression the log-rank test is the
    score test OF: where log-rank answers "are the curves
    different", Cox answers "by HOW MUCH" — a hazard ratio with a
    confidence interval, the number a retention experiment actually
    ships.

    Model: hazard_b(t) = hazard_a(t)·e^β for the indicator covariate
    x = 1 on ``arm_b`` (the lexicographically LARGER label, so
    hazard_ratio > 1 reads "arm_b churns faster").  Fit by
    Newton-Raphson on the Breslow partial likelihood — with one
    binary covariate the risk-set sums collapse onto the same
    metadata-scale (t, dt, nt, da, na) grid the log-rank test folds
    (shared staging, :func:`_two_arm_risk_grid`):

        r(β)  = n1·e^β / (n0 + n1·e^β)        per death time
        U(β)  = Σ d1 − Σ d·r                   score
        I(β)  = Σ d·r·(1−r)                    information
        β'    = β + U/I                        Newton step

    A FIXED ``iterations`` count of steps from β₀ = 0 (the
    Bradley-Terry discipline: no driver-side convergence loop, no
    data-dependent iteration count), each per-time term the
    identical left-to-right double expression on both engines with
    r and the step ROUNDED 9dp and the sums accumulated as DECIMAL
    — the fit is bit-identical at any parallelism and
    engine-portable even though e^β itself can differ in the last
    ulp between libm implementations (the 9dp round absorbs it, the
    km ln-term rule).  β₀ = 0 makes step 1 EXACTLY the log-rank
    score direction: U(0) = O_b − E_b.

    Returns ONE row: (arm_a, arm_b, n_users_a, n_users_b, n_times,
    o_b, beta, hazard_ratio, se, ci_lo, ci_hi, significant) — beta/
    HR/se/CI rounded 6dp, the CI on the HAZARD-RATIO scale
    (exp(β ± 1.96·se)), NULLs when the fit degenerates (no deaths,
    or an information sum of 0), and the significance flag compared
    on the 6dp-ROUNDED z = β/se (the house convention).
    """
    arm_a, arm_b, by_t, counts = _two_arm_risk_grid(
        df, user_col, ts_col, arm_col, censor_days, "cox_ph_two_arm"
    )
    terms = by_t.filter(F.col("dt") > 0).select(
        "dt",
        (F.col("dt") - F.col("da")).alias("d1"),
        F.col("na").alias("n0"),
        (F.col("nt") - F.col("na")).alias("n1"),
    )
    # pinned: the risk table feeds iterations+1 evaluations — and
    # COALESCED to one partition first: it is |distinct death
    # times| rows (metadata-scale by construction), and every Newton
    # step is a full aggregate over it, so 32-partition shuffles
    # would pay ~32x task overhead per step for nothing
    terms = terms.coalesce(1).localCheckpoint(eager=True)
    beta = counts.select(F.lit(0.0).alias("_b"))

    def _r():
        eb = F.exp(F.col("_b"))
        n0 = F.col("n0").cast("double")
        n1 = F.col("n1").cast("double")
        return F.round(n1 * eb / (n0 + n1 * eb), 9)

    d = F.col("dt").cast("double")
    for _ in range(iterations):
        j = terms.crossJoin(F.broadcast(beta))
        r = _r()
        ag = j.select(
            "_b",
            "d1",
            quantize(d * r, 9).alias("_u"),
            quantize(d * r * (F.lit(1.0) - r), 9).alias("_i"),
        ).agg(
            F.min("_b").alias("_b"),
            F.sum("d1").alias("_o"),
            F.sum("_u").alias("_su"),
            F.sum("_i").alias("_si"),
        )
        beta = ag.select(
            F.when(
                F.col("_si") > 0,
                F.round(
                    F.col("_b")
                    + (
                        F.col("_o").cast("double")
                        - F.col("_su").cast("double")
                    )
                    / F.col("_si").cast("double"),
                    9,
                ),
            ).alias("_b")
        )
        # no per-iteration checkpoint (unlike Bradley-Terry's |items|
        # score relation): beta is ONE row over the pinned risk table,
        # so letting the iterations nest as subqueries of one action
        # is cheaper than an eager job per Newton step — the nesting
        # depth is the FIXED iteration count, never data-dependent
    # final information evaluation at the fitted beta -> se, CI
    j = terms.crossJoin(F.broadcast(beta))
    r = _r()
    fin = j.select(
        "_b",
        "d1",
        quantize(d * r * (F.lit(1.0) - r), 9).alias("_i"),
    ).agg(
        F.count(F.lit(1)).alias("n_times"),
        F.min("_b").alias("_b"),
        F.sum("d1").alias("_o"),
        F.sum("_i").alias("_si"),
    )
    out = fin.crossJoin(F.broadcast(counts))
    b = F.col("_b")
    se = F.when(
        F.col("_si") > 0,
        F.round(
            F.lit(1.0) / F.sqrt(F.col("_si").cast("double")), 9
        ),
    )
    z = F.round(b / se, 6)
    return out.select(
        F.lit(arm_a).alias("arm_a"),
        F.lit(arm_b).alias("arm_b"),
        F.col("_nua").cast("long").alias("n_users_a"),
        F.col("_nub").cast("long").alias("n_users_b"),
        F.col("n_times").cast("long").alias("n_times"),
        F.coalesce(F.col("_o"), F.lit(0)).cast("long").alias("o_b"),
        F.round(b, 6).alias("beta"),
        F.round(F.exp(b), 6).alias("hazard_ratio"),
        F.round(se, 6).alias("se"),
        F.round(F.exp(b - F.lit(1.959964) * se), 6).alias("ci_lo"),
        F.round(F.exp(b + F.lit(1.959964) * se), 6).alias("ci_hi"),
        F.coalesce(
            (F.abs(z) > F.lit(1.959964)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def gehan_wilcoxon_test(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    arm_col: str,
    censor_days: int = 7,
) -> DataFrame:
    """Gehan–Wilcoxon (Breslow) weighted log-rank over KM lifetimes —
    the EARLY-difference spelling of the two-arm comparison: each
    death time's (O−E) contribution is weighted by the total number
    still at risk, so a treatment whose effect decays (onboarding
    nudges, promo campaigns) shows up here when the plain log-rank —
    which weights every death time equally and so favors sustained,
    late-separating effects — stays flat.  Same staging, same grid,
    same censoring as :func:`logrank_test` (shared
    :func:`_two_arm_risk_grid`); only the weights differ:

        U = Σ n_t·(d_a − d_t·n_a/n_t)     V = Σ n_t²·Var_t
        z = U / √V

    Weighted terms round 9dp and accumulate as DECIMAL (order-free);
    the n_t·d_a product stays inside the 9dp-rounded double term —
    at 10¹⁰ users n_t·d_a overflows a BIGINT, and the decimal-sum
    rule already owns exactness.  Orientation and the significance
    convention match logrank_test (arm_a = smaller label, flag on
    the 6dp-ROUNDED |z|).

    Returns ONE row: (arm_a, arm_b, n_users_a, n_users_b, n_times,
    w_diff, z, chi2, significant) — w_diff = U rounded 6dp (a
    weighted score, not a count), NULL z/chi2 on a degenerate
    variance.
    """
    arm_a, arm_b, by_t, counts = _two_arm_risk_grid(
        df, user_col, ts_col, arm_col, censor_days,
        "gehan_wilcoxon_test",
    )
    dt = F.col("dt").cast("double")
    nt = F.col("nt").cast("double")
    na = F.col("na").cast("double")
    da = F.col("da").cast("double")
    terms = by_t.filter(F.col("dt") > 0).select(
        quantize(nt * (da - dt * na / nt), 9).alias("_u"),
        quantize(
            F.when(
                F.col("nt") > 1,
                nt
                * nt
                * (
                    dt
                    * na
                    / nt
                    * (nt - na)
                    / nt
                    * (nt - dt)
                    / (nt - F.lit(1.0))
                )
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("_v"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("n_times"),
        F.sum("_u").alias("_uw"),
        F.sum("_v").alias("_vw"),
    ).crossJoin(F.broadcast(counts))
    z = F.when(
        F.col("_vw") > 0,
        F.round(
            F.col("_uw").cast("double")
            / F.sqrt(F.col("_vw").cast("double")),
            6,
        ),
    )
    return agg.select(
        F.lit(arm_a).alias("arm_a"),
        F.lit(arm_b).alias("arm_b"),
        F.col("_nua").cast("long").alias("n_users_a"),
        F.col("_nub").cast("long").alias("n_users_b"),
        F.col("n_times").cast("long").alias("n_times"),
        F.round(F.col("_uw").cast("double"), 6).alias("w_diff"),
        z.alias("z"),
        F.round(z * z, 6).alias("chi2"),
        F.coalesce(
            (F.abs(z) > F.lit(1.959964)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def stratified_logrank_test(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    arm_col: str,
    stratum_col: str,
    censor_days: int = 7,
) -> DataFrame:
    """Stratified two-arm log-rank test — the segment-adjusted
    spelling: compare the arms WITHIN each stratum (acquisition
    channel, country, plan tier) and pool the evidence, so a
    confounder that shifts both lifetime AND arm mix (the classic
    "mobile users churn faster and skew to arm B") can't
    manufacture or mask a difference the plain
    :func:`logrank_test` would report.

    Mechanics: the per-stratum risk tables are built exactly like
    the unstratified grid but keyed by (stratum, t) — per-(stratum,
    arm) at-risk suffix sums over each stratum's OWN time grid, one
    corpus scan into the pinned (stratum, arm, t) relation — and
    the hypergeometric O−E and Var terms (identical formulas,
    identical 9dp-round + DECIMAL accumulation) sum across ALL
    strata: z = Σ_s Σ_t (O−E) / √(Σ_s Σ_t Var).  The grid is
    |strata| × |distinct lifetimes| × 2 — still metadata-scale (a
    stratification column with corpus-scale cardinality is a
    user-id, not a stratum; that analysis is the Cox fit).

    An arm is a user property; the STRATUM is too (min() makes a
    drifting label deterministic).  Arms are validated globally
    (exactly 2, across all strata — a stratum may legitimately hold
    one arm only; its times then contribute 0 to O−E and Var, which
    is the correct stratified behavior, not an error).  Orientation
    and the significance convention match logrank_test.

    Returns ONE row: (arm_a, arm_b, n_strata, n_users_a, n_users_b,
    n_times, o_a, e_a, z, chi2, significant) — n_times counts
    (stratum, death-time) cells.
    """
    from component_delta_lake_writer_spark.errors import UserException

    users = (
        df.filter(
            F.col(user_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(arm_col).isNotNull()
            & F.col(stratum_col).isNotNull()
        )
        .groupBy(user_col)
        .agg(
            F.min(F.col(arm_col).cast("string")).alias("_arm"),
            F.min(F.col(stratum_col).cast("string")).alias("_st"),
            F.min(F.to_date(ts_col)).alias("_first"),
            F.max(F.to_date(ts_col)).alias("_last"),
        )
    )
    # pin the per-user collapse (the km_survival rule)
    users = users.localCheckpoint(eager=True)
    horizon = users.agg(F.max("_last").alias("_end"))
    staged = users.crossJoin(F.broadcast(horizon)).select(
        "_st",
        "_arm",
        F.datediff("_last", "_first").alias("t"),
        (
            F.datediff("_end", "_last") < F.lit(censor_days)
        ).alias("_censored"),
    )
    by_sat = staged.groupBy("_st", "_arm", "t").agg(
        F.sum(F.when(~F.col("_censored"), 1).otherwise(0)).alias(
            "d"
        ),
        F.sum(F.when(F.col("_censored"), 1).otherwise(0)).alias(
            "c"
        ),
    )
    by_sat = by_sat.localCheckpoint(eager=True)
    # arms validated from the PINNED relation (the risk-grid rule:
    # one corpus pass, the refusal fires after it)
    arms = [
        r["_arm"]
        for r in by_sat.select("_arm").distinct().limit(3).collect()
    ]
    if len(arms) != 2:
        raise UserException(
            "stratified_logrank_test needs exactly 2 arms, got "
            f"{sorted(arms)!r}"
        )
    arm_a, arm_b = sorted(arms)
    # per-stratum grid: each stratum's own distinct times × the
    # GLOBAL 2-arm relation (broadcast), so both arms get an at-risk
    # suffix at every death time of their stratum
    grid = (
        by_sat.select("_st", "t")
        .distinct()
        .crossJoin(
            F.broadcast(by_sat.select("_arm").distinct())
        )
        .join(by_sat, ["_st", "_arm", "t"], "left")
        .select(
            "_st",
            "_arm",
            "t",
            F.coalesce("d", F.lit(0)).alias("d"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    w_suffix = (
        Window.partitionBy("_st", "_arm")
        .orderBy("t")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    per_arm = grid.select(
        "_st",
        "_arm",
        "t",
        "d",
        F.sum(F.col("d") + F.col("c")).over(w_suffix).alias("n"),
    )
    is_a = F.col("_arm") == F.lit(arm_a)
    by_st = per_arm.groupBy("_st", "t").agg(
        F.sum("d").alias("dt"),
        F.sum("n").alias("nt"),
        F.sum(F.when(is_a, F.col("d")).otherwise(0)).alias("da"),
        F.sum(F.when(is_a, F.col("n")).otherwise(0)).alias("na"),
    )
    dt = F.col("dt").cast("double")
    nt = F.col("nt").cast("double")
    na = F.col("na").cast("double")
    terms = by_st.filter(F.col("dt") > 0).select(
        "_st",
        "dt",
        "da",
        quantize(dt * na / nt, 9).alias("_e"),
        quantize(
            F.when(
                F.col("nt") > 1,
                dt
                * na
                / nt
                * (nt - na)
                / nt
                * (nt - dt)
                / (nt - F.lit(1.0))
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("_v"),
    )
    # ONE aggregate over the pinned relation carries the per-arm
    # user counts AND the stratum count — no extra driver action
    counts = by_sat.agg(
        F.sum(
            F.when(is_a, F.col("d") + F.col("c")).otherwise(0)
        ).alias("_nua"),
        F.sum(
            F.when(~is_a, F.col("d") + F.col("c")).otherwise(0)
        ).alias("_nub"),
        F.countDistinct("_st").alias("_ns"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("n_times"),
        F.sum("da").alias("_oa"),
        F.sum("_e").alias("_ea"),
        F.sum("_v").alias("_va"),
    ).crossJoin(F.broadcast(counts))
    z = F.when(
        F.col("_va") > 0,
        F.round(
            (
                F.col("_oa").cast("double")
                - F.col("_ea").cast("double")
            )
            / F.sqrt(F.col("_va").cast("double")),
            6,
        ),
    )
    return agg.select(
        F.lit(arm_a).alias("arm_a"),
        F.lit(arm_b).alias("arm_b"),
        F.col("_ns").cast("long").alias("n_strata"),
        F.col("_nua").cast("long").alias("n_users_a"),
        F.col("_nub").cast("long").alias("n_users_b"),
        F.col("n_times").cast("long").alias("n_times"),
        F.coalesce(F.col("_oa"), F.lit(0))
        .cast("long")
        .alias("o_a"),
        F.round(F.col("_ea").cast("double"), 6).alias("e_a"),
        z.alias("z"),
        F.round(z * z, 6).alias("chi2"),
        F.coalesce(
            (F.abs(z) > F.lit(1.959964)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def nelson_aalen(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    censor_days: int = 7,
) -> DataFrame:
    """Nelson–Aalen cumulative hazard H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ — the
    estimator survival texts pair with Kaplan–Meier: where KM answers
    "what fraction survives past t", the cumulative hazard answers
    "how much churn FORCE has accumulated by t", is additive (arm
    differences and slope changes read directly off it), and is the
    quantity Cox regression models the log of.  Same censoring
    contract as :func:`km_survival` (lifetime = whole days between a
    user's first and last event; users last seen within
    ``censor_days`` of the corpus edge are censored).

    Scale shape: identical to km_survival — ONE corpus scan to
    per-user (first, last), the estimator over |distinct lifetimes|
    rows (metadata-scale ordered windows); each increment d/n is a
    division of exact longs rounded 9dp into a DECIMAL prefix sum,
    so the curve is order-free and engine-portable.

    Returns one row per distinct event time with deaths:
    (t_days, n_at_risk, n_deaths, n_censored, cum_hazard 9dp).
    """
    users = (
        df.filter(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .groupBy(user_col)
        .agg(
            F.min(F.to_date(ts_col)).alias("_first"),
            F.max(F.to_date(ts_col)).alias("_last"),
        )
    )
    # pin the per-user collapse (the km_survival rule)
    users = users.localCheckpoint(eager=True)
    horizon = users.agg(F.max("_last").alias("_end"))
    staged = users.crossJoin(F.broadcast(horizon)).select(
        F.datediff("_last", "_first").alias("t"),
        (
            F.datediff("_end", "_last") < F.lit(censor_days)
        ).alias("_censored"),
    )
    by_t = staged.groupBy("t").agg(
        F.sum(F.when(~F.col("_censored"), 1).otherwise(0)).alias(
            "d"
        ),
        F.sum(F.when(F.col("_censored"), 1).otherwise(0)).alias(
            "c"
        ),
    )
    w_ord = Window.orderBy("t")
    w_suffix = w_ord.rowsBetween(0, Window.unboundedFollowing)
    w_prefix = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    curve = by_t.select(
        "t",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(w_suffix).alias("n"),
    ).select(
        "*",
        quantize(F.col("d").cast("double") / F.col("n"), 9).alias("_hterm"),
    )
    return (
        curve.select(
            "*",
            F.sum("_hterm").over(w_prefix).alias("_H"),
        )
        .filter(F.col("d") > 0)
        .select(
            F.col("t").cast("int").alias("t_days"),
            F.col("n").cast("long").alias("n_at_risk"),
            F.col("d").cast("long").alias("n_deaths"),
            F.col("c").cast("long").alias("n_censored"),
            F.col("_H").cast("double").alias("cum_hazard"),
        )
    )


def rmst_two_arm(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    arm_col: str,
    tau_days: int,
    censor_days: int = 7,
) -> DataFrame:
    """Two-arm restricted mean survival time to horizon τ —
    RMST(τ) = ∫₀^τ S(u) du, "expected active days within the first
    τ", the effect-size companion to :func:`logrank_test`: the
    log-rank z says WHETHER retention differs, the RMST difference
    says BY HOW MANY DAYS, stays meaningful when hazards cross (the
    case where the Cox hazard ratio is a lie), and is the estimand
    regulators ask for precisely because it needs no
    proportional-hazards assumption.

    Rides the shared :func:`_two_arm_risk_grid` staging (ONE corpus
    scan, same pin as log-rank/Gehan/Cox); each arm's KM step curve
    folds as exp(Σ 9dp-rounded ln terms) on the metadata-scale grid,
    and the integral is exact step-function geometry: the segment
    [tᵢ, min(tᵢ₊₁, τ)) contributes S(tᵢ)·width with the 6dp survival
    × integer width, summed exactly — order-free
    where a float accumulation is not — plus the head segment
    [0, min(t₁, τ)) at S = 1.  An arm whose last subject dies
    (d = n) contributes 0 beyond that time; beyond an arm's last
    OBSERVATION the curve carries its last value (the standard KM
    convention — τ should sit inside follow-up for both arms).

    Returns ONE row: (arm_a, arm_b, n_users_a, n_users_b, tau_days,
    rmst_a, rmst_b, rmst_diff) — rmst_diff = arm_a − arm_b in days.
    """
    arm_a, arm_b, by_t, counts = _two_arm_risk_grid(
        df, user_col, ts_col, arm_col, censor_days, "rmst_two_arm"
    )
    w_ord = Window.orderBy("t")
    w_prefix = w_ord.rowsBetween(Window.unboundedPreceding, 0)

    def _arm_cols(d, n, tag: str):
        """Per-arm survival + integral segment over the shared grid."""
        lnterm = quantize(
            F.when((n > 0) & (d < n), F.log(F.lit(1.0) - d.cast("double") / n)),
            9,
        )
        dead = F.max(
            F.when((n > 0) & (d == n), 1).otherwise(0)
        ).over(w_prefix)
        surv = F.when(dead == 1, F.lit(0.0)).otherwise(
            F.round(
                F.exp(
                    F.coalesce(
                        F.sum(lnterm).over(w_prefix), F.lit(0)
                    ).cast("double")
                ),
                6,
            )
        )
        return quantize(surv, 6).alias(f"_s{tag}")

    tau = F.lit(int(tau_days))
    db = F.col("dt") - F.col("da")
    nb = F.col("nt") - F.col("na")
    staged = by_t.select(
        "t",
        _arm_cols(F.col("da"), F.col("na"), "a"),
        _arm_cols(db, nb, "b"),
        F.greatest(
            F.lit(0),
            F.least(
                F.coalesce(F.lead("t").over(w_ord), tau), tau
            )
            - F.least(F.col("t"), tau),
        ).alias("_w"),
    )
    agg = staged.agg(
        F.least(F.min("t"), tau).alias("_head"),
        F.sum(F.col("_sa") * F.col("_w")).alias("_ia"),
        F.sum(F.col("_sb") * F.col("_w")).alias("_ib"),
    )
    rmst_a = F.col("_head") + F.col("_ia")
    rmst_b = F.col("_head") + F.col("_ib")
    return agg.crossJoin(F.broadcast(counts)).select(
        F.lit(arm_a).alias("arm_a"),
        F.lit(arm_b).alias("arm_b"),
        F.col("_nua").cast("long").alias("n_users_a"),
        F.col("_nub").cast("long").alias("n_users_b"),
        F.lit(int(tau_days)).alias("tau_days"),
        rmst_a.cast("double").alias("rmst_a"),
        rmst_b.cast("double").alias("rmst_b"),
        (rmst_a - rmst_b).cast("double").alias("rmst_diff"),
    )


def concordance_index(
    subjects: DataFrame,
    time_col: str,
    event_col: str,
    score_col: str,
) -> DataFrame:
    """Harrell's concordance index (C-index) — the rank-based
    accuracy of a risk score against observed survival: of all
    usable pairs (the subject with the shorter lifetime had an
    observed event), what fraction did the score order correctly
    (shorter-lived ⇒ HIGHER risk score)?  The readout that turns
    a fitted :func:`cox_ph_two_arm` (or any churn model) into one
    number; C = 0.5 is coin-flip, 1.0 is perfect ranking.

    Input is a per-subject relation (time, event 0/1, score) — the
    caller owns the corpus→subject collapse (the km_survival
    spelling).  Pair counting is O(pairs) nowhere: ONE groupBy
    pins the (t, score) cell table, expanded onto the full
    t × score grid (the Jonckheere 2D-dominance trick) so each
    score's longer-lived count is readable at every event time;
    n_gt rides an EXCLUSIVE suffix window per score, concordant /
    tied / usable counts ride two more windows partitioned by t —
    never an unpartitioned corpus window; the score axis should be
    discrete or pre-bucketed (the JT/mann_whitney contract).
    Doubled-count integers throughout (ties half-weighted as
    2·conc + tied); per-cell products are exact integers
    (d·n_gt ~ N² overflows long at N ≈ 2³¹).

    Pairs with equal times are not usable (the strict Harrell
    convention); censored subjects count only as the longer-lived
    side.  Returns ONE row: (n_subjects, n_events, n_pairs,
    c_index 6dp) — c_index NULL when no usable pair exists.
    """
    src = subjects.filter(
        F.col(time_col).isNotNull()
        & F.col(event_col).isNotNull()
        & F.col(score_col).isNotNull()
    ).select(
        F.col(time_col).alias("_t"),
        F.col(event_col).cast("int").alias("_e"),
        F.col(score_col).alias("_s"),
    )
    cells = src.groupBy("_t", "_s").agg(
        F.sum(
            F.when(F.col("_e").isin(0, 1), F.col("_e")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "concordance_index: event must be 0/1, "
                            "got "
                        ),
                        F.col("_e").cast("string"),
                    )
                ).cast("int")
            )
        ).alias("_d"),
        F.count(F.lit(1)).alias("_a"),
    )
    # the cell table feeds the two distinct-axis builds AND the
    # grid join — pin it (the JT per_gv discipline)
    cells = cells.localCheckpoint(eager=True)
    grid = (
        cells.select("_t")
        .distinct()
        .crossJoin(cells.select("_s").distinct())
        .join(cells, ["_t", "_s"], "left")
        .select(
            "_t",
            "_s",
            F.coalesce("_d", F.lit(0)).alias("_d"),
            F.coalesce("_a", F.lit(0)).alias("_a"),
        )
    )
    w_gt = (
        Window.partitionBy("_s")
        .orderBy("_t")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    g1 = grid.select(
        "_t",
        "_s",
        "_d",
        F.coalesce(F.sum("_a").over(w_gt), F.lit(0)).alias("_ngt"),
    )
    w_lt = (
        Window.partitionBy("_t")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("_t")
    g2 = g1.select(
        "_t",
        "_d",
        "_ngt",
        F.coalesce(F.sum("_ngt").over(w_lt), F.lit(0)).alias(
            "_glt"
        ),
        F.sum("_ngt").over(w_all).alias("_gall"),
    )
    agg = g2.agg(
        exact_sum_product(
            "_d", F.lit(2) * F.col("_glt") + F.col("_ngt"), 0
        ).alias("_c2"),
        exact_sum_product("_d", "_gall", 0).alias("_p"),
    )
    totals = cells.agg(
        F.sum("_a").alias("_n"), F.sum("_d").alias("_ne")
    )
    c = F.when(
        F.col("_p") > 0,
        F.round(
            F.col("_c2").cast("double")
            / (F.lit(2.0) * F.col("_p").cast("double")),
            6,
        ),
    )
    return totals.crossJoin(F.broadcast(agg)).select(
        F.col("_n").cast("long").alias("n_subjects"),
        F.col("_ne").cast("long").alias("n_events"),
        F.col("_p").cast("long").alias("n_pairs"),
        c.alias("c_index"),
    )


def cumulative_incidence(
    subjects: DataFrame,
    time_col: str,
    cause_col: str,
) -> DataFrame:
    """Aalen–Johansen cumulative incidence — competing-risks
    survival, the analysis :func:`km_survival` gets WRONG when
    subjects can exit for more than one reason (churn-to-competitor
    vs churn-to-inactivity; doc removed-for-quality vs
    removed-as-duplicate): naively running KM per cause treats the
    other causes as censoring and overstates every curve (the
    textbook 1−KM bias).  CIF_k(t) = Σ_{s≤t} S(s−)·d_k(s)/n(s)
    uses the ALL-cause survival S as the at-risk discount, so the
    per-cause curves sum to 1−S — probabilities that actually
    partition.

    Input is a per-subject relation (time, cause) with cause NULL
    meaning right-censored (the caller owns the corpus→subject
    collapse, the concordance_index contract).  ONE pass collapses
    subjects to the (t, cause) cell table (pinned — the all-cause
    grid aggregate and the per-cause join both ride it); the time
    grid is metadata-scale: at-risk suffix sums, S(s−) as
    exp(EXCLUSIVE prefix Σ of 9dp-rounded ln(1−d/n)) — the
    km_survival number discipline — and per-cause CIF as an
    inclusive prefix sum of 9dp-rounded increments partitioned by
    cause.  Every window is over the distinct-time grid, never the
    corpus.

    Returns one row per (cause, event time with that cause):
    (cause, t_days, n_at_risk, n_deaths, cif 6dp).
    """
    src = subjects.filter(F.col(time_col).isNotNull()).select(
        F.col(time_col).alias("_t"),
        F.col(cause_col).cast("string").alias("_k"),
    )
    cells = src.groupBy("_t", "_k").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    # pinned: the all-cause time grid AND the per-cause rows both
    # consume it (the JT per_gv discipline)
    cells = cells.localCheckpoint(eager=True)
    by_t = cells.groupBy("_t").agg(
        F.sum(
            F.when(F.col("_k").isNotNull(), F.col("_cnt")).otherwise(
                0
            )
        ).alias("_d"),
        F.sum(
            F.when(F.col("_k").isNull(), F.col("_cnt")).otherwise(0)
        ).alias("_c"),
    )
    w_ord = Window.orderBy("_t")
    w_suffix = w_ord.rowsBetween(0, Window.unboundedFollowing)
    w_excl = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    grid = by_t.select(
        "_t",
        "_d",
        F.sum(F.col("_d") + F.col("_c")).over(w_suffix).alias("_n"),
    ).select(
        "*",
        # d = n only at the final time with no censored survivors
        # (the km_survival guard): NULL here, and S(s−) never reads
        # a row at or past its own time anyway
        quantize(
            F.when(
                F.col("_d") < F.col("_n"),
                F.log(
                    F.lit(1.0)
                    - F.col("_d").cast("double") / F.col("_n")
                )
            ),
            9,
        ).alias("_lnterm"),
    )
    grid = grid.select(
        "_t",
        "_n",
        F.exp(
            F.coalesce(
                F.sum("_lnterm").over(w_excl).cast("double"),
                F.lit(0.0),
            )
        ).alias("_s_minus"),
    )
    ck = (
        cells.filter(F.col("_k").isNotNull())
        .join(F.broadcast(grid), "_t")
        .select(
            "_k",
            "_t",
            "_n",
            F.col("_cnt").alias("_dk"),
            quantize(
                F.col("_s_minus")
                * F.col("_cnt").cast("double")
                / F.col("_n"),
                9,
            ).alias("_inc"),
        )
    )
    w_cif = (
        Window.partitionBy("_k")
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ck.select(
        F.col("_k").alias("cause"),
        F.col("_t").cast("int").alias("t_days"),
        F.col("_n").cast("long").alias("n_at_risk"),
        F.col("_dk").cast("long").alias("n_deaths"),
        F.round(
            F.sum("_inc").over(w_cif).cast("double"), 6
        ).alias("cif"),
    )


def fleming_harrington_test(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    arm_col: str,
    rho: int = 1,
    gamma: int = 1,
    censor_days: int = 7,
) -> DataFrame:
    """Fleming–Harrington FH(ρ,γ) weighted log-rank — the member of
    the two-arm survival family that lets the analyst SAY where the
    difference should live: weight w(t) = S(t−)^ρ·(1−S(t−))^γ with
    S the POOLED Kaplan–Meier just before t.  FH(0,0) is the plain
    log-rank, FH(1,0) Peto–Peto (early differences, the Gehan
    posture without its censoring sensitivity), FH(0,1) late
    differences — the delayed-effect shape every retention
    intervention with a ramp-up shows and the plain log-rank is
    weakest against.

    Same ONE-scan staging as logrank/Gehan/Cox
    (:func:`_two_arm_risk_grid`); the pooled S(t−) rides an
    EXCLUSIVE prefix sum of 9dp-rounded ln(1−d/n) terms over the
    metadata-scale time grid (the km_survival spelling), and
    ρ/γ are INTEGERS (0–4) so the weight is a chained
    multiplication — never a pow() whose libm rounding could
    differ between engines.  U = Σ w·(d_a−E_a), V = Σ w²·Var with
    each per-time term the identical left-to-right double chain on
    both engines, 9dp-rounded and DECIMAL-summed.

    Returns ONE row: (arm_a, arm_b, n_users_a, n_users_b, n_times,
    rho, gamma, u_stat, z, chi2, significant) — z NULL when the
    variance degenerates.
    """
    from component_delta_lake_writer_spark.errors import UserException

    if (
        not isinstance(rho, int)
        or not isinstance(gamma, int)
        or not (0 <= rho <= 4)
        or not (0 <= gamma <= 4)
    ):
        raise UserException(
            "fleming_harrington_test: rho and gamma must be "
            f"integers in [0, 4], got rho={rho!r} gamma={gamma!r}"
        )
    arm_a, arm_b, by_t, counts = _two_arm_risk_grid(
        df,
        user_col,
        ts_col,
        arm_col,
        censor_days,
        "fleming_harrington_test",
    )
    dt = F.col("dt").cast("double")
    nt = F.col("nt").cast("double")
    na = F.col("na").cast("double")
    w_ord = Window.orderBy("t")
    w_excl = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    staged = by_t.select(
        "t",
        "dt",
        "nt",
        "da",
        "na",
        quantize(
            F.when(F.col("dt") < F.col("nt"), F.log(F.lit(1.0) - dt / nt)),
            9,
        ).alias("_lnt"),
    )
    sm = F.exp(
        F.coalesce(
            F.sum("_lnt").over(w_excl).cast("double"), F.lit(0.0)
        )
    )
    w_raw = F.lit(1.0)
    for _ in range(rho):
        w_raw = w_raw * sm
    for _ in range(gamma):
        w_raw = w_raw * (F.lit(1.0) - sm)
    staged = staged.select(
        "dt",
        "nt",
        "da",
        "na",
        F.round(w_raw, 9).alias("_wt"),
    )
    wt = F.col("_wt")
    terms = staged.filter(F.col("dt") > 0).select(
        "da",
        quantize(wt * (F.col("da").cast("double") - dt * na / nt), 9)
        .alias("_u"),
        quantize(
            F.when(
                F.col("nt") > 1,
                wt
                * wt
                * dt
                * na
                / nt
                * (nt - na)
                / nt
                * (nt - dt)
                / (nt - F.lit(1.0))
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("_v"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("n_times"),
        F.sum("_u").alias("_us"),
        F.sum("_v").alias("_va"),
    ).crossJoin(F.broadcast(counts))
    z = F.when(
        F.col("_va") > 0,
        F.round(
            F.col("_us").cast("double")
            / F.sqrt(F.col("_va").cast("double")),
            6,
        ),
    )
    return agg.select(
        F.lit(arm_a).alias("arm_a"),
        F.lit(arm_b).alias("arm_b"),
        F.col("_nua").cast("long").alias("n_users_a"),
        F.col("_nub").cast("long").alias("n_users_b"),
        F.col("n_times").cast("long").alias("n_times"),
        F.lit(rho).cast("long").alias("rho"),
        F.lit(gamma).cast("long").alias("gamma"),
        F.round(F.col("_us").cast("double"), 6).alias("u_stat"),
        z.alias("z"),
        F.round(z * z, 6).alias("chi2"),
        F.coalesce(
            (F.abs(z) > F.lit(1.959964)).cast("int"), F.lit(0)
        ).alias("significant"),
    )


def poisson_rate_ratio(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    arm_col: str,
    type_col: str,
    target_type: str,
) -> DataFrame:
    """Two-arm incidence-rate ratio over person-time — the ops/
    reliability companion to the survival tier: "does arm B hit
    ``target_type`` events (errors, crashes, refunds) at a higher
    RATE per user-day", with exposure measured correctly from each
    user's observed lifetime instead of pretending every user was
    watched equally long (the raw-count comparison's lie).

    ONE corpus scan collapses to per-user (arm, exposure = observed
    days + 1, occurrences of the target type); per-arm totals are
    exact longs.  The ratio inference is the standard log-linear
    Poisson spelling: ln(RR) ± z·√(1/O_a + 1/O_b), with ln and the
    SE each rounded 9dp BEFORE exp (the MH-CI discipline — ln/exp
    are the libm calls whose last ulp differs between engines;
    √ is IEEE-exact).  Arms orient lexicographically; exactly two
    arms required (the risk-grid contract); zero occurrences on
    either side yields NULL ratio/CI (no finite log estimate) —
    the counts still report.

    Returns ONE row: (arm_a, arm_b, events_a, events_b,
    exposure_days_a, exposure_days_b, rate_a, rate_b — per 1000
    user-days, 6dp — rate_ratio, ci_lo, ci_hi, significant).
    """
    from component_delta_lake_writer_spark.errors import UserException

    users = (
        df.filter(
            F.col(user_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(arm_col).isNotNull()
        )
        .groupBy(user_col)
        .agg(
            F.min(F.col(arm_col).cast("string")).alias("_arm"),
            (
                F.datediff(
                    F.max(F.to_date(ts_col)),
                    F.min(F.to_date(ts_col)),
                )
                + 1
            ).alias("_exp"),
            F.sum(
                F.when(
                    F.col(type_col) == target_type, 1
                ).otherwise(0)
            ).alias("_occ"),
        )
    )
    per_arm = users.groupBy("_arm").agg(
        F.sum("_exp").alias("_e"), F.sum("_occ").alias("_o")
    )
    per_arm = per_arm.localCheckpoint(eager=True)
    arms = [
        r["_arm"]
        for r in per_arm.select("_arm").distinct().limit(3).collect()
    ]
    if len(arms) != 2:
        raise UserException(
            "poisson_rate_ratio needs exactly 2 arms, got "
            f"{sorted(arms)!r}"
        )
    a, b = sorted(arms)

    def pick(g, c):
        return F.max(F.when(F.col("_arm") == g, F.col(c)))

    agg = per_arm.agg(
        pick(a, "_o").alias("_oa"),
        pick(a, "_e").alias("_ea"),
        pick(b, "_o").alias("_ob"),
        pick(b, "_e").alias("_eb"),
    )
    oa = F.col("_oa").cast("double")
    ob = F.col("_ob").cast("double")
    ea = F.col("_ea").cast("double")
    eb = F.col("_eb").cast("double")
    ok = (
        (F.col("_oa") > 0)
        & (F.col("_ob") > 0)
        & (F.col("_ea") > 0)
        & (F.col("_eb") > 0)
    )
    lnrr = F.round(F.log(oa / ea / (ob / eb)), 9)
    se = F.round(F.sqrt(F.lit(1.0) / oa + F.lit(1.0) / ob), 9)
    lo = F.exp(lnrr - F.lit(1.959964) * se)
    hi = F.exp(lnrr + F.lit(1.959964) * se)
    return agg.select(
        F.lit(a).alias("arm_a"),
        F.lit(b).alias("arm_b"),
        F.col("_oa").cast("long").alias("events_a"),
        F.col("_ob").cast("long").alias("events_b"),
        F.col("_ea").cast("long").alias("exposure_days_a"),
        F.col("_eb").cast("long").alias("exposure_days_b"),
        F.when(
            F.col("_ea") > 0,
            F.round(oa / ea * 1000, 6),
        ).alias("rate_a"),
        F.when(
            F.col("_eb") > 0,
            F.round(ob / eb * 1000, 6),
        ).alias("rate_b"),
        F.when(ok, F.round(F.exp(lnrr), 6)).alias("rate_ratio"),
        F.when(ok, F.round(lo, 6)).alias("ci_lo"),
        F.when(ok, F.round(hi, 6)).alias("ci_hi"),
        F.coalesce(
            F.when(
                ok,
                (
                    (F.round(lo, 9) > 1.0)
                    | (F.round(hi, 9) < 1.0)
                ).cast("int"),
            ),
            F.lit(0),
        ).alias("significant"),
    )


def overdispersion_check(
    df: DataFrame,
    user_col: str,
    type_col: str,
    target_type: str,
) -> DataFrame:
    """Overdispersion check for per-user event counts — the
    assumption gate in front of :func:`poisson_rate_ratio` (and any
    Poisson-model readout): the Poisson model demands
    variance ≈ mean, and real user behavior is almost always
    burstier (a few users generate most errors).  The dispersion
    index D = s²/x̄ with the χ² index-of-dispersion test
    ((n−1)·D against χ²(n−1), normal approximation
    z = √(2χ²) − √(2·df−1)) says whether a negative-binomial /
    robust spelling is needed instead.

    ONE map-side-combinable scan: per-user target-type counts,
    then exact integer Σc and Σc² (c²·n ~ N³ overflows long).
    Every downstream expression is the identical left-to-right
    double chain both engines; √ is IEEE-exact so the normal
    approximation needs no libm rounding guard.

    Returns ONE row: (n_users, mean_count, dispersion, z,
    overdispersed) — NULL dispersion/z when the mean degenerates
    to 0 or n < 2; the flag compares the 6dp-rounded z one-sided
    at 1.644854 (dispersion only ever inflates).
    """
    users = (
        df.filter(F.col(user_col).isNotNull())
        .groupBy(user_col)
        .agg(
            F.sum(
                F.when(F.col(type_col) == target_type, 1).otherwise(
                    0
                )
            ).alias("_c")
        )
    )
    agg = users.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_c").alias("_s"),
        exact_sum_product("_c", "_c", 0).alias("_s2"),
    )
    n = F.col("_n").cast("double")
    mean = F.col("_s").cast("double") / n
    var = (
        F.col("_s2").cast("double") - n * mean * mean
    ) / (n - 1)
    disp = var / mean
    chi2 = (n - 1) * disp
    z = F.sqrt(F.lit(2.0) * chi2) - F.sqrt(
        F.lit(2.0) * (n - 1) - 1
    )
    ok = (F.col("_n") >= 2) & (F.col("_s") > 0)
    z_r = F.when(ok, F.round(z, 6))
    return agg.select(
        F.col("_n").cast("long").alias("n_users"),
        F.round(mean, 6).alias("mean_count"),
        F.when(ok, F.round(disp, 6)).alias("dispersion"),
        z_r.alias("z"),
        F.coalesce(
            (z_r > F.lit(1.644854)).cast("int"), F.lit(0)
        ).alias("overdispersed"),
    )


def km_survival_quantiles(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    censor_days: int = 7,
) -> DataFrame:
    """Survival quantiles off the Kaplan–Meier curve — the summary
    numbers a retention review actually quotes (median lifetime;
    the quartiles around it), defined the standard way: the
    FIRST event time where the curve reaches 1−q
    (t_q = min{t : S(t) ≤ 1−q}).  A naive median-of-lifetimes
    ignores censoring and biases low; the KM quantile doesn't.

    Rides :func:`km_survival` verbatim (one corpus scan, the
    metadata-scale curve with the exp-of-rounded-ln survival
    discipline), then one aggregate over the curve rows: the
    min-t-where-S≤level fold per quantile, NULL when the curve
    never reaches the level inside the observation window (heavy
    censoring — the honest answer, not an extrapolation).
    Levels compare on the curve's 6dp-ROUNDED survival (the house
    boundary rule — both engines see the same rounded curve).

    Returns ONE row: (n_times, q25_days, median_days, q75_days)
    — q25 is the time by which 25% have churned.
    """
    curve = km_survival(
        df, user_col, ts_col, censor_days=censor_days
    )

    def t_at(level: float):
        return F.min(
            F.when(
                F.col("survival") <= F.lit(level),
                F.col("t_days"),
            )
        )

    return curve.agg(
        F.count(F.lit(1)).alias("_nt"),
        t_at(0.75).alias("_q25"),
        t_at(0.50).alias("_med"),
        t_at(0.25).alias("_q75"),
    ).select(
        F.col("_nt").cast("long").alias("n_times"),
        F.col("_q25").cast("int").alias("q25_days"),
        F.col("_med").cast("int").alias("median_days"),
        F.col("_q75").cast("int").alias("q75_days"),
    )


def ph_assumption_check(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    arm_col: str,
    censor_days: int = 7,
) -> DataFrame:
    """Proportional-hazards assumption check for the two-arm Cox
    model — the diagnostic that must run next to
    :func:`cox_ph_two_arm`: Cox's single hazard ratio is only
    meaningful if the ratio is CONSTANT over time, and delayed
    treatment effects (the Fleming–Harrington motivation) violate
    exactly that.  The time axis splits at the MEDIAN event time;
    each half gets its own score-based log-hazard-ratio estimate
    β̂_h = (O_h−E_h)/V_h, and the interaction statistic
    z = (β̂₁−β̂₂)/√(1/V₁+1/V₂) tests early-vs-late homogeneity —
    significant means report the FH/stratified readouts instead of
    one Cox number.

    Rides :func:`_two_arm_risk_grid` verbatim (one corpus scan);
    the per-time hypergeometric E/V terms are the logrank spelling
    (9dp-rounded, DECIMAL-summed) split by a median-time literal
    computed from the metadata-scale death-time relation (one
    bounded 1-row collect); everything downstream is two 1-row
    folds.  Returns ONE row: (arm_a, arm_b, split_t_days,
    lnhr_early, lnhr_late, z, nonproportional) — NULL z when
    either half's variance degenerates.
    """
    arm_a, arm_b, by_t, counts = _two_arm_risk_grid(
        df, user_col, ts_col, arm_col, censor_days,
        "ph_assumption_check",
    )
    by_t = by_t.localCheckpoint(eager=True)
    deaths = by_t.filter(F.col("dt") > 0)
    # median event time from the metadata-scale grid: the smallest
    # t with at least half the death mass at or below it — ONE
    # bounded 1-row collect (the sanctioned class)
    row = (
        deaths.select("t", "dt")
        .withColumn(
            "_cum",
            F.sum("dt").over(
                Window.orderBy("t").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
        .crossJoin(
            F.broadcast(deaths.agg(F.sum("dt").alias("_tot")))
        )
        .filter(2 * F.col("_cum") >= F.col("_tot"))
        .orderBy("t")
        .limit(1)
        .collect()
    )
    if not row:
        from component_delta_lake_writer_spark.errors import (
            UserException,
        )

        raise UserException(
            "ph_assumption_check: no death times — nothing to test"
        )
    split_t = int(row[0]["t"])
    dt = F.col("dt").cast("double")
    nt = F.col("nt").cast("double")
    na = F.col("na").cast("double")
    terms = deaths.select(
        "t",
        "da",
        quantize(dt * na / nt, 9).alias("_e"),
        quantize(
            F.when(
                F.col("nt") > 1,
                dt * na / nt * (nt - na) / nt * (nt - dt)
                / (nt - F.lit(1.0))
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("_v"),
    )
    early = F.col("t") <= F.lit(split_t)

    def half(cond, tag):
        return [
            F.sum(F.when(cond, F.col("da")).otherwise(0)).alias(
                f"_o{tag}"
            ),
            exact_sum(F.when(cond, F.col("_e")).otherwise(0), 9).alias(
                f"_e{tag}"
            ),
            exact_sum(F.when(cond, F.col("_v")).otherwise(0), 9).alias(
                f"_v{tag}"
            ),
        ]

    agg = terms.agg(*half(early, "1"), *half(~early, "2"))
    v1 = F.col("_v1").cast("double")
    v2 = F.col("_v2").cast("double")
    b1 = (
        F.col("_o1").cast("double") - F.col("_e1").cast("double")
    ) / v1
    b2 = (
        F.col("_o2").cast("double") - F.col("_e2").cast("double")
    ) / v2
    ok = (v1 > 0) & (v2 > 0)
    z = F.when(
        ok,
        F.round(
            (b1 - b2)
            / F.sqrt(F.lit(1.0) / v1 + F.lit(1.0) / v2),
            6,
        ),
    )
    return agg.select(
        F.lit(arm_a).alias("arm_a"),
        F.lit(arm_b).alias("arm_b"),
        F.lit(split_t).cast("int").alias("split_t_days"),
        F.when(ok, F.round(b1, 6)).alias("lnhr_early"),
        F.when(ok, F.round(b2, 6)).alias("lnhr_late"),
        z.alias("z"),
        F.coalesce(
            (F.abs(z) > F.lit(1.959964)).cast("int"), F.lit(0)
        ).alias("nonproportional"),
    )
