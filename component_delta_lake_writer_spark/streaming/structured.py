"""Structured Streaming surface (SURVEY §2.7 — beyond-reference M5).

The reference is strictly batch; this adds the streaming spelling of
the same rollups so an events feed can run continuously. Tested with
``Trigger.AvailableNow`` over the static events parquet — the result
must equal the batch rollup (and is checked against the same DuckDB
oracle), which is exactly Structured Streaming's unification claim.

Scale posture: the same plan runs on a live source (Kafka/files) by
swapping readStream source + adding ``withWatermark`` (late data
bounded, state eviction) — the aggregation plan is unchanged.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.exact import exact_sum
from component_delta_lake_writer_spark.operators.sessions import hourly_rollup
from component_delta_lake_writer_spark.session import local_relation
from component_delta_lake_writer_spark.tables import ts_tz_expr, ts_us_expr


@contextmanager
def scoped_state_partitions(spark: SparkSession, n: int | None):
    """Scope ``spark.sql.shuffle.partitions`` around a streaming query
    start — for a stateful stream this fixes the number of state-store
    partitions for the lifetime of the checkpoint, Structured
    Streaming's standard sizing knob. Each state partition carries
    fixed per-micro-batch cost (state-store open/commit, one Arrow
    worker for applyInPandas* ops), so the right value is proportional
    to expected state size and executor count: hundreds-to-thousands on
    a 1000-executor cluster, single digits for a local drain of a small
    feed where the fixed cost dominates. ``None`` leaves the session
    setting untouched."""
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _tag(sf_dir: str) -> str:
    return (os.path.basename(sf_dir.rstrip("/")) or "sf").replace(".", "_")


def _stage_key(path: str) -> str:
    """Content-addressed staging key: abspath + mtime + size. Two
    datasets sharing a basename get DIFFERENT stage dirs (keying on
    the basename alone silently streamed the first dataset for both),
    and regenerating a dataset in place invalidates every derived
    stage (doubled copies, sentinel files) instead of serving stale
    artifacts against a fresh oracle."""
    import hashlib

    ap = os.path.abspath(path)
    try:
        st = os.stat(ap)
        sig = f"{ap}:{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        sig = ap
    return hashlib.md5(sig.encode()).hexdigest()[:12]


def _stage_events_dir(sf_dir: str) -> str:
    """readStream wants a directory of homogeneous files; the testdata
    dir mixes tables, so stage a symlink to events.parquet (absolute
    target — a relative sf_dir would produce a broken link that then
    FileExistsErrors on every retry)."""
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    d = f"/tmp/cdlws_scratch/stream_events/{_tag(sf_dir)}_{_stage_key(src)}"
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.lexists(link):
        os.symlink(src, link)
    return d


def _drain_to_memory(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    output_mode: str,
    state_partitions: int | None,
    checkpoint: str | None = None,
) -> DataFrame:
    """The shared availableNow → memory-sink drain protocol (one
    place for all streaming probes, so a change to the drain — e.g. a
    stop-on-exception — can't drift across call sites).

    Pins ``noDataMicroBatches`` ON for the drain (r14, ADVICE r13):
    final-window eviction in the watermarking probes relies on the
    engine's no-data micro-batch (the r13 sentinel cut made that
    reliance load-bearing); a session that disabled the conf would
    silently withhold the last window's rows."""
    prev_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    try:
        with scoped_state_partitions(spark, state_partitions):
            writer = (
                df.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
            )
            if checkpoint:
                writer = writer.option("checkpointLocation", checkpoint)
            q = writer.start()
            try:
                q.awaitTermination()
            except Exception:
                q.stop()
                raise
    finally:
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb
        )
    return spark.table(name)


def stream_hourly_rollup(
    spark: SparkSession,
    sf_dir: str,
    with_watermark: bool = True,
    state_partitions: int | None = None,
) -> DataFrame:
    """Hourly event rollup as a stream, drained with availableNow into
    a memory sink; returns the materialized result table."""
    src_dir = _stage_events_dir(sf_dir)
    schema = spark.read.parquet(os.path.join(src_dir, "events.parquet")).schema
    ts_dtype = schema["ts"].dataType.simpleString()
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(src_dir)
        .withColumn("ts_us", ts_us_expr(ts_dtype))
        # watermarks require TIMESTAMP (with local tz), not NTZ; the
        # session tz is UTC so values are identical — cast back to NTZ
        # after the aggregation for oracle-comparable output.
        .withColumn("ts", ts_tz_expr(ts_dtype))
    )
    if with_watermark:
        # 1h watermark: bounds state for late data on a live source;
        # no-op for the availableNow drain of static files.
        stream = stream.withWatermark("ts", "1 hour")
    rolled = hourly_rollup(stream).withColumn(
        "hour", F.col("hour").cast("timestamp_ntz")
    )
    return _drain_to_memory(
        spark, rolled, f"stream_hourly_{_tag(sf_dir)}", "complete",
        state_partitions,
    )


def stream_dedup_events(
    spark: SparkSession, sf_dir: str, state_partitions: int | None = None
) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark.

    The staged source doubles every 10th event (deterministic), so the
    stream must collapse the copies back to the original set — state
    is bounded by the 1h watermark instead of growing forever, which
    is what makes exactly-once dedup viable on an unbounded 100 TB/day
    event feed (the unbounded-state dropDuplicates variant OOMs).
    Drained with availableNow into a memory sink; returns the
    per-event-type counts of the deduplicated stream.
    """
    ev_path = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    src_dir = (
        f"/tmp/cdlws_scratch/stream_dedup_src/"
        f"{_tag(sf_dir)}_{_stage_key(ev_path)}"
    )
    batch = spark.read.parquet(ev_path)
    if not os.path.isdir(src_dir) or not os.listdir(src_dir):
        doubled = batch.unionByName(batch.filter(F.col("event_id") % 10 == 0))
        doubled.write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(src_dir)
        .withColumn("ts", ts_tz_expr(schema["ts"].dataType.simpleString()))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    drained = _drain_to_memory(
        spark, stream, f"stream_dedup_{_tag(sf_dir)}", "append",
        state_partitions,
    )
    return (
        drained
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def stream_interval_join(
    spark: SparkSession, sf_dir: str, state_partitions: int | None = None
) -> DataFrame:
    """Stream-stream interval join: purchases joined to the same
    user's clicks in the preceding 30 minutes.

    Both sides carry watermarks and the join condition carries the
    time interval — the pair lets Spark expire click state once the
    purchase-side watermark passes click_ts + 30min, so state stays
    bounded on an unbounded feed (without the interval bound a
    stream-stream inner join buffers both sides forever). Drained with
    availableNow into a memory sink; returns per-user join counts.
    """
    src_dir = _stage_events_dir(sf_dir)
    schema = spark.read.parquet(os.path.join(src_dir, "events.parquet")).schema
    base = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(src_dir)
        .withColumn("ts", ts_tz_expr(schema["ts"].dataType.simpleString()))
    )
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
        "inner",
    )
    drained = _drain_to_memory(
        spark, joined, f"stream_ij_{_tag(sf_dir)}", "append",
        state_partitions,
    )
    return (
        drained
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_attributed"))
    )


def stream_late_data_drop(
    spark: SparkSession, sf_dir: str, state_partitions: int | None = None
) -> DataFrame:
    """Deterministic watermark emission semantics, micro-batch by
    micro-batch (the part of Structured Streaming an availableNow
    drain of one file can never exercise, because the watermark only
    advances BETWEEN batches):

    - batch 1 (file 1): rows at 10:05 / 10:15 / 10:59 → after the
      batch, watermark = max(ts) - 10min = 10:49; the open
      [10:00,11:00) window is withheld (append mode emits only closed
      windows).
    - batch 2 (file 2): a row at 10:20 — LATE relative to the 10:49
      watermark but inside the still-open window, so it must merge
      into the batch-1 state — plus rows at 13:05/13:06 that advance
      the final watermark to 12:55, closing the 10:00 window.

    Append mode then emits exactly ONE row — window 10:00 with
    count 4 — and the still-open 13:00 window is withheld.
    ``maxFilesPerTrigger=1`` pins the file-per-batch schedule; file
    mtimes pin the order.

    (Deliberately NOT asserted: dropping of rows whose window already
    closed. Spark's windowed aggregation uses the watermark for state
    eviction and emission timing, not as a strict input filter — a
    too-late row re-opens its window as a late correction row on this
    engine version, and the docs only guarantee "delayed within the
    watermark WILL be aggregated", not the converse. The strict-drop
    contract lives in dropDuplicatesWithinWatermark, covered by
    stream_dedup_events.)"""
    import time as _time

    src_dir = f"/tmp/cdlws_scratch/stream_late/{_tag(sf_dir)}_v2"
    f1 = os.path.join(src_dir, "b1.parquet")
    f2 = os.path.join(src_dir, "b2.parquet")
    if not (os.path.exists(f1) and os.path.exists(f2)):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from datetime import datetime, timezone

        os.makedirs(src_dir, exist_ok=True)

        def _ts(h: int, m: int):
            return datetime(2024, 1, 1, h, m, tzinfo=timezone.utc)

        def _write(path: str, times: list) -> None:
            tbl = pa.table(
                {
                    "ts": pa.array(times, pa.timestamp("us", tz="UTC")),
                    "user_id": pa.array(
                        list(range(len(times))), pa.int64()
                    ),
                }
            )
            pq.write_table(tbl, path)

        _write(f1, [_ts(10, 5), _ts(10, 15), _ts(10, 59)])
        _write(f2, [_ts(10, 20), _ts(13, 5), _ts(13, 6)])
        now = _time.time()
        os.utime(f1, (now - 60, now - 60))
        os.utime(f2, (now, now))
    schema = spark.read.parquet(f1).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src_dir)
        .withWatermark("ts", "10 minutes")
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            F.col("n"),
        )
    )
    ckpt = os.path.join(src_dir, "_ckpt")
    import shutil as _shutil

    _shutil.rmtree(ckpt, ignore_errors=True)  # fresh run each call
    return _drain_to_memory(
        spark, agg, f"stream_late_{_tag(sf_dir)}", "append",
        state_partitions, checkpoint=ckpt,
    )


def stream_static_enrich(
    spark: SparkSession,
    sf_dir: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Stream-static broadcast enrichment — the canonical streaming
    dimension join: the events stream is joined per micro-batch to a
    STATIC customer dimension (no state needed for the static side;
    Spark re-plans the join every batch, broadcasting the dim), then
    rolled up per nation. Drained with availableNow; must equal the
    batch join exactly (same DuckDB oracle).

    At scale the static side refreshes by swapping the underlying
    table between micro-batches — the plan stays a broadcast hash
    join, no stream-stream state."""
    src_dir = _stage_events_dir(sf_dir)
    schema = spark.read.parquet(os.path.join(src_dir, "events.parquet")).schema
    stream = spark.readStream.schema(schema).format("parquet").load(src_dir)
    customers = F.broadcast(
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
            F.col("c_custkey"), F.col("c_nationkey")
        )
    )
    enriched = stream.join(
        customers, stream["user_id"] == customers["c_custkey"], "inner"
    )
    agg = enriched.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            exact_sum("value", 4).cast("double"), 4
        ).alias("sum_value"),
    )
    return _drain_to_memory(
        spark, agg, f"stream_static_{_tag(sf_dir)}", "complete",
        state_partitions,
    )


def stream_table_appends(
    spark: SparkSession,
    table_path: str,
    queryName: str,
    state_partitions: int | None = None,
):
    """The managed table as a STREAMING SOURCE (Delta's
    table-as-source semantics for append-only tables): every append
    commit's new unit files become stream input; a table whose history
    contains updates/overwrites is refused exactly like Delta's
    "Detected a data update … streaming from this source is not
    supported" (readChangeFeed/CDF is the attributable path for those,
    see ManagedTable.read_changes).

    Implementation: the COMMIT-DRIVEN table_changes_stream Data Source
    from startingVersion=0 (append-only histories need no change
    sets) — NOT a raw file stream over ``_data`` with
    recursiveFileLookup, which (a) returned NULL for every partition
    column (recursive lookup disables partition inference while
    partitionBy-written files omit those columns) and (b) surfaced
    never-committed orphan units from crashed or conflict-losing
    writers. Offsets are table versions, so a long-running query
    keeps consuming future appends; the availableNow drain here
    processes everything committed so far. Returns the drained memory
    table."""
    from component_delta_lake_writer_spark.errors import UserException
    from component_delta_lake_writer_spark.sinks import ManagedTable
    from component_delta_lake_writer_spark.streaming.cdf_source import (
        register,
    )

    t = ManagedTable(spark, table_path)
    head = t.latest_commit()
    if head is None:
        raise UserException(f"No table at {table_path}")
    bad = [
        f"v{c.version}:{c.action}"
        for c in t.history()
        if c.action not in ("create", "append")
    ]
    if bad:
        raise UserException(
            "Streaming from a table requires an append-only history; "
            f"found {bad}. Use read_changes (CDF) for updated tables."
        )
    register(spark)
    stream = (
        spark.readStream.format("table_changes_stream")
        .option("path", table_path)
        .option("startingVersion", "0")
        .load()
        .drop("_change_type", "_commit_version")
    )
    return _drain_to_memory(
        spark, stream, queryName, "append", state_partitions
    )


def stream_interval_join_outer(
    spark: SparkSession, sf_dir: str, state_partitions: int | None = None
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase joined
    to same-user clicks in the preceding 30 minutes — and purchases
    with NO qualifying click still emit (click columns NULL) once the
    click-side watermark passes their latest possible match time.

    This is the attribution-with-misses shape. The outer semantics
    are watermark-driven: an unmatched purchase's NULL row is emitted
    only when the engine can PROVE no matching click can still arrive.
    Left to itself, a drained feed withholds the final watermark
    window (delay + interval span) — a boundary that depends on how
    the source was batched. To make the result BATCHING-INVARIANT the
    stage appends ONE far-future sentinel file (user_id -1, a click
    AND a purchase so both sides' watermark nodes advance; forced to
    a later batch via maxFilesPerTrigger + mtime ordering): after the
    sentinel batch the watermark stands past every real purchase, the
    engine's final no-data batch (run whenever the last data batch
    advanced the watermark — the availableNow drain always ends with
    it) evicts-and-emits all of them, and the oracle is the plain
    batch left join with no cutoff at all.

    r13 (guide §1.4/§2.1): this stage used TWO sentinel files — the
    second only re-advanced a watermark already past the real data,
    so its whole micro-batch (~1.3-1.8 s of per-batch machinery:
    planning, 4 state stores x partitions opened and committed, WAL
    writes) bought nothing. Per-batch durationMs profiling pinned the
    probe's cost at ~fixed-cost x batches; one sentinel yields the
    identical drained row set (eviction happens in the no-data batch
    instead of a second sentinel batch) one batch cheaper.
    """
    src_dir = _stage_events_dir(sf_dir)
    schema = spark.read.parquet(os.path.join(src_dir, "events.parquet")).schema
    # sentinel stage: events file + two future click files
    import shutil as _sh

    stage = src_dir.rstrip("/") + "_outer"
    real_events = os.path.abspath(os.path.join(src_dir, "events.parquet"))
    if not os.path.isdir(stage) or len(os.listdir(stage)) != 2:
        _sh.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        os.symlink(real_events, os.path.join(stage, "00_events.parquet"))
        ev = spark.read.parquet(real_events)
        mx = ev.agg(F.max("ts")).first()[0]
        import datetime as _dt

        for i, hours in enumerate((3,), start=1):
            # one click AND one purchase per sentinel file: the global
            # watermark is the MIN across both sides' watermark nodes,
            # so both feeds must advance past the real data. ts stays
            # in the SOURCE dtype: a nanosAsLong feed reads ts as
            # bigint (ns), where mx + timedelta would TypeError.
            if isinstance(mx, int):
                ts = mx + hours * 3600 * 10**9
            else:
                ts = mx + _dt.timedelta(hours=hours)
            row = [
                (-i, ts, -1, "click", 0.0, "{}"),
                (-i - 10, ts, -1, "purchase", 0.0, "{}"),
            ]
            sent = local_relation(spark, schema, list(zip(*row)))
            tmp = os.path.join(stage, f"_tmp{i}")
            sent.coalesce(1).write.parquet(tmp)
            part = [
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            ][0]
            os.replace(
                os.path.join(tmp, part),
                os.path.join(stage, f"{i:02d}_sentinel.parquet"),
            )
            _sh.rmtree(tmp, ignore_errors=True)
        # batch order is by file modification time, and Spark stats
        # the symlink TARGET — anchor sentinel mtimes RELATIVE to the
        # real events file so they always sort after it, regardless of
        # how its own mtime relates to the wall clock
        base_mt = os.stat(real_events).st_mtime
        for i, hours in enumerate((3,), start=1):
            sp = os.path.join(stage, f"{i:02d}_sentinel.parquet")
            os.utime(sp, times=(base_mt + 100 * i, base_mt + 100 * i))
    base = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(stage)
        .withColumn("ts", ts_tz_expr(schema["ts"].dataType.simpleString()))
    )
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
        ),
        "leftOuter",
    )
    drained = _drain_to_memory(
        spark, joined, f"stream_ijo_{_tag(sf_dir)}", "append",
        state_partitions,
    )
    return (
        drained
        .filter(F.col("p_user") >= 0)  # sentinels out
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("click_ts").alias("n_matched"),
            F.sum(
                F.when(F.col("click_ts").isNull(), 1).otherwise(0)
            ).alias("n_unmatched"),
        )
    )
