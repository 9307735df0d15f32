"""Streaming writes into the managed table layer.

The reference's batch loop (W8: arrow-batch → write_deltalake per
batch) is, in streaming terms, a micro-batch sink. Spark-first that is
``foreachBatch``: each micro-batch lands as ONE atomic append commit
to a ManagedTable — the same first-batch-mode / rest-append policy the
reference applies (src/component.py:90-111), with real transactional
boundaries per batch instead of per 25k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from component_delta_lake_writer_spark.sinks import ManagedTable


def write_stream_to_table(
    stream_df: DataFrame,
    table: ManagedTable,
    mode: str = "append",
    checkpoint_dir: str | None = None,
    max_records_per_file: int | None = None,
    primary_key: list[str] | None = None,
    app_id: str | None = None,
):
    """Start a streaming query that commits each micro-batch to the
    table. First batch uses ``mode`` (error/overwrite honored), later
    batches always append — the reference's loop semantics.

    ``mode="upsert"`` (requires ``primary_key``) turns this into a
    CDC-style streaming merge sink: every micro-batch MERGEs into the
    table by PK (matched rows replaced, new rows inserted), each batch
    one atomic commit — the streaming spelling of W12.

    Exactly-once per micro-batch via writer transactions (the Delta
    foreachBatch idiom: txnAppId = the sink identity, txnVersion =
    batch_id): a replay after a crash between table commit and
    checkpoint advance hits the txn watermark and no-ops — and unlike
    a properties-based marker, the watermark survives interleaved
    commits from OTHER writers (txns are merged, properties are
    replaced). "First batch" is derived from the table's txn state,
    not process-local state, so a restarted first batch keeps its
    configured mode.
    """
    app_id = app_id or "stream"

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = table.latest_commit()
        if mode == "upsert":
            table.upsert(
                batch_df, primary_key or [],
                max_records_per_file=max_records_per_file,
                txn=(app_id, batch_id),
            )
            return
        # first batch = this sink has never committed (table may
        # pre-exist from outside the stream; mode still applies)
        first = prev is None or app_id not in (prev.txns or {})
        batch_mode = mode if first else "append"
        table.write(
            batch_df, mode=batch_mode,
            max_records_per_file=max_records_per_file,
            txn=(app_id, batch_id),
        )

    writer = stream_df.writeStream.foreachBatch(commit_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def write_stream_dedup_corpus(
    doc_stream: DataFrame,
    table: ManagedTable,
    checkpoint_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Continuous corpus ingestion with exact dedup — the production
    shape of a training-data feed: each micro-batch of documents is
    fingerprinted, resolved in-batch (min doc_id per fingerprint), and
    conditionally MERGEd into the corpus state table with

        WHEN MATCHED AND s.doc_id < t.doc_id THEN UPDATE
        WHEN NOT MATCHED THEN INSERT

    so the table always holds the globally-minimal doc id per
    fingerprint REGARDLESS of how the feed was batched — the streaming
    result is bit-identical to a batch ``GROUP BY fingerprint,
    MIN(doc_id)`` over everything ever ingested (that invariance is
    what makes the pipeline replayable/oracle-checkable).

    Same exactly-once guard as write_stream_to_table (writer
    transactions keyed by batch_id).
    """
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.text import fingerprint

    app_id = "stream-dedup-corpus"

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = table.latest_commit()
        resolved = (
            batch_df.select(
                fingerprint(F.col(text_col)).alias("fingerprint"),
                F.col(id_col),
            )
            .groupBy("fingerprint")
            .agg(F.min(id_col).alias(id_col))
        )
        if prev is None:
            table.write(
                resolved, mode="overwrite",
                primary_key=["fingerprint"], txn=(app_id, batch_id),
            )
        else:
            table.upsert(
                resolved, ["fingerprint"], txn=(app_id, batch_id),
                update_condition=lambda t, s: s[id_col] < t[id_col],
            )

    writer = doc_stream.writeStream.foreachBatch(commit_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def write_stream_with_mv(
    stream_df: DataFrame,
    table: ManagedTable,
    mv,
    checkpoint_dir: str | None = None,
    on_refresh=None,
):
    """Micro-batch sink that keeps a materialized aggregate current
    with every commit: each batch lands as one atomic append, then the
    IncrementalAggregate refreshes from the table's change feed — per
    batch O(batch rows) commit + O(touched groups) maintenance, the
    streaming-ETL-plus-serving-rollup shape. Append-only commits need
    no CDF pre-images, so the refresh stays incremental from batch 2
    on (batch 1 is the initial full materialization by definition).

    Same exactly-once guard as write_stream_to_table (writer
    transactions); ``on_refresh`` (if given) receives each refresh's
    mode string — lets callers assert the incremental path actually
    ran."""
    app_id = "stream-mv"

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = table.latest_commit()
        before = prev.version if prev is not None else -1
        c = table.write(batch_df, mode="append", txn=(app_id, batch_id))
        if c.version == before:
            return  # replay no-op: the MV is already current for it
        mode = mv.refresh()
        if on_refresh is not None:
            on_refresh(mode)

    writer = stream_df.writeStream.foreachBatch(commit_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_replicate(
    src: ManagedTable,
    dst: ManagedTable,
    primary_key: list[str],
    checkpoint_dir: str | None = None,
    upsert_strategy: str = "merge-on-read",
    optimize_every: int | None = None,
):
    """CONTINUOUS table replication: stream the source's change feed
    (the table_changes_stream Data Source — version offsets, no file
    listing) and apply each commit's delta to the replica in commit
    order — inserts/update post-images as an upsert, delete rows as a
    ``delete_keys`` key set. Idempotence is per SOURCE VERSION via
    writer transactions (txnAppId = the replication identity,
    txnVersion = the source commit version), so checkpoint replays,
    restarts, and even a lost checkpoint re-apply nothing.

    ``upsert_strategy`` (ADVICE r5): 'merge-on-read' (default) applies
    each source commit without rewriting the replica — it appends the
    commit's rows and widens the deletion vectors of the files holding
    their prior versions, so the replica accrues one unit per
    replicated commit and its deleted-but-present rows grow — pair it
    with ``optimize_every=N`` so a long-running follower compacts the
    replica every N applied source commits; 'copy-on-write'
    materializes per commit (no growth, O(overlapped target units) per
    commit instead).

    Batch ``sinks.replicate.replicate`` applies versions through the
    same ``apply_changes`` and records the same watermark, so the two
    compose: batch-replicate to bootstrap, stream to follow — the
    stream re-applies nothing the batch copy already holds.
    """
    from component_delta_lake_writer_spark.sinks.replicate import (
        apply_changes,
        follower_id,
    )
    from component_delta_lake_writer_spark.streaming.cdf_source import (
        register,
    )

    spark = src.spark
    register(spark)
    app_id = follower_id("replicate", src)
    applied = 0  # source commits applied this run (optimize cadence)

    def after_version() -> None:
        nonlocal applied
        applied += 1
        if optimize_every and applied % optimize_every == 0:
            dst.optimize()

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        # merge-on-read default: the replication apply is O(this
        # commit's delta), never O(replica) — a CDC follower of a
        # 100 TB table must not rewrite overlapped target units per
        # source commit; optimize_every / a later optimize()
        # materializes the accrued deletion vectors.
        apply_changes(
            batch_df, dst, primary_key, app_id, upsert_strategy,
            after_version,
        )

    feed = (
        spark.readStream.format("table_changes_stream")
        .option("path", src.path)
        # INCLUSIVE version 0: replay the FULL history — v0's snapshot
        # streams as inserts, so a source whose create/overwrite commit
        # carries data replicates without a separate batch bootstrap.
        # (The source's no-startingVersion default is latest-snapshot-
        # as-inserts, Delta parity — right for ad-hoc consumers, but
        # replication wants every commit for per-version txn marks.)
        .option("startingVersion", "0")
        .load()
    )
    writer = feed.writeStream.foreachBatch(apply_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_scd2(
    src: ManagedTable,
    dim: ManagedTable,
    key: str,
    ts_col: str,
    attrs: list[str],
    checkpoint_dir: str | None = None,
):
    """CDC stream → SCD Type 2 dimension follower: the source table's
    change feed (insert / update_postimage rows) streams through the
    table_changes_stream source, and each source COMMIT applies as an
    SCD2 snapshot-diff delta to the replica dimension — changed
    current rows close at the new state's ``ts_col``, new current
    rows land, history accumulates.  The upsert keys on
    ``(key, valid_from)`` so the apply is O(this commit's changed
    keys), with the same per-source-version writer-txn watermark as
    stream_replicate (checkpoint replays re-apply nothing).

    Source DELETE rows are ignored by design: an entity's removal is
    an attribute change in a type-2 dimension (soft delete), not an
    absence — feed deletions as a state column if they must close
    ranges.  Within one source version, a key's LATEST row by
    (``ts_col``, then the natural change order) wins, matching
    scd2_build's change-point semantics.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.scd import (
        scd2_build,
        scd2_delta,
    )
    from component_delta_lake_writer_spark.sinks.replicate import (
        follower_id,
        pending_versions,
    )
    from component_delta_lake_writer_spark.streaming.cdf_source import (
        register,
    )

    spark = src.spark
    register(spark)
    app_id = follower_id("scd2", src)

    def apply_batch(batch_df, _batch_id) -> None:
        rows = batch_df.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).persist()
        try:
            for v, _n_up, _n_del in pending_versions(rows, dim, app_id):
                delta_rows = rows.filter(
                    F.col("_commit_version") == v
                ).drop("_change_type", "_commit_version")
                # equal-ts rows within one source commit tie-break on
                # the attr struct, mirroring scd._dedup_snapshot — the
                # winner is a function of the data, not of partition
                # order (ManagedTable CDF emits one postimage per key
                # per commit today, but the dedup must not DEPEND on
                # that)
                w = Window.partitionBy(key).orderBy(
                    F.col(ts_col).desc(),
                    F.struct(*[F.col(a) for a in attrs]).desc(),
                )
                snap = (
                    delta_rows.withColumn("_rk", F.row_number().over(w))
                    .filter(F.col("_rk") == 1)
                    .select(key, *attrs, ts_col)
                )
                if dim.exists():
                    delta = scd2_delta(
                        dim.read(), snap, key, attrs, ts_col
                    )
                    dim.upsert(
                        delta, [key, "valid_from"], txn=(app_id, v)
                    )
                else:
                    dim.write(
                        scd2_build(snap, key, ts_col, attrs),
                        mode="overwrite",
                        primary_key=[key, "valid_from"],
                        txn=(app_id, v),
                    )
        finally:
            rows.unpersist()

    feed = (
        spark.readStream.format("table_changes_stream")
        .option("path", src.path)
        .option("startingVersion", "0")
        .load()
    )
    writer = feed.writeStream.foreachBatch(apply_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_drift_monitor(
    stream_df: DataFrame,
    ref: DataFrame,
    value_col: str,
    monitor: ManagedTable,
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
    checkpoint_dir: str | None = None,
):
    """Continuous distribution-drift monitoring: every micro-batch of
    the feed is compared against the FIXED reference batch with
    ``operators.dq.drift_profile`` (PSI + TVD over fixed edges) and
    one row ``(batch_id, n_ref, n_cur, psi, tvd)`` appends to the
    monitor table — the streaming spelling of the day-over-day drift
    dashboard, with the alert history itself an ACID time-travelable
    table.

    Same exactly-once guard as write_stream_to_table (writer txns
    keyed by batch_id), so a checkpoint replay never double-writes a
    monitor row.  ``ref`` is evaluated once per micro-batch — cache()
    it (or point it at a small profiled slice) for high-frequency
    triggers; the comparison itself is one scan of each side into a
    (bins+2)-row shuffle (see drift_profile), so the per-batch cost
    is dominated by reading the batch, which the stream already paid.
    """
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.dq import (
        drift_profile,
    )

    app_id = "stream-drift-monitor"

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        row = drift_profile(
            ref, batch_df, value_col, bins=bins, lo=lo, hi=hi
        ).select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            "n_ref", "n_cur", "psi", "tvd",
        )
        prev = monitor.latest_commit()
        if prev is None:
            monitor.write(
                row, mode="overwrite", primary_key=["batch_id"],
                txn=(app_id, batch_id),
            )
        else:
            monitor.write(
                row, mode="append", txn=(app_id, batch_id)
            )

    writer = stream_df.writeStream.foreachBatch(commit_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_anomaly_monitor(
    stream_df: DataFrame,
    ref: DataFrame,
    value_col: str,
    group_col: str,
    monitor: ManagedTable,
    z: float = 3.0,
    checkpoint_dir: str | None = None,
):
    """Continuous anomaly monitoring — the z-score sibling of
    stream_drift_monitor: every micro-batch is scored against the
    FIXED reference batch's per-group (mean, sd) and one row
    ``(batch_id, n_rows, n_scored, n_flagged, max_abs_z)`` appends to
    the monitor table.  Drift answers "has the distribution moved";
    this answers "did individual records spike" — the pair is the
    day-two monitoring stack of any feature pipeline.

    The reference stats ride operators.dq.group_stats (exact-decimal
    sums, variance clamped at 0) and are |groups| rows — computed
    once per micro-batch from ``ref`` (cache ref, or pre-aggregate it
    to a stats table, for high-frequency triggers) and broadcast onto
    the batch, so the per-batch cost is one scan of the batch plus a
    metadata-scale join.  n_scored counts rows that HAVE a reference
    group with sd > 0 (a batch row in a never-seen group cannot be
    scored — it is visible as n_rows − n_scored, not silently
    dropped).  Same exactly-once guard as the drift monitor: writer
    txns keyed by batch_id, so checkpoint replays never double-write.
    """
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.dq import (
        group_stats,
    )

    app_id = "stream-anomaly-monitor"

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        stats = F.broadcast(group_stats(ref, value_col, group_col))
        v6 = F.round(F.col(value_col).cast("double"), 6)
        scored = (
            batch_df.select(F.col(group_col), v6.alias("_v"))
            .join(stats, group_col, "left")
            .select(
                "_v",
                F.when(
                    F.col("_sd") > 0,
                    F.round(
                        F.abs(
                            (F.col("_v") - F.col("_m")) / F.col("_sd")
                        ),
                        6,
                    ),
                ).alias("_az"),
            )
        )
        row = scored.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("_az").cast("long").alias("n_scored"),
            F.coalesce(
                F.sum((F.col("_az") > z).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("n_flagged"),
            F.max("_az").alias("max_abs_z"),
        ).select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            "n_rows", "n_scored", "n_flagged", "max_abs_z",
        )
        prev = monitor.latest_commit()
        if prev is None:
            monitor.write(
                row, mode="overwrite", primary_key=["batch_id"],
                txn=(app_id, batch_id),
            )
        else:
            monitor.write(row, mode="append", txn=(app_id, batch_id))

    writer = stream_df.writeStream.foreachBatch(commit_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_ab_monitor(
    stream_df: DataFrame,
    group_col: str,
    success_col: str,
    arms: tuple,
    monitor: ManagedTable,
    z_boundary: float = 3.0,
    checkpoint_dir: str | None = None,
):
    """Sequential A/B monitoring — the streaming spelling of the
    experimentation tier: every micro-batch of per-unit outcomes
    folds into CUMULATIVE per-arm totals and appends one row
    ``(batch_id, n_a, conv_a, n_b, conv_b, z, decision)`` to an ACID
    monitor table.  The interim ``decision`` uses the
    Haybittle–Peto rule (declare only past |z| > ``z_boundary``,
    default 3.0, at any interim look; the final analysis keeps its
    nominal 1.96) — the one sequential boundary simple enough to be
    exactly replayable, and the reason a peeking dashboard doesn't
    inflate its false-positive rate.

    Cumulation reads the PREVIOUS totals from the monitor table
    itself (a ≤1-row tail read of a metadata-scale table), so the
    monitor is its own state store; the same exactly-once writer
    txns as the drift monitor (keyed by batch_id) make checkpoint
    replays no-op, which is precisely what keeps the running totals
    correct across restarts.  ``arms`` is the explicit (a, b) pair —
    a batch may contain one arm or neither and still folds
    correctly.

    Housekeeping for long-lived monitors: the tail read scans the
    whole monitor table for ``max(batch_id)`` — one row per look, so
    a monitor that fires every minute for a year holds ~0.5M tiny
    rows across as many commit units.  Run the table's OPTIMIZE
    (``monitor.optimize()``) on whatever cadence the serving side
    already compacts, or retire decided experiments by recreating
    the monitor; the read cost is metadata-scale either way, the
    unit COUNT is what compaction bounds.
    """
    from pyspark.sql import functions as F

    app_id = "stream-ab-monitor"
    ga, gb = str(arms[0]), str(arms[1])

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.select(
            F.col(group_col).cast("string").alias("_g"),
            F.col(success_col).cast("long").alias("_x"),
        ).agg(
            # EVERY batch aggregate coalesced: sum() over a zero-row
            # micro-batch is NULL, and one NULL look poisons every
            # later cumulative total (r11 review)
            F.coalesce(
                F.sum(F.when(F.col("_g") == ga, 1).otherwise(0)),
                F.lit(0),
            ).alias("bn_a"),
            F.coalesce(
                F.sum(F.when(F.col("_g") == ga, F.col("_x"))),
                F.lit(0),
            ).alias("bs_a"),
            F.coalesce(
                F.sum(F.when(F.col("_g") == gb, 1).otherwise(0)),
                F.lit(0),
            ).alias("bn_b"),
            F.coalesce(
                F.sum(F.when(F.col("_g") == gb, F.col("_x"))),
                F.lit(0),
            ).alias("bs_b"),
        )
        prev_commit = monitor.latest_commit()
        if prev_commit is not None:
            prev = (
                monitor.read()
                .orderBy(F.col("batch_id").desc())
                .limit(1)
                .select("n_a", "conv_a", "n_b", "conv_b")
            )
            agg = agg.crossJoin(F.broadcast(prev))
        else:
            for c in ("n_a", "conv_a", "n_b", "conv_b"):
                agg = agg.withColumn(c, F.lit(0).cast("long"))
        cum = agg.select(
            (F.col("bn_a") + F.col("n_a")).alias("n_a"),
            (F.col("bs_a") + F.col("conv_a")).alias("conv_a"),
            (F.col("bn_b") + F.col("n_b")).alias("n_b"),
            (F.col("bs_b") + F.col("conv_b")).alias("conv_b"),
        )
        ra = F.col("conv_a").cast("double") / F.col("n_a")
        rb = F.col("conv_b").cast("double") / F.col("n_b")
        pooled = (
            F.col("conv_a") + F.col("conv_b")
        ).cast("double") / (F.col("n_a") + F.col("n_b"))
        se = F.sqrt(
            pooled
            * (F.lit(1.0) - pooled)
            * (
                F.lit(1.0) / F.col("n_a")
                + F.lit(1.0) / F.col("n_b")
            )
        )
        z = F.when(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (pooled > 0)
            & (pooled < 1),
            F.round((rb - ra) / se, 6),
        )
        row = cum.select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.col("n_a").cast("long"),
            F.col("conv_a").cast("long"),
            F.col("n_b").cast("long"),
            F.col("conv_b").cast("long"),
            z.alias("z"),
            F.when(
                F.abs(z) > F.lit(z_boundary), F.lit("reject_null")
            )
            .otherwise(F.lit("continue"))
            .alias("decision"),
        )
        if prev_commit is None:
            monitor.write(
                row, mode="overwrite", primary_key=["batch_id"],
                txn=(app_id, batch_id),
            )
        else:
            monitor.write(row, mode="append", txn=(app_id, batch_id))

    writer = stream_df.writeStream.foreachBatch(commit_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def compact_monitor_table(
    monitor: ManagedTable,
    keep_batches: int | None = None,
    retention_hours: float = 0.0,
) -> dict:
    """One-call housekeeping for long-lived sequential monitors
    (VERDICT r12 stretch #7 — the operational story the
    ``stream_ab_monitor`` docstring describes, as a single call):
    a monitor that fires every minute for months accretes one tiny
    commit unit per look, and while the tail read stays
    metadata-scale, the unit COUNT is what this bounds.

    Keyed on the monitor's own batch_id watermark: reads
    ``max(batch_id)`` (the 1-row tail aggregate), optionally prunes
    looks older than the newest ``keep_batches`` (an overwrite of
    the filtered tail — the cumulative state lives entirely in the
    newest row, so pruning audit history can never corrupt the
    running totals; ``keep_batches`` must keep at least the
    watermark row itself), otherwise compacts in place with
    OPTIMIZE, then VACUUMs versions past ``retention_hours``.  Safe
    to run between micro-batches: both paths commit through the
    same ACID log the monitor appends to.

    Returns {"watermark", "n_units", "n_rows", "deleted_units"} —
    n_units is the post-compaction unit count (1 for any healthy
    monitor), deleted_units the reclaimed on-disk units.
    """
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.errors import UserException

    if keep_batches is not None and keep_batches < 1:
        raise UserException(
            "compact_monitor_table: keep_batches must be >= 1 (the "
            "tail read needs the watermark row)"
        )
    cur = monitor.read()
    wm = cur.agg(F.max("batch_id").alias("_wm")).collect()[0]["_wm"]
    if wm is None:
        return {
            "watermark": None,
            "n_units": 0,
            "n_rows": 0,
            "deleted_units": 0,
        }
    if keep_batches is not None:
        monitor.write(
            cur.filter(F.col("batch_id") > wm - keep_batches)
            .coalesce(1),
            mode="overwrite",
        )
    else:
        monitor.optimize()
    deleted = monitor.vacuum(retention_hours=retention_hours)
    det = monitor.detail()
    return {
        "watermark": int(wm),
        "n_units": det["num_units"],
        "n_rows": det["num_rows_from_stats"],
        "deleted_units": deleted,
    }
