"""Plan-quality regression tests: the physical plans the 100 TB
posture depends on must not silently regress (SURVEY §4 / build
brief 'optimize for scale — concretely')."""

from __future__ import annotations

import re

import pytest

from conftest import SF_SMALL


def _plan(spark, key: str) -> str:
    from component_delta_lake_writer_spark.plans import QUERIES

    df = QUERIES[key](spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_scan_pushdown_and_pruning(spark):
    p = _plan(spark, "parquet_scan")
    assert "PushedFilters: [" in p and "PushedFilters: []" not in p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m is not None
    # 4-column projection out of an 11-column table must reach the scan
    assert m.group(1).count(",") + 1 == 4


def test_dim_joins_broadcast(spark):
    for key in ["join_inner_pk", "tpch_q3_shipping_priority", "tpch_q5_region_volume"]:
        p = _plan(spark, key)
        assert "BroadcastHashJoin" in p, key


def test_topk_uses_take_ordered(spark):
    for key in ["sort_limit_topk", "tpch_q3_shipping_priority"]:
        assert "TakeOrderedAndProject" in _plan(spark, key), key


def test_agg_has_partial_phase(spark):
    # map-side partial aggregation before the shuffle
    p = _plan(spark, "agg_returnflag")
    assert p.count("HashAggregate") >= 2


def test_merge_broadcasts_source_keys(spark):
    p = _plan(spark, "merge_upsert")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_whole_stage_codegen_active(spark):
    import contextlib
    import io

    from component_delta_lake_writer_spark.plans import QUERIES

    df = QUERIES["agg_returnflag"](spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen" in buf.getvalue()


def test_q6_full_pushdown(spark):
    # all range predicates reach the scan; 4 of 11 columns read
    p = _plan(spark, "tpch_q6_revenue_filter")
    # the plan string truncates the filter list — assert it is
    # non-empty and range-bearing rather than matching every predicate
    assert "PushedFilters: [" in p and "PushedFilters: []" not in p
    assert "GreaterThanOrEqual(l_shipda" in p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m is not None and m.group(1).count(",") + 1 == 4


def test_q4_exists_plans_as_semi_join(spark):
    # the correlated EXISTS must decorrelate, not re-scan per row
    p = _plan(spark, "tpch_q4_exists_priority")
    assert "LeftSemi" in p


def test_q14_q18_broadcast_dims(spark):
    for key in ["tpch_q14_promo_share", "tpch_q18_large_orders"]:
        assert "BroadcastHashJoin" in _plan(spark, key), key


def test_correlated_min_single_shuffle(spark):
    # window decorrelation: one exchange (by l_partkey), no self-join
    p = _plan(spark, "correlated_min_price")
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert p.count("Exchange") <= 2  # partkey hash + AQE read


def test_ivf_plan_is_shuffle_and_join_free(spark):
    # centroids + probe are driver-localized literals: the whole query
    # must plan as one scan -> project -> TakeOrdered pipeline with NO
    # exchange, join, or aggregate (the r4/r5 regressions were exactly
    # a corpus-scale join and a SortAggregate shuffle sneaking back in)
    p = _plan(spark, "ann_ivf_topk")
    assert "Exchange" not in p, p
    assert "Join" not in p, p
    assert "SortAggregate" not in p and "HashAggregate" not in p, p
    assert "TakeOrderedAndProject" in p


def test_ivf_job_count_locked(spark):
    # VERDICT r4/r5 task: one ivf run dispatches >=8 jobs before the
    # fix (duplicated centroid TakeOrdered, probe CollectLimit
    # escalation, 32-slice local-probe broadcast). Lock it at <=4:
    # cents collect + probe collect + the final TakeOrdered (+1 slack
    # for an AQE result stage).
    sc = spark.sparkContext
    group = "ivf-job-lock"
    sc.setJobGroup(group, group)
    try:
        from component_delta_lake_writer_spark.plans import QUERIES

        QUERIES["ann_ivf_topk"](spark, SF_SMALL).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 4, f"{len(jobs)} jobs dispatched: {sorted(jobs)}"


def test_preserve_order_scan_is_single_filescan(tmp_path, spark):
    """O1 at scale: a 100-slice preserve-order input must plan as ONE
    multi-path FileScan (plus the tiny split-offset scan) — not one
    scan node per slice, which blows up plan size as O(slices).

    Spark packs these 100 two-row slices into a few splits, so this
    pins the split-offset plan; the one-pass plan of whole slices is
    ``test_whole_slice_preserve_order_scan_is_one_job``."""
    from component_delta_lake_writer_spark.config import ColumnSpec
    from component_delta_lake_writer_spark.runner import (
        TableInput,
        plan_table_scan,
    )

    paths = []
    for i in range(100):
        p = tmp_path / f"slice_{i:03d}.csv"
        p.write_text(f"{2 * i},a\n{2 * i + 1},b\n")
        paths.append(str(p))
    tbl = TableInput(
        slice_paths=paths,
        columns=[ColumnSpec("id", "INTEGER"), ColumnSpec("name", "STRING")],
    )
    df = plan_table_scan(spark, tbl, preserve_order=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_csv_scans = plan.count("FileScan csv")
    # the data scan + the split-offset aggregate's scan of the same
    # listing — NOT 100 per-slice scans
    assert n_csv_scans <= 2, f"{n_csv_scans} csv scans in plan"
    # offsets and the slice-index map ride in as broadcasts
    assert "BroadcastHashJoin" in plan
    # the slice-index map is an Arrow LocalRelation, not a Python RDD
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in optimized, optimized
    assert df.schema.simpleString() == (
        "struct<id:bigint,name:string,_slice_idx:int,_row_in_slice:bigint>"
    )
    # and the result still reproduces exact insertion order
    rows = df.orderBy("_slice_idx", "_row_in_slice").select("id").collect()
    assert [r["id"] for r in rows] == list(range(200))


def test_whole_slice_preserve_order_scan_is_one_job(tmp_path, spark):
    """Slices that Spark plans whole, each alone in one split, are read
    once: one csv FileScan with no join, aggregate or window, and the
    scan plus a noop write dispatch exactly one job."""
    from component_delta_lake_writer_spark.config import ColumnSpec
    from component_delta_lake_writer_spark.runner import (
        TableInput,
        plan_table_scan,
    )

    paths = []
    for i in range(4):
        p = tmp_path / f"slice_{i}.csv"
        p.write_text("".join(f"{1000 * i + j},n{j}\n" for j in range(500)))
        paths.append(str(p))
    tbl = TableInput(
        slice_paths=paths,
        columns=[ColumnSpec("id", "INTEGER"), ColumnSpec("name", "STRING")],
    )
    sc = spark.sparkContext
    group = "preserve-order-one-pass"
    sc.setJobGroup(group, group)
    try:
        df = plan_table_scan(spark, tbl, preserve_order=True)
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, f"{len(jobs)} jobs dispatched: {sorted(jobs)}"

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan csv") == 1, plan
    for op in ("Join", "Aggregate", "Window"):
        assert op not in plan, plan
    rows = df.orderBy("_slice_idx", "_row_in_slice").select("id").collect()
    assert [r["id"] for r in rows] == [
        1000 * i + j for i in range(4) for j in range(500)
    ]


def _ancestors(plan: str, needle: str) -> list[str]:
    """The operator lines above the first line containing ``needle``
    in a plan tree string (depth = column of the operator name)."""
    lines = plan.splitlines()
    i = next(n for n, line in enumerate(lines) if needle in line)

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out, d = [], depth(lines[i])
    for line in reversed(lines[:i]):
        if depth(line) < d:
            out.append(line.strip(" :+-"))
            d = depth(line)
    return out


def test_preserve_order_upsert_broadcasts_source_keys(tmp_path, spark):
    """The run_job UPSERT shape: a preserve-order CSV source merged
    into a parquet target. The source's size estimate must stay finite
    so merge_upsert hints the key broadcast up front; a Long.MAX
    estimate (what a Python-list slice-index relation gave) plans a
    SortMergeJoin that shuffles the whole target before AQE re-plans."""
    from component_delta_lake_writer_spark.config import ColumnSpec
    from component_delta_lake_writer_spark.operators import merge
    from component_delta_lake_writer_spark.runner import (
        TableInput,
        plan_table_scan,
    )

    cols = [ColumnSpec("id", "INTEGER"), ColumnSpec("name", "STRING")]

    def scan(name: str, ids: range, n_slices: int):
        paths = []
        for j in range(n_slices):
            p = tmp_path / f"{name}_{j}.csv"
            p.write_text("".join(f"{i},n{i}\n" for i in ids[j::n_slices]))
            paths.append(str(p))
        tbl = TableInput(slice_paths=paths, columns=cols)
        return plan_table_scan(spark, tbl, preserve_order=True)

    scan("t", range(3_000), 4).write.parquet(str(tmp_path / "target"))
    target = spark.read.parquet(str(tmp_path / "target"))
    src = merge.dedup_source(scan("s", range(0, 3_300, 10), 2), ["id"])

    est = merge._plan_size_bytes(src.select("id"))
    assert est is not None and est < (1 << 63) - 1, est
    assert est <= merge._broadcast_threshold_bytes(src)

    merged = merge.merge_upsert(target, src, ["id"], pre_deduplicated=True)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=false" in plan  # the initial AQE plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    above_target = _ancestors(plan, "FileScan parquet")
    assert not any(
        a.startswith("Exchange hashpartitioning") for a in above_target
    ), above_target
    assert merged.count() == 3_000 + 30


@pytest.mark.slow
def test_managed_table_read_is_single_scan_after_appends(tmp_path, spark):
    """After 50 appends the snapshot read must stay ONE parquet
    FileScan (explicit committed schema over a multi-path scan), not a
    50-scan union — plan size O(1) in commit count."""
    from component_delta_lake_writer_spark.sinks import ManagedTable
    from component_delta_lake_writer_spark.tables import load_table
    from pyspark.sql import functions as F

    o = load_table(spark, SF_SMALL, "orders").limit(50).cache()
    t = ManagedTable(spark, str(tmp_path / "t"))
    for i in range(50):
        t.write(o.filter(F.col("o_orderkey") % 50 == i), mode="append")
    df = t.read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan[:2000]
    assert df.count() == 50
    o.unpersist()


def test_managed_table_read_nulls_for_evolved_columns(tmp_path, spark):
    """Schema-merged tables: units written before a column existed
    read as NULL for that column (single-scan path)."""
    from component_delta_lake_writer_spark.sinks import ManagedTable
    from component_delta_lake_writer_spark.tables import load_table
    from pyspark.sql import functions as F

    o = load_table(spark, SF_SMALL, "orders").limit(10)
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(o.select("o_orderkey"), mode="overwrite")
    t.write(
        o.select("o_orderkey", "o_totalprice").withColumn(
            "o_orderkey", F.col("o_orderkey") + 1000
        ),
        mode="append", schema_mode="merge",
    )
    r = t.read()
    assert r.columns == ["o_orderkey", "o_totalprice"]
    assert r.filter(F.col("o_totalprice").isNull()).count() == 10


def test_new_tpch_shapes_broadcast_dims(spark):
    # Q2/Q9/Q20: dims must broadcast; the fact table must not.
    for key in [
        "tpch_q2_min_cost_supplier",
        "tpch_q9_product_type_profit",
        "tpch_q20_excess_volume_suppliers",
    ]:
        assert "BroadcastHashJoin" in _plan(spark, key), key


def test_q16_exclusion_is_broadcast_anti_join(spark):
    p = _plan(spark, "tpch_q16_supplier_part_counts")
    assert "LeftAnti" in p
    assert "BroadcastHashJoin" in p


def test_kmeans_centroids_broadcast_vectors_never_shuffle(spark):
    # The vector table joins the k-row centroid table via broadcast
    # NLJ (cross join); the only exchanges are the k×dim component
    # aggregations and the final argmin hash-agg — no sort-merge join
    # of the vectors themselves.
    p = _plan(spark, "kmeans_embedding_clusters")
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_mix_report_single_scan_partial_agg(spark):
    # one scan of documents + partial aggregation before the exchange
    p = _plan(spark, "corpus_mix_report")
    assert p.count("Scan parquet") == 1
    assert p.count("HashAggregate") >= 2


def test_orc_scan_pushdown_and_pruning(spark):
    """ORC is a first-class scan: the probe's filter must reach the
    ORC reader as pushed predicates with a pruned read schema."""
    p = _plan(spark, "orc_scan")
    assert "PushedFilters: [" in p and "PushedFilters: []" not in p
    assert "Format: orc" in p.lower() or "orc" in p.lower()


def test_jsonl_scan_has_no_inference_job(spark):
    """The JSONL scan must carry the caller's schema — a scan whose
    schema came from inference would show the full sampled layout; we
    assert the read schema is exactly the 3 declared fields plus the
    corrupt-record column."""
    p = _plan(spark, "jsonl_scan_typed")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m is not None
    assert m.group(1).count(",") + 1 == 4


def test_gap_fill_broadcasts_spine_and_types(spark):
    """The calendar-spine grid must reach the rollup through broadcast
    joins — never a shuffled join keyed on the tiny spine."""
    p = _plan(spark, "gap_fill_hourly")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" in p or "CartesianProduct" not in p


def test_stream_static_join_is_broadcast(spark):
    """The static dim side of the stream enrichment is explicitly
    broadcast: per-micro-batch replan must stay a broadcast hash join.
    (Checked on the batch twin of the same plan — the streaming drain
    materializes through a memory sink, hiding its executed plan.)"""
    import os

    from pyspark.sql import functions as F

    events = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
    customers = F.broadcast(
        spark.read.parquet(os.path.join(SF_SMALL, "customer.parquet")).select(
            "c_custkey", "c_nationkey"
        )
    )
    j = events.join(customers, events["user_id"] == customers["c_custkey"])
    p = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p


def test_salted_agg_two_exchanges_with_partials(spark):
    """Salted two-stage agg: exactly the two hash-partition exchanges
    (key,salt) then (key), each with map-side partial aggregation."""
    p = _plan(spark, "skew_salted_agg")
    assert p.count("Exchange hashpartitioning") == 2
    assert p.count("HashAggregate") >= 4


def test_paragraph_dedup_shuffle_budget(spark):
    """Segment → first-occurrence window → reassemble: one window
    shuffle on the segment plus one groupBy shuffle on the doc — the
    explode itself must not add an exchange."""
    p = _plan(spark, "paragraph_dedup_docs")
    assert p.count("Exchange hashpartitioning") <= 2


def test_selective_upsert_scans_only_touched_units(spark):
    """The merge input plan must reference only the touched unit's
    files — carried units never enter the rewrite scan."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.sinks import ManagedTable

    with tempfile.TemporaryDirectory() as d:
        o = spark.read.parquet(os.path.join(SF_SMALL, "orders.parquet"))
        lo, hi = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
        half = (hi - lo) // 2
        t = ManagedTable(spark, os.path.join(d, "t"))
        t.write(o.filter(F.col("o_orderkey") < lo + half), mode="append")
        t.write(o.filter(F.col("o_orderkey") >= lo + half), mode="append")
        before = t.latest_commit()
        src = (
            o.filter(F.col("o_orderkey") >= lo + half)
            .limit(20)
            .withColumn("o_totalprice", F.lit(-1.0))
        )
        t.upsert(src, ["o_orderkey"])
        after = t.latest_commit()
        carried = set(before.data_units) & set(after.data_units)
        assert len(carried) == 1
        new_unit = next(
            u for u in after.data_units if u not in before.data_units
        )
        scanned = spark.read.parquet(
            os.path.join(d, "t", "_data", new_unit)
        ).count()
        # rewritten unit holds only the touched half's rows
        assert scanned == o.filter(F.col("o_orderkey") >= lo + half).count()


def test_mor_delete_antijoin_broadcasts_small_delete_set(spark, tmp_path):
    """The 100 TB contract for merge-on-read reads: the target scan
    anti-joins the deleted (file, row) positions via broadcast — the
    target side must never shuffle to apply a deletion vector.
    Catalyst gets this from the positions' Arrow LocalRelation size
    stats; pin it so a refactor that hides them shows up here."""
    import os

    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.sinks import ManagedTable

    t = ManagedTable(spark, os.path.join(str(tmp_path), "t"))
    df = spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    t.delete_where("k % 100 = 0", strategy="merge-on-read")
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    # same contract through the MOR upsert's deletion vectors
    src = spark.range(1000).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    t.upsert(src, ["k"], strategy="merge-on-read")
    plan2 = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan2 and "SortMergeJoin" not in plan2


def test_partitioned_multiunit_read_is_single_scan(tmp_path, spark):
    """A partitioned table with several appended units must still read
    as ONE FileScan, its partition values joined in from the log's
    adds — never a per-unit union, and never Spark's multi-root
    partition discovery error."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.sinks import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("p")
    )
    for i in range(3):
        t.write(
            df.filter(F.col("k") % 3 == i),
            mode="append",
            partition_by=["p"],
        )
    out = t.read()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan[:2000]
    assert out.count() == 300
    # partition values taken from the adds are typed and correct
    assert out.filter(F.col("p") == F.col("k") % 3).count() == 300


def test_merge_asof_is_single_shuffle_no_join(spark):
    """merge_asof must plan as union → one Exchange on the key →
    window — never a join (a range/theta join is the O(n·m) trap the
    ordered-stream formulation exists to avoid)."""
    from component_delta_lake_writer_spark.operators.timeseries import (
        merge_asof,
    )

    left = spark.range(100).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS k", "id * 10 AS t"
    )
    right = spark.range(50).selectExpr(
        "CAST(id % 7 AS STRING) AS k", "id * 17 AS t",
        "CAST(id AS DOUBLE) AS v"
    )
    df = merge_asof(left, right, on="t", by=["k"], direction="nearest")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan  # one per window ordering, max


def test_minhash_dedup_shuffle_budget(spark):
    """Plan-shape lock (VERDICT r3 item 1): the LSH stage shuffles the
    banded stream ONCE (groupBy collect_list + in-array pair gen), not
    three times (the old count+join+self-join spelling). Total hash
    exchanges: signature agg, bucket agg, pair distinct, set agg (built
    once, cached for both join sides) + candidate join = 5 max; no
    cartesian product anywhere."""
    # cold cache: a prior test's materialized set-cache would splice
    # its build plan (with its own exchanges) into the plan text
    spark.catalog.clearCache()
    p = _plan(spark, "minhash_dedup")
    assert p.count("Exchange hashpartitioning") <= 5
    assert "CartesianProduct" not in p
    # the per-doc set relation is cached and read for BOTH join sides
    assert p.count("InMemoryTableScan") >= 2


def test_pipeline_clean_corpus_shuffle_budget(spark):
    """End-to-end corpus clean: quality filter is shuffle-free, exact
    dedup is one window shuffle, survival agg one exchange — the final
    stage plan (downstream of the persisted q1 and the driver-side CC
    gate) must stay within 3 hash exchanges, no cartesian."""
    spark.catalog.clearCache()
    p = _plan(spark, "pipeline_clean_corpus")
    assert p.count("Exchange hashpartitioning") <= 3
    assert "CartesianProduct" not in p


def test_ivf_indexed_probe_is_partition_pruned(spark):
    # the materialized IVF path must read ONLY the chosen cell
    # partitions: PartitionFilters on cell, no exchange, no join
    p = _plan(spark, "ann_ivf_indexed_topk")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "cell" in m.group(1) and "IN" in m.group(1), p[:2000]
    assert "Exchange" not in p and "Join" not in p
    assert "TakeOrderedAndProject" in p


def test_filtered_vector_search_pushes_predicate(spark):
    """filtered_vector_topk: the structured predicate must reach the
    parquet scan (PushedFilters on label) so pruning happens before
    any vector math, and the top-k must be TakeOrderedAndProject."""
    p = _plan(spark, "filtered_vector_topk")
    assert re.search(r"PushedFilters: \[[^\]]*label", p), p
    assert "TakeOrderedAndProject" in p


def test_hybrid_rrf_fusion_joins_stay_small(spark):
    """hybrid_rrf_retrieval: the probe/query relations broadcast; the
    corpus is never on the build side of any join."""
    p = _plan(spark, "hybrid_rrf_retrieval")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    # no cartesian product over the corpus
    assert "CartesianProduct" not in p


def test_dv_driver_tier_dispatches_no_jobs(tmp_path, spark):
    """Round-7 perf lock: the deletion-vector driver tier (small key
    set, unpartitioned, target rows under the driver bound) must
    match and write DVs with ZERO Spark jobs — the whole point of the
    tier is killing the ~0.5 s distributed dispatch that dominated
    small-batch merge-on-read commits. The commit's only job is the
    source-unit write."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.sinks.managed_table import (
        ManagedTable,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(5_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(2), mode="overwrite", primary_key=["k"])
    upd = df.filter(F.col("k") % 7 == 0).withColumn(
        "v", F.lit(-1).cast("long")
    ).coalesce(1).persist()
    upd.count()  # materialize outside the lock window
    sc = spark.sparkContext
    group = "dv-driver-tier-lock"
    sc.setJobGroup(group, group)
    try:
        c = t.upsert(upd, ["k"], strategy="merge-on-read")
    finally:
        sc.setJobGroup(None, None)
    upd.unpersist()
    assert c.deletion_vectors, "probe must exercise the DV path"
    from component_delta_lake_writer_spark.sinks.delta_log import (
        live_dv_descriptors,
    )

    assert live_dv_descriptors(t.path), "DVs must have materialized"
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # source-unit write (+2 slack: AQE result stages, and the
    # delete-set write the tier's budget was set with); the DV match
    # itself adds NONE
    assert len(jobs) <= 3, f"{len(jobs)} jobs dispatched: {sorted(jobs)}"


def test_range_join_is_bucket_equi_join(spark):
    """range_join_busy_windows: the point-in-interval theta join must
    plan as a hash equi-join on the bucket key — never a broadcast
    nested loop or cartesian over the corpus."""
    p = _plan(spark, "range_join_busy_windows")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_mor_row_count_is_metadata_only(tmp_path, spark):
    """COUNT(*) on a merge-on-read snapshot must answer from metadata
    (unit rows minus DV cardinalities) — zero Spark jobs — and equal
    the distributed count."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.sinks.managed_table import (
        ManagedTable,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(3_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(2), mode="overwrite", primary_key=["k"])
    t.delete_where("k % 5 = 0", strategy="merge-on-read")
    t.upsert(
        df.filter(F.col("k") % 7 == 0).withColumn(
            "v", F.lit(-1).cast("long")
        ).coalesce(1),
        ["k"],
        strategy="merge-on-read",
    )
    expected = t.read().count()
    sc = spark.sparkContext
    group = "mor-count-lock"
    sc.setJobGroup(group, group)
    try:
        got = t.row_count()
    finally:
        sc.setJobGroup(None, None)
    assert got == expected
    assert not sc.statusTracker().getJobIdsForGroup(group), (
        "metadata-only count must dispatch no jobs"
    )


def test_streaming_hourly_agg_job_count_locked(spark):
    """VERDICT r7 task 5: the frozen-suite streaming_hourly_agg number
    drifted 1.76 -> 2.29 s between rounds.  Profiled r8: the probe
    never touches the ManagedTable/mirror code (parquet readStream ->
    watermark -> rollup -> memory sink), dispatches exactly 3 jobs
    warm (schema read + the availableNow micro-batch + the memory-sink
    count), and a warm median-of-5 at sf0.1 is ~1.0 s with ~0.3 s
    spread — the drift is stream-SETUP jitter at the probe's suite
    position, not per-batch cost growth.  This lock turns any future
    real regression (an extra job sneaking into the drain path) into a
    test failure instead of a bench mystery."""
    sc = spark.sparkContext
    from component_delta_lake_writer_spark.plans import QUERIES

    QUERIES["streaming_hourly_agg"](spark, SF_SMALL).count()  # warm
    group = "shag-job-lock"
    sc.setJobGroup(group, group)
    try:
        QUERIES["streaming_hourly_agg"](spark, SF_SMALL).count()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 4, f"{len(jobs)} jobs dispatched: {sorted(jobs)}"


def test_scd2_build_single_exchange(spark):
    """scd2_build's two window passes (lag change-detect, lead
    ranging) share one (key, ts, tiebreak) sort — the plan must carry
    exactly ONE Exchange and ONE Sort, and the scan must prune to the
    four referenced columns. A second shuffle here would double the
    cost of building a 100 TB dimension for nothing."""
    from component_delta_lake_writer_spark.operators.scd import scd2_build

    import os

    ev = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
    dim = scd2_build(
        ev, "user_id", "ts", ["event_type"], tiebreak=["event_id"]
    )
    plan = dim._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("+- Sort") == 1, plan
    assert "event_id:bigint" in plan and "props" not in plan


def test_hamming_packed_plan_no_shuffle(spark):
    """hamming_packed_topk's plan must be scan -> broadcast-nested-
    loop against the 1-row probe -> TakeOrderedAndProject: zero
    shuffle exchanges, no sort-merge anything — the whole point of the
    packed path is a single cheap pass over 64x-less data."""
    import os

    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.similarity import (
        hamming_packed_topk,
        pack_sign_words,
    )

    emb = spark.read.parquet(
        os.path.join(SF_SMALL, "embeddings.parquet")
    )
    packed = pack_sign_words(emb, dim=64)
    top = hamming_packed_topk(
        packed, packed.filter(F.col("vec_id") == 0), k=10
    )
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    # the probe's BroadcastExchange is the design; a SHUFFLE exchange
    # (hashpartitioning / rangepartitioning) is the regression
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_csv_typed_load_job_count_locked(spark, tmp_path):
    """VERDICT r8 task 1 follow-through: the csv_load_typed envelope
    workload (typed CSV scan -> ManagedTable write) is dispatch-bound
    at the x10 shape — its DuckDB ratio rests on the job count staying
    fixed. Profiled r9: exactly 2 jobs warm (the parquet write + the
    preserve-order scan's commit bookkeeping); footer stats fold
    driver-side (pyarrow, no job). An extra job sneaking into the
    write path turns the measured ~2x dispatch-bound ratio into a
    silent regression — lock it."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.config import ColumnSpec
    from component_delta_lake_writer_spark.sinks import ManagedTable
    from component_delta_lake_writer_spark.sources.csv import (
        read_csv_typed,
    )

    csv_dir = str(tmp_path / "slices")
    spark.range(20_000).select(
        F.col("id").cast("string").alias("a"),
        (F.col("id") % 7).cast("string").alias("b"),
    ).coalesce(2).write.option("header", "false").csv(csv_dir)
    cols = [ColumnSpec("a", "INTEGER"), ColumnSpec("b", "INTEGER")]

    def load(dest: str) -> None:
        ManagedTable(spark, dest).write(
            read_csv_typed(spark, csv_dir, cols), mode="overwrite",
            compression="none", max_records_per_file=25_000,
        )

    load(str(tmp_path / "warm"))
    sc = spark.sparkContext
    group = "csv-load-job-lock"
    sc.setJobGroup(group, group)
    try:
        load(str(tmp_path / "t"))
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 2, f"{len(jobs)} jobs dispatched: {sorted(jobs)}"


def test_funnel_single_corpus_scan(spark):
    """funnel must read the events corpus EXACTLY once (the sorted-
    array fold): the join-cascade spelling the oracle replays re-scans
    the corpus per step — O(steps^2) work that silently returns at
    any refactor. Two exchanges expected: the keyed groupBy and the
    tiny final count aggregation."""
    from component_delta_lake_writer_spark.operators.sessions import (
        funnel,
    )
    from component_delta_lake_writer_spark.tables import load_table

    df = funnel(
        load_table(spark, SF_SMALL, "events"),
        ["view", "click", "purchase"],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange") <= 3, plan


def test_skew_profile_reuses_count_shuffle(spark):
    """skew_profile's totals branch builds ON the (column, value)
    counts subtree, so AQE reuses that exchange — the corpus scan +
    partial aggregation runs ONCE at runtime even though two logical
    branches consume it. A refactor that computes totals from the raw
    pairs instead would silently double the scan."""
    from component_delta_lake_writer_spark.operators.skew import (
        skew_profile,
    )
    from component_delta_lake_writer_spark.tables import load_table

    df = skew_profile(
        load_table(spark, SF_SMALL, "orders"),
        ["o_orderstatus", "o_custkey"],
        k=3,
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_corr_matrix_single_scan(spark):
    """corr_matrix must read the corpus EXACTLY once: every pair's
    co-moment sums ride one map-side-combinable aggregation into a
    single reduced row — a per-pair-job or per-pair-scan refactor
    would multiply the corpus read by |cols|^2."""
    from component_delta_lake_writer_spark.operators.dq import corr_matrix
    from component_delta_lake_writer_spark.tables import load_table

    df = corr_matrix(
        load_table(spark, SF_SMALL, "orders"),
        ["o_orderkey", "o_custkey", "o_totalprice"],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange") <= 1, plan


def test_drift_profile_bounded_shuffle(spark):
    """drift_profile: one scan per side and the only row-space-wide
    movement is the union into the (source, bin) aggregation — the
    exchanges carry at most 2*(bins+2) grouped rows plus the 1-row
    totals broadcast, never the corpus."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.dq import (
        drift_profile,
    )
    from component_delta_lake_writer_spark.tables import load_table

    o = load_table(spark, SF_SMALL, "orders")
    df = drift_profile(
        o.filter(F.col("o_orderkey") % 2 == 0),
        o.filter(F.col("o_orderkey") % 2 == 1),
        "o_totalprice", bins=10, lo=0.0, hi=500000.0,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 2, plan


def test_drift_profile_columns_two_scans(spark):
    """drift_profile_columns: monitoring MORE columns must not add
    scans — the unpivot happens in the projection, so the whole
    multi-column dashboard still reads each side exactly once."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.dq import (
        drift_profile_columns,
    )
    from component_delta_lake_writer_spark.tables import load_table

    o = load_table(spark, SF_SMALL, "orders")
    df = drift_profile_columns(
        o.filter(F.col("o_orderkey") % 2 == 0),
        o.filter(F.col("o_orderkey") % 2 == 1),
        {"o_totalprice": (0.0, 500000.0), "o_custkey": (0.0, 20000.0),
         "o_orderkey": (0.0, 1e9)},
        bins=10,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 2, plan


def test_cusum_single_scan_metadata_windows(spark):
    """cusum_changepoint reads the corpus EXACTLY once (the hourly
    groupBy); every window after runs on the bucket series. Two
    exchanges: the bucket aggregation and the SinglePartition the
    metadata-scale ordered windows require."""
    from component_delta_lake_writer_spark.operators.timeseries import (
        cusum_changepoint,
    )
    from component_delta_lake_writer_spark.tables import load_table

    df = cusum_changepoint(
        load_table(spark, SF_SMALL, "events"), "ts", "value"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange") <= 2, plan


def test_seasonal_profile_single_scan(spark):
    """seasonal_profile: one corpus scan into ≤168 cells; the totals
    ride a window over those cells, never a second scan."""
    from component_delta_lake_writer_spark.operators.timeseries import (
        seasonal_profile,
    )
    from component_delta_lake_writer_spark.tables import load_table

    df = seasonal_profile(
        load_table(spark, SF_SMALL, "events"), "ts", "value"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange") <= 2, plan


def test_benford_single_scan(spark):
    """benford_audit: one corpus scan into ≤9 digit rows; expected
    shares and chi-square are projections over those rows."""
    from component_delta_lake_writer_spark.operators.dq import (
        benford_audit,
    )
    from component_delta_lake_writer_spark.tables import load_table

    df = benford_audit(
        load_table(spark, SF_SMALL, "orders"), "o_totalprice"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange") <= 2, plan


def test_event_transitions_single_scan(spark):
    """event_transitions: one corpus scan; the user-keyed lag window,
    the pair groupBy, and the row-total window are the only three
    exchanges — a join-based spelling would re-scan per hop."""
    from component_delta_lake_writer_spark.operators.sessions import (
        event_transitions,
    )
    from component_delta_lake_writer_spark.tables import load_table

    df = event_transitions(
        load_table(spark, SF_SMALL, "events"),
        "user_id", "ts", "event_type", tiebreak="event_id",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange") <= 3, plan


def test_basket_lift_reuses_basket_shuffle(spark):
    """basket_lift generates pairs from per-basket arrays (no
    self-join), so at runtime the expensive groupBy(basket) exchange
    is REUSED by the pair branch and the item-totals branch — the
    self-join spelling this replaced executed the corpus shuffle
    once per consumer (4x). The basket-count branch legitimately
    re-scans: Catalyst prunes it to a single-column count."""
    from component_delta_lake_writer_spark.operators.affinity import (
        basket_lift,
    )
    from component_delta_lake_writer_spark.tables import load_table

    df = basket_lift(
        load_table(spark, SF_SMALL, "lineitem"),
        "l_orderkey", "l_partkey", k=5,
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2, plan


def test_path_trigrams_reuses_window_shuffle(spark):
    """event_path_trigrams computes BOTH lags in one user-keyed
    window pass (a per-lag window or join spelling would re-shuffle
    per step); the totals branch builds ON the grouped trigram
    subtree, so at runtime the window/groupBy exchange is REUSED —
    the corpus scan executes once even though the pre-AQE plan shows
    two logical branches."""
    from component_delta_lake_writer_spark.operators.sessions import (
        event_path_trigrams,
    )
    from component_delta_lake_writer_spark.tables import load_table

    df = event_path_trigrams(
        load_table(spark, SF_SMALL, "events"),
        "user_id", "ts", "event_type", tiebreak="event_id",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") <= 2, plan  # trigram branch + totals
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_mann_whitney_uses_distributed_cumsum(spark):
    """mann_whitney_u's midranks must come from the range-partitioned
    offset cumsum — NOT a `row_number() OVER (ORDER BY v)` global
    window, which Spark executes on one partition. The plan therefore
    contains a rangepartitioning exchange and NO unpartitioned
    running window over the distinct-value rows."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.operators.experiments import (
        mann_whitney_u,
    )
    from component_delta_lake_writer_spark.tables import load_table

    o = load_table(spark, SF_SMALL, "orders").select(
        (F.col("o_orderkey") % 2).cast("string").alias("grp"),
        F.floor(F.col("o_totalprice") / 1000).alias("v"),
    )
    df = mann_whitney_u(o, "grp", "v")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the range-partitioned checkpoint truncates lineage (Scan
    # ExistingRDD), so the rangepartitioning exchange itself is not
    # in THIS plan — the lock-worthy signal is the cumsum window
    # being PARTITIONED BY the checkpointed pid, never unpartitioned
    assert "Scan ExistingRDD" in plan, plan
    assert "windowspecdefinition(__pid" in plan, plan
    # exactly the one pid-partitioned cumsum window (the final 1-row
    # aggregate legitimately lands on a SinglePartition exchange; a
    # SECOND window would be the global-sort regression)
    assert plan.count("Window") <= 1, plan


def test_ngram_lm_perplexity_single_score_scan(spark):
    """bigram_lm_perplexity: the returned plan reads the TARGET corpus
    exactly once; the training corpus is materialized once inside the
    model's localCheckpoint (its four consumers — bigram join, context
    re-agg, two vocab projections — would otherwise each re-scan it),
    and the model joins broadcast at probe scale."""
    p = _plan(spark, "ngram_lm_perplexity_docs")
    assert p.count("FileScan") == 1, p
    assert p.count("BroadcastHashJoin") >= 2, p


def test_spearman_uses_distributed_cumsum(spark):
    """spearman_corr's midranks (both columns) ride the
    range-partitioned offset cumsum — the plan shows the checkpointed
    relations (Scan ExistingRDD) and every running window partitioned
    by the checkpoint pid, never an unpartitioned global rank."""
    p = _plan(spark, "spearman_lineitems")
    assert "Scan ExistingRDD" in p, p
    assert "windowspecdefinition(__pid" in p, p


def test_ks_test_uses_distributed_cumsum(spark):
    """ks_test_2sample's two per-arm CDFs ride the distributed
    cumsum; no unpartitioned running window anywhere in the plan."""
    p = _plan(spark, "ks_test_orders")
    assert "Scan ExistingRDD" in p, p
    assert "windowspecdefinition(__pid" in p, p


def test_welch_anova_single_scan(spark):
    """welch_ttest / anova_oneway: ONE corpus FileScan each — the
    sufficient statistics collapse map-side (the returned plan's
    extra existence/arm probes are separate bounded actions)."""
    for key in ("welch_ttest_orders", "anova_orders"):
        p = _plan(spark, key)
        assert p.count("FileScan") == 1, (key, p)


def test_acf_single_scan_metadata_lags(spark):
    """acf_hourly reads the corpus exactly once — the hourly bucket
    relation is checkpoint-pinned (its seven consumers each re-scanned
    the corpus before the pin: 8 FileScans measured); the gap-fill,
    lag explode and per-lag sums all run on the metadata-scale bucket
    series (Scan ExistingRDD in the returned plan)."""
    p = _plan(spark, "acf_hourly_events")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_calibration_single_scan(spark):
    """calibration_report: reliability curve AND Brier ride ONE
    corpus scan — the Brier is a window over the <=bins relation
    (a second aggregate consumer re-planned the scan; r11 review)."""
    p = _plan(spark, "calibration_orders")
    assert p.count("FileScan") == 1, p


def test_ab_bootstrap_ci_single_scan(spark):
    """ab_bootstrap_ci: replicates AND observed stats ride one corpus
    scan — observed = the weight-1 b=-1 replicate, and the B+1-row
    per-replicate relation is checkpoint-pinned (its two consumers
    each re-planned the corpus scan): the returned plan reads NO
    files, only the pinned relation."""
    p = _plan(spark, "ab_test_ci_events")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_winsorize_theil_ride_distributed_rank(spark):
    """winsorize and theil_sen run on checkpoint-pinned relations:
    zero FileScans in the returned plan (the corpus was read exactly
    once inside the pin), ExistingRDD scans in its place."""
    for key in ("winsorize_orders", "theil_sen_events"):
        p = _plan(spark, key)
        assert p.count("FileScan") == 0, (key, p)
        assert "Scan ExistingRDD" in p, (key, p)


def test_fdr_bh_rides_distributed_rank_and_suffix_min(spark):
    """benjamini_hochberg: the p-value rank rides global_value_rank
    and the q-value suffix-min rides the same range-partitioned
    machinery reversed — the returned plan reads NO files (the test
    relation was materialized inside the two pins), shows the
    checkpointed relations, and the ONLY running window is
    partitioned by the checkpoint pid (an unpartitioned `ORDER BY i
    DESC` window over all tests would be the single-partition
    regression)."""
    p = _plan(spark, "fdr_bh_orders")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p
    assert "windowspecdefinition(__pid" in p, p


def test_logrank_single_scan_metadata_windows(spark):
    """logrank_test: ONE corpus scan into the pinned (arm, t)
    relation; the shared time grid, per-arm at-risk suffix sums,
    per-arm user counts and the E/Var fold all run on that
    metadata-scale pin (zero FileScans in the returned plan)."""
    p = _plan(spark, "logrank_km_events")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_cox_ph_zero_filescan_fixed_nesting(spark):
    """cox_ph_two_arm: the returned plan reads NO files — the corpus
    was scanned exactly once inside the shared risk-grid pin, and
    every Newton step is a 1-row aggregate nested over that
    ExistingRDD (fixed nesting depth = the iteration count, never
    data-dependent)."""
    p = _plan(spark, "cox_ph_events")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_bpe_train_output_is_metadata_scale_local(spark):
    """bpe_train_merges: the returned merge table is the collected
    per-round argmax rows (bounded: one per merge) — a local
    relation with ZERO FileScans and ZERO Exchanges.  The corpus
    discipline (one scan into the pinned dict, per-round
    metadata-scale aggregates, lazy checkpoints truncating the fold
    lineage) lives in the training actions and is proven by the
    hand-values + property tests matching the textbook model; this
    lock pins that no corpus work leaks into the RETURNED plan."""
    p = _plan(spark, "bpe_train_merges")
    assert p.count("FileScan") == 0, p
    assert "Exchange" not in p, p


def test_auc_kruskal_ride_distributed_cumsum(spark):
    """auc_roc and kruskal_wallis ride the global_weighted_cumsum
    pin (and kruskal's (group, value) tie table is itself pinned for
    its two consumers): the returned plan reads NO files and the
    only running windows are partitioned by the checkpoint pid —
    an unpartitioned midrank window over distinct values would be
    the single-partition regression."""
    for key in ("auc_roc_orders", "kruskal_wallis_orders"):
        p = _plan(spark, key)
        assert p.count("FileScan") == 0, (key, p)
        assert "Scan ExistingRDD" in p, (key, p)
        assert "windowspecdefinition(__pid" in p, (key, p)


def test_survival_curves_single_scan(spark):
    """km_survival and nelson_aalen pin the per-user collapse: the
    horizon aggregate and the lifetime staging both consume it, and
    unpinned each re-ran the corpus scan (2 FileScans for one
    logical pass — r13 plan audit).  The returned plan reads no
    files; the curve windows run over the metadata-scale lifetime
    relation."""
    for key in ("km_survival_events", "nelson_aalen_events"):
        p = _plan(spark, key)
        assert p.count("FileScan") == 0, (key, p)
        assert "Scan ExistingRDD" in p, (key, p)


def test_rmst_zero_filescan_on_shared_grid(spark):
    """rmst_two_arm rides the shared two-arm risk-grid pin exactly
    like log-rank/Gehan/Cox: zero FileScans in the returned plan —
    the per-arm survival folds and the step-integral segments are
    windows over the pinned metadata-scale grid."""
    p = _plan(spark, "rmst_events")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_mantel_haenszel_single_scan(spark):
    """mantel_haenszel pins the per-(stratum, arm) count table: the
    arm validation and the 2x2 fold both consume it, so the
    returned plan reads NO files — one corpus scan total, every MH
    term a metadata-scale aggregate over the pin."""
    p = _plan(spark, "mantel_haenszel_orders")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_vocab_js_single_scan(spark):
    """vocab_js_divergence pins the vocabulary-scale per-token
    (count_a, count_b) relation: the totals and the JS term fold
    both consume it, so the returned plan reads NO files — one
    token-explode corpus scan total, the totals broadcast back."""
    p = _plan(spark, "vocab_js_divergence_docs")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_jonckheere_partitioned_windows_single_scan(spark):
    """jonckheere_terpstra pins the (group, value) tie table and
    runs BOTH cumulative folds as PARTITIONED windows over the
    groups x values grid: the returned plan reads NO files and
    carries no unpartitioned window (the 2D dominance count must
    never collapse to a single partition)."""
    p = _plan(spark, "jonckheere_orders")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p
    assert "windowspecdefinition(_gi" in p, p
    assert "windowspecdefinition(_v" in p, p


def test_fisher_exact_support_grid_no_corpus(spark):
    """fisher_exact: the corpus collapses to a 4-int collect (the
    sanctioned bounded class); the RETURNED plan runs entirely on
    the distributed support Range and the cumsum pin — zero
    FileScans, with the range-partitioned prefix machinery's
    ExistingRDD in their place."""
    p = _plan(spark, "fisher_exact_orders")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_pr_auc_rides_distributed_cumsum(spark):
    """pr_auc: both descending cumulative counts (predicted, TP)
    ride the range-partitioned cumsum pins — zero FileScans in the
    returned plan, only __pid-partitioned windows."""
    p = _plan(spark, "pr_auc_orders")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p
    assert "windowspecdefinition(__pid" in p, p


def test_breslow_day_single_scan(spark):
    """breslow_day rides the shared stratified-2x2 pin exactly like
    mantel_haenszel: zero FileScans in the returned plan — one
    corpus scan total, the quadratic fits metadata-scale."""
    p = _plan(spark, "breslow_day_orders")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_concordance_grid_windows_partitioned(spark):
    """concordance_index: the pair counter runs over the pinned
    (t, score) cell table — the returned plan reads NO files (the
    corpus collapse happened inside the pin) and every running
    window is PARTITIONED (by score for the suffix, by time for
    the prefix/total) — an unpartitioned window over the grid
    would be the single-partition regression."""
    p = _plan(spark, "concordance_index_events")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p
    import re as _re

    for spec in _re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        # every window spec must carry a partition column before
        # the ordering spec (unpartitioned specs start with the
        # order column directly followed by ASC/DESC markers)
        assert spec.split(",")[1].strip().startswith(
            ("_t#", "_s#")
        ) or spec.split(",")[0].strip().startswith(
            ("_t#", "_s#")
        ), spec


def test_cliffs_delta_zero_filescan_partitioned_windows(spark):
    """cliffs_delta: pair counts ride the pinned (arm, value) tie
    table — zero FileScans in the returned plan; the JT-grid
    windows are partitioned by arm / by value."""
    p = _plan(spark, "cliffs_delta_orders")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_fleming_harrington_zero_filescan(spark):
    """fleming_harrington_test: rides the shared two-arm risk-grid
    pin exactly like logrank/gehan/cox — the returned plan reads
    NO files; the pooled-KM weight is a window over the
    metadata-scale time grid."""
    p = _plan(spark, "fleming_harrington_events")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


@pytest.mark.slow
def test_pca_returned_plan_is_metadata_scale(spark):
    """pca_top_component: the returned plan explodes the final
    one-row state (the corpus pass and the covariance build
    happened inside the eager pin; the iteration chain was
    truncated by lazy checkpoints) — zero FileScans and zero
    Exchanges, the bpe_train posture."""
    p = _plan(spark, "pca_top_component_embeddings")
    assert p.count("FileScan") == 0, p
    assert "Exchange" not in p, p


def test_friedman_page_single_scan_no_window(spark):
    """friedman_test / page_trend_test: per-row closed-form
    midranks need NO window anywhere and exactly ONE corpus scan —
    a rank-by-window spelling would shuffle the corpus k times."""
    for key in ("friedman_orders", "page_trend_orders"):
        p = _plan(spark, key)
        assert p.count("FileScan") == 1, (key, p)
        assert "windowspecdefinition" not in p, (key, p)


def test_g_test_single_scan_cell_windows(spark):
    """g_test_independence: ONE corpus scan to the cell table;
    marginals are windows over the metadata-scale cells (the
    chi2_independence spelling) — exactly one FileScan."""
    p = _plan(spark, "g_test_orders")
    assert p.count("FileScan") == 1, p


def test_cumulative_incidence_zero_filescan(spark):
    """cumulative_incidence: all-cause grid, S(s−) and per-cause
    prefix all ride the pinned (t, cause) cell table — zero
    FileScans in the returned plan."""
    p = _plan(spark, "cumulative_incidence_events")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_kendall_brunner_cliffs_ride_pinned_tie_tables(spark):
    """kendall_tau / brunner_munzel: the 2D grid / doubled-rank
    machinery runs over the pinned (x, y)/(arm, value) tie tables
    — zero FileScans in the returned plan."""
    for key in ("kendall_tau_orders", "brunner_munzel_orders"):
        p = _plan(spark, key)
        assert p.count("FileScan") == 0, (key, p)
        assert "Scan ExistingRDD" in p, (key, p)


def test_wasserstein_single_scan_metadata_windows(spark):
    """wasserstein_1d: the corpus scan happened inside the pinned
    (arm, value) tie table — zero FileScans in the returned plan;
    the CDF windows run over the distinct-value relation."""
    p = _plan(spark, "wasserstein_drift_orders")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_dunn_eb_zero_filescan(spark):
    """dunn_posthoc / eb_shrunk_rates: pairwise readout and prior
    both ride pinned metadata relations — zero FileScans in the
    returned plan."""
    for key in ("dunn_posthoc_orders", "eb_shrunk_rates_orders"):
        p = _plan(spark, key)
        assert p.count("FileScan") == 0, (key, p)
        assert "Scan ExistingRDD" in p, (key, p)


def test_domain_similarity_zero_filescan(spark):
    """domain_similarity: signatures AND the exact-intersection
    join both consume the pinned distinct-token relation — zero
    FileScans, no re-tokenization of the corpus."""
    p = _plan(spark, "domain_similarity_docs")
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_single_scan_aggregate_family(spark):
    """jarque_bera / overdispersion / vocab_coverage /
    poisson_rate_ratio: one corpus FileScan each (poisson's
    per-arm relation is pinned → zero), no windows over corpus
    rows."""
    for key, scans in (
        ("jarque_bera_orders", 1),
        ("overdispersion_events", 1),
        ("vocab_coverage_docs", 1),
        ("poisson_rate_ratio_events", 0),
        ("km_quantiles_events", 0),
        ("ph_assumption_events", 0),
    ):
        p = _plan(spark, key)
        assert p.count("FileScan") == scans, (key, p)
