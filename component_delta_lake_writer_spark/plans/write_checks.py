"""Write-path probes (rows-only checks — no SQL oracle can observe a
Delta-style table write, so the driver records row count + schema).

Each probe exercises one reference write operator (SURVEY §2.2)
through ManagedTable in a scratch directory, then returns the
read-back DataFrame (or a summary) so the result is deterministic.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.errors import TableExistsError
from component_delta_lake_writer_spark.plans.query_registry import _scratch, query
from component_delta_lake_writer_spark.session import local_relation
from component_delta_lake_writer_spark.sinks import ManagedTable
from component_delta_lake_writer_spark.tables import load_table


def _fresh_table(spark: SparkSession, key: str, sf_dir: str) -> ManagedTable:
    path = os.path.join(_scratch(key, sf_dir), "table")
    shutil.rmtree(path, ignore_errors=True)
    return ManagedTable(spark, path)


@query("write_error_mode")
def write_error_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 (src/component.py:64-68): mode=error writes a fresh table,
    then refuses the second write. Returns the surviving v0 data."""
    t = _fresh_table(spark, "write_error_mode", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="error")
    try:
        t.write(o, mode="error")
        raise AssertionError("mode=error must refuse an existing table")
    except TableExistsError:
        pass
    return t.read()


@query("write_append")
def write_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (src/component.py:100-111): two appends; read-back is the
    union (2x rows)."""
    t = _fresh_table(spark, "write_append", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="append")
    t.write(o, mode="append")
    return t.read()


@query("write_overwrite")
def write_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (src/component.py:90-98): overwrite truncates-and-replaces;
    read-back is only the second dataset."""
    t = _fresh_table(spark, "write_overwrite", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="append")
    t.write(o.filter(F.col("o_orderkey") % 2 == 0), mode="overwrite")
    return t.read()


@query("partitioned_write")
def partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (src/component.py:96,210-214): partition_by layout; read-back
    through the partitioned snapshot with pruning available."""
    t = _fresh_table(spark, "partitioned_write", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    t.write(li, mode="overwrite", partition_by=["l_returnflag"])
    return t.read().filter(F.col("l_returnflag") == "R")


@query("schema_merge")
def schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 (src/component.py:97,109): schema_mode=merge widens the
    table; read-back has the union schema with nulls backfilled."""
    t = _fresh_table(spark, "schema_merge", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o.select("o_orderkey", "o_custkey"), mode="overwrite")
    t.write(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        mode="append",
        schema_mode="merge",
    )
    return t.read()


@query("create_table_ddl")
def create_table_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9/W10 (src/component.py:207-224): typed create with PK +
    partitioning; PK is carried as informational table metadata
    (SURVEY §4 note 2 — OSS has no enforced PK). Returns a one-row
    summary of the committed metadata."""
    t = _fresh_table(spark, "create_table_ddl", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    commit = t.write(
        o,
        mode="overwrite",
        partition_by=["o_orderstatus"],
        primary_key=["o_orderkey"],
        properties={"constraints.primary_key": "o_orderkey"},
    )
    return local_relation(
        spark,
        "version long, primary_key string, partition_by string, pk_property string, n_rows long",
        [
            [commit.version],
            [",".join(commit.primary_key)],
            [",".join(commit.partition_by)],
            [commit.properties.get("constraints.primary_key", "")],
            [t.read().count()],
        ],
    )


@query("upsert_write")
def upsert_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 through the table layer (vs. the oracle-checked merge_upsert
    which proves the operator): upsert commit + read-back."""
    from component_delta_lake_writer_spark.plans.query_registry import _merge_source

    t = _fresh_table(spark, "upsert_write", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="overwrite")
    t.upsert(_merge_source(spark, sf_dir), ["o_orderkey"])
    return t.read()


@query("optimize_compact")
def optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance surface: N appends → optimize() compacts to one
    unit → vacuum() deletes the rest. Returns a one-row summary."""
    t = _fresh_table(spark, "optimize_compact", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    for i in range(3):
        t.write(o.filter(F.col("o_orderkey") % 3 == i), mode="append")
    units_before = len(t.latest_commit().data_units)
    t.optimize()
    removed = t.vacuum()
    return local_relation(
        spark,
        "units_before int, units_after int, units_vacuumed int, n_rows long",
        [[units_before], [len(t.latest_commit().data_units)], [removed],
         [t.read().count()]],
    )


@query("time_travel_read")
def time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation: read version 0 after later commits mutated
    the table — count must equal the original write."""
    t = _fresh_table(spark, "time_travel_read", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="overwrite")
    t.write(o.limit(10), mode="append")
    v0 = t.read(version=0)
    return local_relation(
        spark,
        "version int, v0_rows long, latest_rows long",
        [[0], [v0.count()], [t.read().count()]],
    )


@query("stats_skip_read")
def stats_skip_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log data skipping (Delta-style file pruning): three
    appends with disjoint o_orderkey ranges, then a range read through
    read_where. The min/max stats must prune the scan to ONE unit
    (asserted here — the driver sees the values, the assert sees the
    pruning) and the rows must equal a plain filtered read."""
    from component_delta_lake_writer_spark.sinks.unit_stats import prune_units

    t = _fresh_table(spark, "stats_skip_read", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    lo, hi = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    third = (hi - lo) // 3
    k = F.col("o_orderkey")
    t.write(o.filter(k < lo + third), mode="append")
    t.write(
        o.filter((k >= lo + third) & (k < lo + 2 * third)), mode="append"
    )
    t.write(o.filter(k >= lo + 2 * third), mode="append")
    cut = lo + 2 * third
    c = t.latest_commit()
    kept = prune_units(c.stats, c.data_units, f"o_orderkey >= {cut}")
    assert len(kept) == 1, f"expected 1 surviving unit, got {len(kept)}"
    return t.read_where(f"o_orderkey >= {cut}")


@query("restore_table")
def restore_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE … TO VERSION AS OF (Delta RESTORE): v0 holds the
    even orders, v1 appends the odd ones, restore(0) makes the latest
    snapshot v0's again — without erasing history (v1 stays
    addressable)."""
    t = _fresh_table(spark, "restore_table", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o.filter(F.col("o_orderkey") % 2 == 0), mode="overwrite")
    t.write(o.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    c = t.restore(0)
    assert c.properties["restored_from_version"] == 0
    assert t.read(version=1).count() > t.read().count()  # history intact
    return t.read()


@query("delete_where_table")
def delete_where_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM … WHERE (Delta DML): remove low-value open orders,
    read back the survivors. Copy-on-write with stats pruning."""
    t = _fresh_table(spark, "delete_where_table", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="overwrite")
    t.delete_where("o_orderstatus = 'O' AND o_totalprice < 100000.0")
    return t.read()


@query("update_where_table")
def update_where_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE … SET … WHERE (Delta DML): flag every returned-status
    order's priority and zero its price; other rows byte-identical."""
    t = _fresh_table(spark, "update_where_table", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="overwrite")
    t.update_where(
        "o_orderstatus = 'F'",
        {"o_totalprice": "0.0", "o_orderpriority": "'0-RETURNED'"},
    )
    return t.read()


@query("zorder_multidim_skip")
def zorder_multidim_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY (o_orderkey, o_custkey): after the
    interleaved rewrite, a filter on the TRAILING dimension alone must
    skip most files (asserted) and still return exactly the right
    rows (oracled)."""
    from component_delta_lake_writer_spark.sinks.unit_stats import prune_units

    t = _fresh_table(spark, "zorder_multidim_skip", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="overwrite")
    # target_file_rows=500 (was 100): the probe's semantics are
    # file-count-shaped, not rows-per-file-shaped — a 5% trailing-dim
    # band prunes ~90% of files at either size, and the pruning
    # assertion plus the oracled row set are unchanged. At 100 the
    # fixture wrote 150 tiny files whose per-file commit/stats cost
    # dominated the probe (~2x the whole rewrite job; r13 phase
    # profile: write 3.8 s + footer stats 0.6-2.0 s for 15k rows).
    t.optimize(target_file_rows=500, zorder_by=["o_orderkey", "o_custkey"])
    c = t.latest_commit()
    det = {p: r["stats"] for p, r in c.files[c.data_units[0]].items()}
    cmax = o.agg(F.max("o_custkey")).first()[0]
    cond = f"o_custkey < {cmax // 20}"  # 5% band on the TRAILING dim
    kept = prune_units(det, list(det), cond)
    assert len(kept) < len(det), "z-order must make o_custkey prunable"
    return t.read_where(cond)


@query("table_clone")
def table_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEEP CLONE: the clone is an independent snapshot — appends to
    the source afterwards must not leak into it (and the clone keeps
    the source's full history)."""
    import shutil as _sh

    base = _scratch("table_clone", sf_dir)
    _sh.rmtree(base, ignore_errors=True)
    t = ManagedTable(spark, os.path.join(base, "src"))
    o = load_table(spark, sf_dir, "orders")
    t.write(o.filter(F.col("o_orderkey") % 2 == 0), mode="overwrite")
    clone = t.clone_to(os.path.join(base, "fork"))
    t.write(o.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    assert t.read().count() > clone.read().count()  # independence
    assert clone.history()[0].action == "overwrite"  # history carried
    return clone.read()


@query("convert_to_delta")
def convert_to_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA (Delta's in-place parquet adoption): an
    existing parquet directory becomes a managed table with ZERO data
    rewritten — files are adopted by hardlink, stats come from one
    driver-side footer pass, and version 0 is a real ``_delta_log``
    commit. The probe proves zero-copy by inode
    identity between source and adopted files."""
    base = _scratch("convert_to_delta", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    raw = os.path.join(base, "raw")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 3 == 0
    )
    o.write.parquet(raw)
    t = ManagedTable(spark, os.path.join(base, "t"))
    c = t.convert_from_parquet(raw)
    assert c.action == "convert" and c.version == 0

    def _inodes(root: str) -> set:
        return {
            os.stat(os.path.join(dp, fn)).st_ino
            for dp, _d, fns in os.walk(root)
            for fn in fns
            if fn.endswith(".parquet")
        }

    adopted = _inodes(t._data_dir)
    assert adopted and adopted <= _inodes(raw), (
        "CONVERT must adopt files zero-copy (shared inodes)"
    )
    return t.read()


@query("shallow_clone")
def shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE (CREATE TABLE … SHALLOW CLONE src): an instant,
    zero-data-copy clone — parquet bytes are hardlinked, metadata is
    copied, and the two tables are fully independent afterwards.
    Unlike Delta's pointer-based shallow clone, VACUUM on either side
    can never break the other (the filesystem keeps shared bytes
    alive until the last link drops)."""
    import shutil as _sh

    base = _scratch("shallow_clone", sf_dir)
    _sh.rmtree(base, ignore_errors=True)
    t = ManagedTable(spark, os.path.join(base, "src"))
    o = load_table(spark, sf_dir, "orders")
    t.write(o.filter(F.col("o_orderkey") % 2 == 0), mode="overwrite")
    clone = t.clone_to(os.path.join(base, "fork"), shallow=True)
    t.write(o.filter(F.col("o_orderkey") % 2 == 1), mode="append")

    def _inodes(root: str) -> set:
        return {
            os.stat(os.path.join(dp, fn)).st_ino
            for dp, _d, fns in os.walk(root)
            for fn in fns
            if fn.endswith(".parquet")
        }

    cloned = _inodes(os.path.join(clone.path, "_data"))
    assert cloned and cloned <= _inodes(t._data_dir), (
        "shallow clone must hardlink data files, not copy"
    )
    assert t.read().count() > clone.read().count()  # independence
    assert clone.history()[0].action == "overwrite"  # history carried
    return clone.read()


@query("analyze_table_stats")
def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE … COMPUTE STATISTICS: a table adopted with NO
    STATISTICS has no min/max and cannot data-skip; ANALYZE refreshes
    the commit log's footer stats in a metadata-only commit and
    re-arms pruning. Both ends run through the SQL statement
    executor (the warehouse-script surface)."""
    from component_delta_lake_writer_spark.statements import (
        StatementExecutor,
    )

    base = _scratch("analyze_table_stats", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    raw = os.path.join(base, "raw")
    load_table(spark, sf_dir, "orders").write.parquet(raw)
    ex = StatementExecutor(spark, os.path.join(base, "wh"))
    ex.execute(f"CONVERT TO DELTA parquet.`{raw}` NO STATISTICS AS t")
    t = ex.table("t")
    c0 = t.latest_commit()
    st = next(iter(c0.stats.values()))
    assert set(st) == {"_rows"} and all(
        set(r["stats"]) == {"_rows"} for r in c0.files[c0.data_units[0]].values()
    ), "NO STATISTICS must record row counts only, per unit and file"
    ex.execute("ANALYZE TABLE t COMPUTE STATISTICS")
    c1 = t.latest_commit()
    assert c1.action == "analyze"
    assert c1.data_units == c0.data_units  # metadata-only
    assert "o_orderkey" in next(iter(c1.stats.values())), (
        "ANALYZE must record per-column min/max"
    )
    return t.read_where("o_orderkey % 5 = 0")


@query("mor_delete_read")
def mor_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read delete (Delta deletion vectors): the delete
    rewrites NO data units — readers skip the marked row positions —
    yet the read-back must equal the copy-on-write answer exactly."""
    t = _fresh_table(spark, "mor_delete_read", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(
        o.filter(F.col("o_orderkey") % 2 == 0),
        mode="append",
        primary_key=["o_orderkey"],
    )
    t.write(o.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    before_units = t.latest_commit().data_units
    c = t.delete_where(
        "o_orderstatus = 'F' AND o_orderkey % 3 = 0",
        strategy="merge-on-read",
    )
    assert c.data_units == before_units, "MOR delete must rewrite nothing"
    # one delete → one DV file, referenced by every file it touched
    assert c.deletion_vectors
    assert len({d["pathOrInlineDv"] for d in c.deletion_vectors.values()}) == 1
    return t.read()


@query("upsert_mor")
def upsert_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read upsert (the deletion-vector play, VERDICT r2 #3):
    the prior rows under the source's keys are marked in deletion
    vectors and the source appends as a new unit — the commit
    rewrites NOTHING, so write cost is O(source) not O(target), yet
    the read-back must equal the copy-on-write MERGE answer exactly.
    Covers both matched keys (updates) and brand-new keys (inserts
    past the max key)."""
    t = _fresh_table(spark, "upsert_mor", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        "o_orderstatus",
    )
    t.write(o, mode="overwrite", primary_key=["o_orderkey"])
    before_units = list(t.latest_commit().data_units)
    mx = o.agg(F.max("o_orderkey")).first()[0]
    upd = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "price", F.lit(-1.0)
    )
    new = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + F.lit(mx + 1)).alias("o_orderkey"),
        F.lit(999.0).alias("price"),
        "o_orderstatus",
    )
    c = t.upsert(
        upd.unionByName(new), ["o_orderkey"], strategy="merge-on-read"
    )
    assert c.data_units[: len(before_units)] == before_units, (
        "MOR upsert must rewrite nothing"
    )
    assert len(c.data_units) == len(before_units) + 1
    assert c.deletion_vectors, "MOR upsert over matched keys needs a DV"
    return t.read()


@query("alter_table_columns")
def alter_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD/DROP COLUMN (Delta instant schema DDL): both
    are metadata-only commits — existing units read the added column
    as typed NULL and stop presenting the dropped one, with zero data
    rewritten. The probe: add discount_pct, append a batch that fills
    it, drop o_orderpriority; the read-back is fully predicted by the
    oracle."""
    t = _fresh_table(spark, "alter_table_columns", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="overwrite")
    units_before = list(t.latest_commit().data_units)
    t.add_column("discount_pct", "double")
    assert t.latest_commit().data_units == units_before  # metadata-only
    t.write(o.withColumn("discount_pct", F.lit(5.0)), mode="append")
    t.drop_column("o_orderpriority")
    out = t.read()
    assert "o_orderpriority" not in out.columns
    return out


@query("rename_column_mapping")
def rename_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RENAME COLUMN via column mapping mode=name (Delta
    columnMapping): a metadata-only commit — zero data rewritten — the
    committed schema shows the new logical name while the parquet
    bytes keep the physical one. The probe proves the full contract:
    (1) rename is metadata-only, (2) an append AFTER the rename lands
    under the physical name so all units stay uniform, (3) data
    skipping still prunes under the LOGICAL name (stats are keyed
    physical), and (4) an external Delta reader resolves the log
    through delta.columnMapping.physicalName field metadata."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        read_delta_table,
    )

    t = _fresh_table(spark, "rename_column_mapping", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        "o_orderstatus",
    )
    t.write(o, mode="overwrite", primary_key=["o_orderkey"])
    units_before = list(t.latest_commit().data_units)
    t.rename_column("price", "amount")
    c = t.latest_commit()
    assert c.data_units == units_before, "rename must be metadata-only"
    assert c.column_mapping == {"amount": "price"}
    t.write(
        o.filter(F.col("o_orderkey") % 11 == 0).select(
            "o_orderkey",
            (F.col("price") * 2.0).alias("amount"),
            "o_orderstatus",
        ),
        mode="append",
    )
    # logical-name data skipping: every unit's amount-min is > 0, so
    # this must prune to the empty scan, not error on unknown names
    assert t.read_where("amount < -1.0").count() == 0
    # external reader path over the _delta_log (physicalName fields)
    ext = read_delta_table(spark, t.path)
    assert ext.columns == ["o_orderkey", "amount", "o_orderstatus"]
    back = t.read()
    assert ext.count() == back.count()
    return back


@query("auto_compact_small_files")
def auto_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-site auto-compaction (Delta autoCompact): with the
    property set, the 4th small append trips a partial OPTIMIZE that
    folds ONLY the small units (compact_small_units) as a follow-up
    commit — the small-files problem handled at the write site. The
    read-back must be byte-identical to plain appends."""
    t = _fresh_table(spark, "auto_compact_small_files", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    props = {"autoCompact": True, "autoCompact.minUnits": 4}
    t.write(o.filter(F.col("o_orderkey") % 5 == 0), mode="append",
            properties=props)
    for i in (1, 2, 3, 4):
        t.write(o.filter(F.col("o_orderkey") % 5 == i), mode="append")
    actions = [c.action for c in t.history()]
    assert "optimize" in actions, actions
    assert len(t.latest_commit().data_units) < 5
    return t.read()


@query("stream_table_source")
def stream_table_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The managed table as a streaming SOURCE
    (streaming.structured.stream_table_appends): two append commits
    drain through a parquet file stream into exactly the batch
    read-back; a table with a non-append commit in its history is
    refused, mirroring Delta's data-update streaming error."""
    from component_delta_lake_writer_spark.errors import UserException
    from component_delta_lake_writer_spark.streaming.structured import (
        stream_table_appends,
    )

    t = _fresh_table(spark, "stream_table_source", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        "o_orderstatus",
    )
    t.write(o.filter(F.col("o_orderkey") % 2 == 0), mode="append")
    t.write(o.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    out = stream_table_appends(
        spark, t.path, "stream_table_source_q", state_partitions=4
    )

    t2 = _fresh_table(spark, "stream_table_source_upd", sf_dir)
    t2.write(o, mode="overwrite", primary_key=["o_orderkey"])
    t2.upsert(o.limit(5).withColumn("price", F.lit(-1.0)), ["o_orderkey"])
    try:
        stream_table_appends(spark, t2.path, "stream_table_source_q2")
        raise AssertionError("non-append history must refuse to stream")
    except UserException:
        pass
    return out


@query("incremental_mv_refresh")
def incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized aggregate
    (sinks.materialized.IncrementalAggregate): per-status count +
    exact decimal revenue sum over orders. Full refresh at v0, then a
    MERGE batch (10% price updates + inserts past the max key) with
    CDF pre-images enabled, then a refresh that MUST take the
    incremental path (asserted) — and must equal the full recompute
    the oracle does from scratch. O(delta) maintenance, differentially
    proven."""
    from component_delta_lake_writer_spark.sinks.materialized import (
        IncrementalAggregate,
    )

    base = _scratch("incremental_mv_refresh", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    t = ManagedTable(spark, os.path.join(base, "orders_t"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        "o_orderstatus",
    )
    t.write(
        o,
        mode="overwrite",
        primary_key=["o_orderkey"],
        properties={
            "enableChangeDataFeed": True,
            "changeDataFeedPreImages": True,
        },
    )
    mv = IncrementalAggregate(
        spark,
        os.path.join(base, "mv"),
        t,
        ["o_orderstatus"],
        {"revenue": "price"},
    )
    assert mv.refresh() == "full"
    mx = o.agg(F.max("o_orderkey")).first()[0]
    upd = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "price", F.lit(-1.0)
    )
    new = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + F.lit(mx + 1)).alias("o_orderkey"),
        F.lit(999.0).alias("price"),
        "o_orderstatus",
    )
    t.upsert(upd.unionByName(new), ["o_orderkey"])
    mode = mv.refresh()
    assert mode == "incremental", f"expected incremental path, got {mode}"
    assert mv.refresh() == "noop"
    return mv.read().select(
        "o_orderstatus",
        "n_rows",
        F.col("revenue").cast("double").alias("revenue"),
    )


@query("identity_column_write")
def identity_column_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY (Delta identity columns, writer
    v6): two batches omitting the column receive the contiguous ranges
    1..n1 and n1+1..n1+n2 (the high-water mark rides the schema
    metadata between commits); providing a value on append is refused.
    The per-row values are assignment-order dependent, so the oracle
    checks the SET properties: distinct count, min/max, and the
    arithmetic-series sum."""
    from component_delta_lake_writer_spark.errors import UserException

    t = _fresh_table(spark, "identity_column_write", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    t.write(
        o.filter(F.col("o_orderkey") % 2 == 0),
        mode="overwrite",
        identity_columns={"row_id": {"start": 1, "step": 1}},
    )
    t.write(o.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    try:
        t.write(o.limit(5).withColumn("row_id", F.lit(0)), mode="append")
        raise AssertionError("explicit identity value must be refused")
    except UserException:
        pass
    back = t.read()
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("row_id").alias("n_ids"),
        F.min("row_id").alias("min_id"),
        F.max("row_id").alias("max_id"),
        F.sum("row_id").cast("long").alias("sum_ids"),
    )


@query("bloom_point_lookup")
def bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter data skipping (Delta bloom filter index): four
    appends each sliced by o_orderkey % 4 — every unit spans the FULL
    key range, so min/max stats prune nothing for a point lookup —
    then `o_orderkey = 7` must drop the three foreign units via their
    bloom sidecars before Spark plans the scan. The answer itself is
    oracle-checked; the pruning is asserted against the commit stats."""
    from component_delta_lake_writer_spark.sinks.bloom import (
        prune_units_bloom,
    )
    from component_delta_lake_writer_spark.sinks.unit_stats import (
        parse_conjuncts,
    )

    t = _fresh_table(spark, "bloom_point_lookup", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    props = {"bloom_filter_columns": ["o_orderkey"]}
    t.write(o.filter(F.col("o_orderkey") % 4 == 0), mode="overwrite",
            properties=props)
    for i in (1, 2, 3):
        t.write(o.filter(F.col("o_orderkey") % 4 == i), mode="append")
    c = t.latest_commit()
    assert len(c.data_units) == 4
    cond = "o_orderkey = 7"
    kept = prune_units_bloom(
        t._bloom_dir, c.stats, c.data_units, parse_conjuncts(cond)
    )
    assert len(kept) <= 2, f"bloom pruned nothing: {len(kept)} units kept"
    return t.read_where(cond)


@query("generated_columns_write")
def generated_columns_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS columns (Delta generated columns, writer
    v4): event_date = CAST(ts AS DATE) declared at create, used as the
    partition column. A batch omitting it gets it computed; a batch
    providing the correct value passes; a wrong value is refused
    atomically; the expression rides the schema as
    delta.generationExpression metadata so appends inherit it."""
    from component_delta_lake_writer_spark.errors import UserException
    from component_delta_lake_writer_spark.tables import ts_us_expr

    t = _fresh_table(spark, "generated_columns_write", sf_dir)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    t.write(
        e.filter(F.col("event_id") % 2 == 0),
        mode="overwrite",
        partition_by=["event_date"],
        generated_columns={"event_date": "CAST(ts AS DATE)"},
    )
    t.write(
        e.filter(F.col("event_id") % 2 == 1).withColumn(
            "event_date", F.expr("CAST(ts AS DATE)")
        ),
        mode="append",
    )
    try:
        t.write(
            e.limit(10).withColumn("event_date", F.expr("DATE'1999-01-01'")),
            mode="append",
        )
        raise AssertionError("wrong generated value must be refused")
    except UserException:
        pass
    back = t.read()
    return back.select(
        "event_id",
        ts_us_expr(dict(back.dtypes)["ts"]).alias("ts_us"),
        "user_id",
        "value",
        "event_date",
    )


@query("time_travel_timestamp")
def time_travel_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF time travel: reading at commit v0's own
    timestamp returns exactly the v0 snapshot even after a later
    append (resolution = latest commit at-or-before the instant)."""
    import time as _time

    t = _fresh_table(spark, "time_travel_timestamp", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o.filter(F.col("o_orderkey") % 2 == 0), mode="overwrite")
    ts0 = t.latest_commit().timestamp_ms
    _time.sleep(0.02)  # commits are ms-stamped; force v1 strictly later
    t.write(o.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    assert t.latest_commit().timestamp_ms > ts0
    return t.read(timestamp_ms=ts0)


@query("upsert_cdc_ordered")
def upsert_cdc_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replay with deterministic last-write-wins: three change
    rows per touched key in ONE batch; order_by=['ver'] must apply
    the ver=3 image (not an arbitrary duplicate), leaving every other
    row untouched."""
    t = _fresh_table(spark, "upsert_cdc_ordered", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.lit(0).cast("long").alias("ver"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    t.write(o, mode="overwrite", primary_key=["o_orderkey"])
    touched = o.filter(F.col("o_orderkey") % 5 == 0)
    changes = None
    for v in (1, 2, 3):
        batch = touched.select(
            "o_orderkey",
            F.lit(v).cast("long").alias("ver"),
            F.lit(float(v * 1000)).alias("price"),
        )
        changes = batch if changes is None else changes.unionByName(batch)
    t.upsert(changes, ["o_orderkey"], order_by=["ver"])
    return t.read()


@query("check_constraint_write")
def check_constraint_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD CONSTRAINT CHECK + write-time enforcement
    (Delta constraint protocol): the violating append must be refused
    atomically (table unchanged), a valid append must pass — surviving
    table is exactly base + valid batch."""
    from component_delta_lake_writer_spark.errors import UserException

    t = _fresh_table(spark, "check_constraint_write", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="overwrite")
    t.add_constraint("price_nonneg", "o_totalprice >= 0.0")
    try:
        t.write(
            o.withColumn("o_totalprice", F.lit(-1.0)), mode="append"
        )
        raise AssertionError("violating batch must be refused")
    except UserException:
        pass
    t.write(o, mode="append")
    return t.read()


@query("table_history")
def table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY: a fixed create → append → delete → restore →
    optimize sequence must log exactly these actions with these
    snapshot shapes (unit counts are design constants; row counts are
    relations of the input)."""
    t = _fresh_table(spark, "table_history", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o.filter(F.col("o_orderkey") % 2 == 0), mode="overwrite")  # v0
    t.write(o.filter(F.col("o_orderkey") % 2 == 1), mode="append")     # v1
    t.delete_where("o_orderkey % 4 = 1")                               # v2
    t.restore(1)                                                       # v3
    t.optimize()                                                       # v4
    rows = [
        (c.version, c.action, len(c.data_units)) for c in t.history()
    ]
    hist = local_relation(
        spark, "version int, action string, n_units int", list(zip(*rows))
    )
    final = t.read().count()
    return hist.withColumn("final_rows", F.lit(final).cast("long"))


@query("streaming_hourly_agg")
def streaming_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 streaming: availableNow drain of the events feed through the
    hourly rollup — must equal the batch result (same oracle as
    events_hourly_agg)."""
    from component_delta_lake_writer_spark.streaming import stream_hourly_rollup

    return stream_hourly_rollup(spark, sf_dir, state_partitions=8)


# the streaming result *is* SQL-checkable against the batch oracle
from component_delta_lake_writer_spark.plans.query_registry import ORACLES as _O

_O["streaming_hourly_agg"] = _O["events_hourly_agg"]

# The write probes' read-backs are deterministic relations of their
# inputs — so the ORACLE predicts the read-back, upgrading the write
# path from rows-only to full hash-checked round-trip fidelity
# (values survive parquet encode/decode + commit-log resolution
# byte-for-byte). Engine-internal fields (versions, unit counts) are
# design constants and pinned as literals.
from component_delta_lake_writer_spark.plans.query_registry import (
    _MERGE_SRC_SQL as _SRC,
)

_O["stats_skip_read"] = """
    WITH b AS (SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi
               FROM orders)
    SELECT o.* FROM orders o, b
    WHERE o.o_orderkey >= b.lo + 2 * ((b.hi - b.lo) // 3)
"""
_O["restore_table"] = "SELECT * FROM orders WHERE o_orderkey % 2 = 0"
_O["zorder_multidim_skip"] = """
    SELECT * FROM orders
    WHERE o_custkey < (SELECT MAX(o_custkey) // 20 FROM orders)
"""
_O["table_clone"] = "SELECT * FROM orders WHERE o_orderkey % 2 = 0"
_O["convert_to_delta"] = "SELECT * FROM orders WHERE o_orderkey % 3 = 0"
_O["shallow_clone"] = "SELECT * FROM orders WHERE o_orderkey % 2 = 0"
_O["analyze_table_stats"] = "SELECT * FROM orders WHERE o_orderkey % 5 = 0"
_O["mor_delete_read"] = """
    SELECT * FROM orders
    WHERE NOT COALESCE(o_orderstatus = 'F' AND o_orderkey % 3 = 0,
                       FALSE)
"""
_O["alter_table_columns"] = """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, CAST(NULL AS DOUBLE) AS discount_pct
    FROM orders
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, 5.0 AS discount_pct
    FROM orders
"""
_O["bloom_point_lookup"] = "SELECT * FROM orders WHERE o_orderkey = 7"
_O["auto_compact_small_files"] = "SELECT * FROM orders"
_O["replicate_table_cdf"] = """
    WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders),
    modified AS (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 7 = 0 THEN -1.0
             ELSE CAST(o_totalprice AS DOUBLE) END AS price,
        o_orderstatus
      FROM orders
      UNION ALL
      SELECT o.o_orderkey + m.mx + 1 AS o_orderkey, 999.0 AS price,
             o.o_orderstatus
      FROM orders o, m WHERE o.o_orderkey % 97 = 0
    )
    SELECT * FROM modified WHERE NOT (o_orderkey % 13 = 0)
"""
_O["sql_over_managed_view"] = """
    SELECT o_orderstatus, COUNT(*) AS n,
      CAST(ROUND(SUM(CAST(ROUND(
        CASE WHEN o_orderstatus = 'F' THEN 0.0
             ELSE CAST(o_totalprice AS DOUBLE) END, 6)
        AS DECIMAL(28,6))), 2) AS DOUBLE) AS cur_sum,
      CAST(ROUND(SUM(CAST(ROUND(CAST(o_totalprice AS DOUBLE), 6)
        AS DECIMAL(28,6))), 2) AS DOUBLE) AS v0_sum
    FROM orders GROUP BY o_orderstatus
"""
_O["show_partitions"] = """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag, l_linestatus
"""
_O["describe_detail"] = """
    SELECT CAST(1 AS BIGINT) AS version, CAST(2 AS BIGINT) AS num_units,
      (SELECT COUNT(*) FROM orders) AS n_rows,
      'o_orderstatus' AS partition_by, 'o_orderkey' AS primary_key,
      CAST(0 AS BIGINT) AS pending_deletes
"""
_O["export_jsonl_roundtrip"] = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS price
    FROM orders
"""
_O["stream_mv_rollup"] = """
    SELECT event_type, COUNT(*) AS n_rows,
      CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
        AS total_value
    FROM events GROUP BY event_type
"""
_O["stream_table_source"] = """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
           o_orderstatus
    FROM orders
"""
_O["incremental_mv_refresh"] = """
    WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders),
    modified AS (
      SELECT o_orderstatus,
        CASE WHEN o_orderkey % 7 = 0 THEN -1.0
             ELSE CAST(o_totalprice AS DOUBLE) END AS price
      FROM orders
      UNION ALL
      SELECT o_orderstatus, 999.0 AS price
      FROM orders, m WHERE o_orderkey % 97 = 0
    )
    SELECT o_orderstatus, COUNT(*) AS n_rows,
      CAST(SUM(CAST(ROUND(price, 6) AS DECIMAL(28,6))) AS DOUBLE)
        AS revenue
    FROM modified GROUP BY o_orderstatus
"""
_O["identity_column_write"] = """
    SELECT COUNT(*) AS n_rows, COUNT(*) AS n_ids,
      CAST(1 AS BIGINT) AS min_id,
      CAST(COUNT(*) AS BIGINT) AS max_id,
      CAST(COUNT(*) * (COUNT(*) + 1) / 2 AS BIGINT) AS sum_ids
    FROM orders
"""
_O["generated_columns_write"] = """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, value,
           CAST(ts AS DATE) AS event_date
    FROM events
"""
_O["rename_column_mapping"] = """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS amount,
           o_orderstatus
    FROM orders
    UNION ALL
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) * 2.0 AS amount,
           o_orderstatus
    FROM orders WHERE o_orderkey % 11 = 0
"""
_O["time_travel_timestamp"] = (
    "SELECT * FROM orders WHERE o_orderkey % 2 = 0"
)
_O["upsert_mor"] = """
    WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders)
    SELECT o_orderkey,
      CASE WHEN o_orderkey % 7 = 0 THEN -1.0
           ELSE CAST(o_totalprice AS DOUBLE) END AS price,
      o_orderstatus
    FROM orders
    UNION ALL
    SELECT o.o_orderkey + m.mx + 1 AS o_orderkey, 999.0 AS price,
           o.o_orderstatus
    FROM orders o, m WHERE o.o_orderkey % 97 = 0
"""
_O["upsert_cdc_ordered"] = """
    SELECT o_orderkey,
      CAST(CASE WHEN o_orderkey % 5 = 0 THEN 3 ELSE 0 END AS BIGINT)
        AS ver,
      CASE WHEN o_orderkey % 5 = 0 THEN 3000.0
           ELSE CAST(o_totalprice AS DOUBLE) END AS price
    FROM orders
"""
_O["check_constraint_write"] = (
    "SELECT * FROM orders UNION ALL SELECT * FROM orders"
)
_O["table_history"] = """
    SELECT CAST(v AS INTEGER) AS version, a AS action,
      CAST(n AS INTEGER) AS n_units,
      (SELECT COUNT(*) FROM orders) AS final_rows
    FROM (VALUES (0, 'overwrite', 1), (1, 'append', 2), (2, 'delete', 1),
                 (3, 'restore', 2), (4, 'optimize', 1)) AS t(v, a, n)
"""
_O["delete_where_table"] = """
    SELECT * FROM orders
    WHERE NOT COALESCE(o_orderstatus = 'O' AND o_totalprice < 100000.0,
                       FALSE)
"""
_O["update_where_table"] = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
      CASE WHEN o_orderstatus = 'F' THEN 0.0 ELSE o_totalprice END
        AS o_totalprice,
      o_orderdate,
      CASE WHEN o_orderstatus = 'F' THEN '0-RETURNED'
           ELSE o_orderpriority END AS o_orderpriority
    FROM orders
"""
_O["write_error_mode"] = "SELECT * FROM orders"
_O["write_append"] = (
    "SELECT * FROM orders UNION ALL SELECT * FROM orders"
)
_O["write_overwrite"] = "SELECT * FROM orders WHERE o_orderkey % 2 = 0"
_O["partitioned_write"] = "SELECT * FROM lineitem WHERE l_returnflag = 'R'"
_O["schema_merge"] = """
    SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice
    FROM orders
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
"""
_O["upsert_write"] = f"""
    WITH src AS ({_SRC})
    SELECT * FROM src
    UNION ALL
    SELECT t.* FROM orders t
    WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.o_orderkey = t.o_orderkey)
"""
_O["time_travel_read"] = """
    SELECT 0 AS version,
      (SELECT COUNT(*) FROM orders) AS v0_rows,
      (SELECT COUNT(*) FROM orders) + 10 AS latest_rows
"""
_O["optimize_compact"] = """
    SELECT 3 AS units_before, 1 AS units_after, 3 AS units_vacuumed,
      (SELECT COUNT(*) FROM orders) AS n_rows
"""

_O["create_table_ddl"] = """
    SELECT CAST(0 AS BIGINT) AS version,
      'o_orderkey' AS primary_key,
      'o_orderstatus' AS partition_by,
      'o_orderkey' AS pk_property,
      (SELECT COUNT(*) FROM orders) AS n_rows
"""


@query("merge_with_delete")
def merge_with_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with WHEN MATCHED THEN DELETE (CDC tombstones): one
    batch carrying deletes (keys % 10 = 0), updates (% 10 = 5,
    price → -1) and inserts (+10^9 keys); absent-key tombstones are
    no-ops."""
    from component_delta_lake_writer_spark.operators.merge import (
        merge_upsert_with_delete,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    k = F.col("o_orderkey")
    batch = (
        o.filter(k % 10 == 0).withColumn("_op", F.lit("D"))
        .unionByName(
            o.filter(k % 10 == 5)
            .withColumn("price", F.lit(-1.0))
            .withColumn("_op", F.lit("U"))
        )
        .unionByName(
            o.orderBy("o_orderkey").limit(7)
            .withColumn("o_orderkey", k + 10**9)
            .withColumn("_op", F.lit("U"))
        )
        .unionByName(  # tombstone for keys the target never had
            o.orderBy("o_orderkey").limit(3)
            .withColumn("o_orderkey", k + 2 * 10**9)
            .withColumn("_op", F.lit("D"))
        )
    )
    target = o.withColumn("_op", F.lit("U"))
    merged = merge_upsert_with_delete(
        target, batch, ["o_orderkey"], lambda s: s["_op"] == "D"
    )
    return merged.drop("_op")


_O["merge_with_delete"] = """
    WITH base AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders
    )
    SELECT o_orderkey,
      CASE WHEN o_orderkey % 10 = 5 THEN -1.0 ELSE price END AS price
    FROM base WHERE o_orderkey % 10 <> 0
    UNION ALL
    SELECT o_orderkey + 1000000000 AS o_orderkey, price
    FROM (SELECT * FROM base ORDER BY o_orderkey LIMIT 7)
"""


@query("replicate_table_cdf")
def replicate_table_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed replication (sinks.replicate): a downstream copy
    syncs by applying only the deltas in commit order — full copy on
    first sync, then an INCREMENTAL replay of a MERGE batch followed
    by a DELETE (the delete images ride the CDF as 'delete' rows and
    apply to the replica as a deleted-key set), noop when
    current; the replica must equal the source exactly."""
    from component_delta_lake_writer_spark.sinks.replicate import replicate

    base = _scratch("replicate_table_cdf", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src = ManagedTable(spark, os.path.join(base, "src"))
    dst = ManagedTable(spark, os.path.join(base, "dst"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        "o_orderstatus",
    )
    src.write(
        o,
        mode="overwrite",
        primary_key=["o_orderkey"],
        properties={"enableChangeDataFeed": True},
    )
    assert replicate(src, dst) == "full"
    assert replicate(src, dst) == "noop"
    mx = o.agg(F.max("o_orderkey")).first()[0]
    upd = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "price", F.lit(-1.0)
    )
    new = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + F.lit(mx + 1)).alias("o_orderkey"),
        F.lit(999.0).alias("price"),
        "o_orderstatus",
    )
    src.upsert(upd.unionByName(new), ["o_orderkey"])
    src.delete_where("o_orderkey % 13 = 0")
    mode = replicate(src, dst)
    assert mode == "incremental", mode
    assert replicate(src, dst) == "noop"
    return dst.read()


@query("sql_over_managed_view")
def sql_over_managed_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The managed table on the spark.sql surface: snapshot and
    time-travel views registered with create_or_replace_view, queried
    with plain SQL including a join between the two versions — the
    'switch your warehouse queries over' story."""
    t = _fresh_table(spark, "sql_over_managed_view", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        "o_orderstatus",
    )
    t.write(o, mode="overwrite", primary_key=["o_orderkey"])
    t.update_where("o_orderstatus = 'F'", {"price": "0.0"})
    t.create_or_replace_view("mt_orders")
    t.create_or_replace_view("mt_orders_v0", version=0)
    return spark.sql(
        """
        SELECT cur.o_orderstatus,
               COUNT(*) AS n,
               ROUND(SUM(CAST(ROUND(cur.price, 6) AS DECIMAL(28,6))), 2)
                 AS cur_sum,
               ROUND(SUM(CAST(ROUND(v0.price, 6) AS DECIMAL(28,6))), 2)
                 AS v0_sum
        FROM mt_orders cur JOIN mt_orders_v0 v0
          ON cur.o_orderkey = v0.o_orderkey
        GROUP BY cur.o_orderstatus
        """
    ).select(
        "o_orderstatus",
        "n",
        F.col("cur_sum").cast("double").alias("cur_sum"),
        F.col("v0_sum").cast("double").alias("v0_sum"),
    )


@query("show_partitions")
def show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW PARTITIONS parity: the live partition values of a
    partitioned snapshot with per-partition row counts — computed from
    the snapshot read (partition pruning applies), matching the
    DISTINCT the oracle runs on the source."""
    t = _fresh_table(spark, "show_partitions", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    t.write(
        li.select("l_orderkey", "l_returnflag", "l_linestatus"),
        mode="overwrite",
        partition_by=["l_returnflag", "l_linestatus"],
    )
    return (
        t.read()
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query("describe_detail")
def describe_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE DETAIL (ManagedTable.detail): snapshot metadata with
    the row count taken from commit stats — no data scan. The
    deterministic fields (version, unit count, stats-row-count,
    partition/PK columns, pending MOR deletes) are the oracle-checked
    row; file counts/bytes vary with parallelism and are only
    sanity-asserted."""
    t = _fresh_table(spark, "describe_detail", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o.filter(F.col("o_orderkey") % 2 == 0), mode="overwrite",
            partition_by=["o_orderstatus"], primary_key=["o_orderkey"])
    t.write(o.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    d = t.detail()
    assert d["num_files"] >= d["num_units"] >= 2
    assert d["size_bytes"] > 0
    assert not d["column_mapping_active"]
    return local_relation(
        spark,
        "version long, num_units long, n_rows long, partition_by string,"
        " primary_key string, pending_deletes long",
        [
            [d["version"]],
            [d["num_units"]],
            [d["num_rows_from_stats"]],
            [",".join(d["partition_columns"])],
            [",".join(d["primary_key"])],
            [d["num_deletion_vectors"]],
        ],
    )


@query("export_jsonl_roundtrip")
def export_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export surface (sinks.export): managed table → gzipped JSONL
    slices → read back with an explicit schema must equal the table
    exactly (the reverse of the reference's CSV→Delta direction;
    sliced line files are what a trainer or the Keboola staging layer
    consumes). Slice count and the returned row receipt are asserted."""
    import glob

    from component_delta_lake_writer_spark.sinks.export import export_jsonl

    base = _scratch("export_jsonl_roundtrip", sf_dir)
    t = ManagedTable(spark, os.path.join(base, "table"))
    shutil.rmtree(t.path, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    t.write(o, mode="overwrite")
    dest = os.path.join(base, "jsonl_out")
    n = export_jsonl(t, dest, slices=4, compression="gzip")
    assert n == o.count()
    parts = glob.glob(os.path.join(dest, "part-*.json.gz"))
    assert len(parts) == 4, parts
    import json as _json

    with open(os.path.join(dest, "_manifest.json")) as fh:
        man = _json.load(fh)
    assert man["n_rows"] == n and len(man["files"]) == 4
    assert all(f["bytes"] > 0 for f in man["files"])
    back = spark.read.schema(t.read().schema).json(
        os.path.join(dest, "part-*.json.gz")
    )
    return back


@query("stream_mv_rollup")
def stream_mv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ETL + serving rollup (streaming.sink.
    write_stream_with_mv): the events feed drains in 4 micro-batches
    (one file per trigger); every batch commits atomically and the
    per-type materialized aggregate refreshes from the change feed —
    full on batch 1, INCREMENTAL from batch 2 on (asserted). The final
    materialization must equal the from-scratch batch rollup."""
    from component_delta_lake_writer_spark.sinks.materialized import (
        IncrementalAggregate,
    )
    from component_delta_lake_writer_spark.streaming.sink import (
        write_stream_with_mv,
    )

    base = _scratch("stream_mv_rollup", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    e.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    t = ManagedTable(spark, os.path.join(base, "t"))
    mv = IncrementalAggregate(
        spark, os.path.join(base, "mv"), t, ["event_type"],
        {"total_value": "value"},
    )
    modes: list[str] = []
    q = write_stream_with_mv(
        stream, t, mv,
        checkpoint_dir=os.path.join(base, "_ckpt"),
        on_refresh=modes.append,
    )
    q.awaitTermination()
    assert len(modes) == 4 and modes[0] == "full", modes
    assert set(modes[1:]) == {"incremental"}, modes
    return mv.read().select(
        "event_type",
        "n_rows",
        F.col("total_value").cast("double").alias("total_value"),
    )


@query("replace_where_backfill")
def replace_where_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-scoped overwrite (Delta replaceWhere, the
    idempotent-backfill primitive): the table is laid down in two
    date-disjoint units; one month is re-loaded with corrected prices
    through replace_where. The out-of-window unit must CARRY BY
    REFERENCE (asserted on the commit's data_units), enforcement must
    reject an out-of-predicate batch, and the read-back must equal
    untouched-rows UNION corrected-window."""
    from component_delta_lake_writer_spark.errors import UserException

    t = _fresh_table(spark, "replace_where_backfill", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    split = F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    t.write(o.filter(split), mode="overwrite")
    t.write(o.filter(~split), mode="append")
    old_units = set(t.latest_commit().data_units)
    cond = (
        "o_orderdate >= TIMESTAMP '1999-06-01 00:00:00' AND "
        "o_orderdate < TIMESTAMP '1999-07-01 00:00:00'"
    )
    batch = o.filter(F.expr(cond)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2.0
    )
    try:
        # one out-of-window row must trip Delta's constraint check
        t.replace_where(o.filter(~F.expr(cond)).limit(1), cond)
        raise AssertionError("enforcement must reject out-of-predicate rows")
    except UserException:
        pass
    t.replace_where(batch, cond)
    new_units = set(t.latest_commit().data_units)
    carried = old_units & new_units
    assert carried, "stats pruning must carry the out-of-window unit"
    return t.read()


_O["replace_where_backfill"] = """
    SELECT * FROM orders
    WHERE NOT COALESCE(
      o_orderdate >= TIMESTAMP '1999-06-01 00:00:00' AND
      o_orderdate <  TIMESTAMP '1999-07-01 00:00:00', FALSE)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice * 2.0 AS o_totalprice, o_orderdate,
           o_orderpriority
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-06-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-07-01 00:00:00'
"""


@query("dynamic_partition_overwrite")
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (partitionOverwriteMode=dynamic):
    a status-partitioned table takes a reload batch touching only
    status 'O'; the other partitions' rows must survive untouched and
    the 'O' partition must hold exactly the new batch."""
    t = _fresh_table(spark, "dynamic_partition_overwrite", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="overwrite", partition_by=["o_orderstatus"])
    batch = o.filter(F.col("o_orderstatus") == "O").withColumn(
        "o_orderpriority", F.lit("9-RELOADED")
    )
    t.overwrite_partitions(batch)
    return t.read()


_O["dynamic_partition_overwrite"] = """
    SELECT * FROM orders WHERE o_orderstatus <> 'O'
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, '9-RELOADED' AS o_orderpriority
    FROM orders WHERE o_orderstatus = 'O'
""" 


@query("column_default_values")
def column_default_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column DEFAULT values (Delta defaultColumns writer feature,
    CURRENT_DEFAULT field metadata): ADD COLUMN … DEFAULT leaves
    existing rows NULL (defaults are insert-time, never backfill); an
    append omitting the column gets the default computed; an append
    providing it wins; SET DEFAULT changes only later inserts."""
    t = _fresh_table(spark, "column_default_values", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    t.write(o.filter(k % 3 == 0), mode="overwrite")
    t.add_column("src", "string", default="'reload-a'")
    t.write(o.filter(k % 3 == 1), mode="append")
    t.set_column_default("src", "'reload-b'")
    t.write(
        o.filter(k % 3 == 2).withColumn("src", F.lit("explicit")),
        mode="append",
    )
    t.write(o.filter(k % 3 == 2), mode="append")
    return t.read()


_O["column_default_values"] = """
    SELECT o_orderkey, o_totalprice, NULL AS src
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'reload-a' AS src
    FROM orders WHERE o_orderkey % 3 = 1
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'explicit' AS src
    FROM orders WHERE o_orderkey % 3 = 2
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'reload-b' AS src
    FROM orders WHERE o_orderkey % 3 = 2
"""


@query("idempotent_txn_append")
def idempotent_txn_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent writer transactions (Delta txn/setTransaction): the
    same (appId, version) batch applied twice lands ONCE; the
    watermark survives unrelated commits; a later version applies; an
    upsert replay under a consumed txn is a no-op. The log carries
    the setTransaction actions (asserted in
    tests/test_managed_table.py::test_txn_idempotent_writes)."""
    t = _fresh_table(spark, "idempotent_txn_append", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    t.write(o.filter(k % 4 != 3), mode="overwrite",
            primary_key=["o_orderkey"])
    batch = o.filter(k % 4 == 3)
    t.write(batch, mode="append", txn=("loader", 1))
    t.write(batch, mode="append", txn=("loader", 1))  # replay: no-op
    t.delete_where("o_orderkey % 10 = 0")             # unrelated commit
    t.write(batch, mode="append", txn=("loader", 1))  # still a no-op
    up = batch.withColumn("o_totalprice", F.lit(-1.0))
    t.upsert(up, ["o_orderkey"], txn=("merger", 1))
    t.upsert(batch, ["o_orderkey"], txn=("merger", 1))  # replay: no-op
    return t.read()


_O["idempotent_txn_append"] = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
      CASE WHEN o_orderkey % 4 = 3 THEN -1.0 ELSE o_totalprice END
        AS o_totalprice,
      o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderkey % 10 <> 0
"""


@query("copy_into_idempotent")
def copy_into_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO (file-level idempotent ingest): a landing zone of
    CSV slices loads once; re-running the same COPY INTO ingests
    nothing; a later slice loads alone. Read-back must equal orders
    exactly once."""
    base = _scratch("copy_into_idempotent", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    land = os.path.join(base, "landing")
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    (o.filter(k % 3 != 2).coalesce(2).write
     .option("header", "true").option("timestampNTZFormat",
                                      "yyyy-MM-dd HH:mm:ss")
     .csv(land))
    t = ManagedTable(spark, os.path.join(base, "t"))
    schema = o.schema
    pat = os.path.join(land, "*.csv")
    opts = {"header": "true",
            "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss"}
    v1 = t.copy_into(pat, file_format="csv", schema=schema, options=opts)
    v2 = t.copy_into(pat, file_format="csv", schema=schema, options=opts)
    assert v2.version == v1.version, "re-run must be a no-op"
    # late-arriving slice: only it loads on the next run
    (o.filter(k % 3 == 2).coalesce(1).write.mode("append")
     .option("header", "true").option("timestampNTZFormat",
                                      "yyyy-MM-dd HH:mm:ss")
     .csv(land))
    t.copy_into(pat, file_format="csv", schema=schema, options=opts)
    return t.read()


_O["copy_into_idempotent"] = """
    SELECT * FROM orders
"""


@query("widen_column_types")
def widen_column_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type widening (Delta typeWidening, metadata-only): the table is
    created with int/float columns, widened to bigint/double with NO
    rewrite (asserted: data_units unchanged), then an append lands
    values only the wide types can hold. The read must serve old
    narrow pages and new wide pages under one schema."""
    t = _fresh_table(spark, "widen_column_types", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").cast("int").alias("k"),
        F.col("o_totalprice").cast("float").alias("price"),
    )
    t.write(base, mode="overwrite")
    units = set(t.latest_commit().data_units)
    t.widen_column_type("k", "bigint")
    t.widen_column_type("price", "double")
    assert set(t.latest_commit().data_units) == units, "must not rewrite"
    t.write(
        local_relation(
            spark,
            "k long, price double",
            [[5_000_000_000, 6_000_000_000], [0.5, 1.5]],
        ),
        mode="append",
    )
    return t.read()


_O["widen_column_types"] = """
    SELECT CAST(CAST(o_orderkey AS INTEGER) AS BIGINT) AS k,
           CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS price
    FROM orders
    UNION ALL
    SELECT * FROM (VALUES (5000000000, 0.5), (6000000000, 1.5))
      AS v(k, price)
"""


@query("merge_not_matched_by_source")
def merge_not_matched_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE … WHEN NOT MATCHED BY SOURCE AND scope THEN DELETE (the
    scoped full-sync): an authoritative extract of OPEN orders
    (o_orderstatus='O', keys % 7 != 0 — some dropped, prices zeroed)
    syncs the table; open orders absent from the extract are deleted,
    non-open rows survive untouched. Unit carry for disjoint slices is
    asserted in tests/test_managed_table.py."""
    t = _fresh_table(spark, "merge_not_matched_by_source", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="overwrite", primary_key=["o_orderkey"])
    extract = (
        o.filter("o_orderstatus = 'O' AND o_orderkey % 7 != 0")
        .withColumn("o_totalprice", F.lit(0.0))
    )
    t.upsert_full_sync(extract, ["o_orderkey"],
                       delete_scope="o_orderstatus = 'O'")
    return t.read()


_O["merge_not_matched_by_source"] = """
    SELECT * FROM orders WHERE o_orderstatus <> 'O'
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, 0.0 AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'O' AND o_orderkey % 7 <> 0
"""


@query("set_tblproperties_cdf")
def set_tblproperties_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE SET/UNSET TBLPROPERTIES as a standalone metadata
    commit: CDF is toggled ON for one upsert (whose change rows must
    exist) and OFF for the next (whose change rows must not), plus a
    metadata-only COUNT(*) check — returns the surviving rows, fully
    oracled."""
    t = _fresh_table(spark, "set_tblproperties_cdf", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="overwrite", primary_key=["o_orderkey"])
    assert t.row_count() == o.count()  # metadata-only count
    t.set_properties({"enableChangeDataFeed": True})
    b1 = o.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    t.upsert(b1, ["o_orderkey"])
    on = t.latest_commit().cdc_files
    assert on and all(os.path.isfile(os.path.join(t.path, f)) for f in on)
    t.set_properties(unset=["enableChangeDataFeed"])
    b2 = o.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "o_totalprice", F.lit(-2.0)
    )
    t.upsert(b2, ["o_orderkey"])
    assert not t.latest_commit().cdc_files
    return t.read()


_O["set_tblproperties_cdf"] = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
      CASE WHEN o_orderkey % 13 = 0 THEN -2.0
           WHEN o_orderkey % 11 = 0 THEN -1.0
           ELSE o_totalprice END AS o_totalprice,
      o_orderdate, o_orderpriority
    FROM orders
"""


@query("partition_layout_evolution")
def partition_layout_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition layout evolution on overwrite (Delta allows an
    overwrite to re-partition the table): v0 is unpartitioned, v1
    overwrites partitioned by o_orderstatus (pruned reads now work),
    while time travel to v0 still reads the old layout."""
    t = _fresh_table(spark, "partition_layout_evolution", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    t.write(o, mode="overwrite")
    t.write(o, mode="overwrite", partition_by=["o_orderstatus"])
    assert t.latest_commit().partition_by == ["o_orderstatus"]
    assert t.read(version=0).count() == o.count()  # old layout readable
    return t.read_where("o_orderstatus = 'F'")


_O["partition_layout_evolution"] = """
    SELECT * FROM orders WHERE o_orderstatus = 'F'
"""


@query("statement_exec_native_job")
def statement_exec_native_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's native-table job replayed STATEMENT FOR
    STATEMENT (src/component.py:135-260): CREATE OR REPLACE stage
    (all _cN STRING) -> COPY INTO stage from a CSV landing dir ->
    CREATE TABLE IF NOT EXISTS target (typed, PK) USING DELTA ->
    MERGE INTO target USING stage with CAST in ON/UPDATE/INSERT ->
    DROP stage. Then a second incremental run of the same script with
    changed rows. The executor parses the reference's statement
    shapes and dispatches to the managed-table engine."""
    from component_delta_lake_writer_spark.statements import (
        StatementExecutor,
    )

    base = _scratch("statement_exec_native_job", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    land = os.path.join(base, "landing")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    (o.filter(k % 2 == 0)
     .selectExpr("CAST(o_orderkey AS STRING) AS _c0",
                 "o_orderstatus AS _c1",
                 "CAST(o_totalprice AS STRING) AS _c2")
     .coalesce(1).write.csv(land))
    ex = StatementExecutor(spark, os.path.join(base, "wh"))
    script = """
    CREATE OR REPLACE TABLE stg_123_1 (_c0 STRING, _c1 STRING, _c2 STRING);
    COPY INTO stg_123_1
    FROM '{land}/'
    FILEFORMAT = CSV
    FORMAT_OPTIONS (
      'header' = 'false',
      'inferSchema' = 'false',
      'mergeSchema' = 'false'
    );
    CREATE TABLE IF NOT EXISTS main.sales.orders
      (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE,
       PRIMARY KEY (o_orderkey)) USING DELTA;
    MERGE INTO main.sales.orders AS target
    USING stg_123_1 AS source
    ON target.o_orderkey = CAST(source._c0 AS BIGINT)
    WHEN MATCHED THEN
      UPDATE SET target.o_orderkey = CAST(source._c0 AS BIGINT),
                 target.o_orderstatus = CAST(source._c1 AS STRING),
                 target.o_totalprice = CAST(source._c2 AS DOUBLE)
    WHEN NOT MATCHED THEN
      INSERT (o_orderkey, o_orderstatus, o_totalprice)
      VALUES (CAST(source._c0 AS BIGINT), CAST(source._c1 AS STRING),
              CAST(source._c2 AS DOUBLE));
    DROP TABLE IF EXISTS stg_123_1;
    """.format(land=land)
    ex.execute_script(script)
    # incremental run: odd keys arrive, even-key %10==0 prices change
    land2 = os.path.join(base, "landing2")
    inc = o.filter(k % 2 == 1).unionByName(
        o.filter((k % 2 == 0) & (k % 10 == 0)).withColumn(
            "o_totalprice", F.lit(0.0)
        )
    )
    (inc.selectExpr("CAST(o_orderkey AS STRING) AS _c0",
                    "o_orderstatus AS _c1",
                    "CAST(o_totalprice AS STRING) AS _c2")
     .coalesce(1).write.csv(land2))
    ex.execute_script(script.replace(land, land2))
    return ex.execute("SELECT * FROM main.sales.orders")


_O["statement_exec_native_job"] = """
    SELECT o_orderkey, o_orderstatus,
      CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 10 = 0 THEN 0.0
           ELSE o_totalprice END AS o_totalprice
    FROM orders
"""


@query("statement_time_travel_cdf")
def statement_time_travel_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statement-level time travel + CDF TVF: a DELETE runs through
    the executor, then one SELECT joins `VERSION AS OF` (pre-delete
    snapshot) against the current table to recover exactly the
    deleted keys, unioned with the delete's own table_changes() rows
    — both surfaces must agree with the oracle."""
    from component_delta_lake_writer_spark.statements import (
        StatementExecutor,
    )

    base = _scratch("statement_time_travel_cdf", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    ex = StatementExecutor(spark, os.path.join(base, "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    ex.execute(
        "CREATE OR REPLACE TABLE wh.orders "
        "(o_orderkey BIGINT, o_orderstatus STRING, price DOUBLE, "
        "PRIMARY KEY (o_orderkey)) USING DELTA"
    )
    o.createOrReplaceTempView("src_orders")
    ex.execute("INSERT INTO wh.orders SELECT * FROM src_orders")
    ex.execute(
        "ALTER TABLE wh.orders SET TBLPROPERTIES "
        "('enableChangeDataFeed' = 'true')"
    )
    ex.execute("DELETE FROM wh.orders WHERE o_orderkey % 5 = 0")
    v = ex.table("wh.orders").latest_commit().version
    return ex.execute(f"""
        SELECT old.o_orderkey, 'travel' AS via
        FROM wh.orders VERSION AS OF 1 old
        LEFT ANTI JOIN wh.orders ON old.o_orderkey = wh.orders.o_orderkey
        UNION ALL
        SELECT o_orderkey, 'cdf' AS via
        FROM table_changes('wh.orders', {v}, {v})
        WHERE _change_type = 'delete'
    """)


_O["statement_time_travel_cdf"] = """
    SELECT o_orderkey, 'travel' AS via FROM orders WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT o_orderkey, 'cdf' AS via FROM orders WHERE o_orderkey % 5 = 0
"""


@query("pipeline_lakehouse_etl")
def pipeline_lakehouse_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composite for the idempotency wave — one coherent
    lakehouse ETL story: CREATE via statement -> COPY INTO from a CSV
    landing zone (re-run: file-level no-op) -> idempotent txn append
    (replayed: no-op) -> predicate-scoped replaceWhere backfill ->
    metadata-only type widening -> ADD COLUMN ... DEFAULT -> final
    append picking up the default -> read back through the SQL
    surface. Every stage is idempotence- or metadata-checked inline;
    the final state is fully oracled."""
    from component_delta_lake_writer_spark.statements import (
        StatementExecutor,
    )

    base = _scratch("pipeline_lakehouse_etl", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    land = os.path.join(base, "landing")
    ex = StatementExecutor(spark, os.path.join(base, "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("float").alias("price"),
    )
    # landing zone: statuses F and O as separate slices
    (o.filter("status = 'F'")
     .selectExpr("CAST(k AS STRING) _c0", "status _c1",
                 "CAST(price AS STRING) _c2")
     .coalesce(1).write.csv(os.path.join(land, "f")))
    (o.filter("status = 'O'")
     .selectExpr("CAST(k AS STRING) _c0", "status _c1",
                 "CAST(price AS STRING) _c2")
     .coalesce(1).write.csv(os.path.join(land, "o")))
    ex.execute(
        "CREATE OR REPLACE TABLE lake.orders "
        "(k BIGINT, status STRING, price FLOAT, PRIMARY KEY (k)) "
        "USING DELTA"
    )
    t = ex.table("lake.orders")
    pat = [os.path.join(land, "f", "*.csv"),
           os.path.join(land, "o", "*.csv")]
    import json as _json

    from pyspark.sql import types as T

    schema = T.StructType.fromJson(
        _json.loads(t.latest_commit().schema_json)
    )
    t.copy_into(pat, file_format="csv", schema=schema)
    v = t.latest_commit().version
    assert t.copy_into(pat, file_format="csv").version == v  # no-op
    # idempotent incremental: status P rows arrive twice under one txn
    p_batch = o.filter("status = 'P'")
    t.write(p_batch, mode="append", txn=("loader", 1))
    t.write(p_batch, mode="append", txn=("loader", 1))  # replay no-op
    # backfill: F-status rows reload with zeroed price
    t.replace_where(
        o.filter("status = 'F'").withColumn("price", F.lit(0.0).cast("float")),
        "status = 'F'",
    )
    # metadata-only widening, then a DEFAULT column
    units = set(t.latest_commit().data_units)
    t.widen_column_type("price", "double")
    assert set(t.latest_commit().data_units) == units
    t.add_column("batch_tag", "string", default="'v2'")
    t.write(
        o.filter("status NOT IN ('F','O','P')")
        .withColumn("price", F.col("price").cast("double")),
        mode="append",
    )
    assert t.row_count() == o.count()  # metadata-only count agrees
    return ex.execute("SELECT * FROM lake.orders")


_O["pipeline_lakehouse_etl"] = """
    WITH src AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS price
      FROM orders
    )
    SELECT k, status,
      CASE WHEN status = 'F' THEN 0.0 ELSE price END AS price,
      CASE WHEN status NOT IN ('F','O','P') THEN 'v2' END AS batch_tag
    FROM src
"""


@query("optimize_where_scoped")
def optimize_where_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE t WHERE … (scoped compaction, Delta parity): the hot
    o_orderkey range — fragmented across three appends plus a
    merge-on-read delete — folds into one unit; the two cold units
    carry BY REFERENCE (asserted), and the hot range's pending delete
    materializes in the rewrite. Statement-level surface included."""
    from component_delta_lake_writer_spark.statements import (
        StatementExecutor,
    )

    base = _scratch("optimize_where_scoped", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    ex = StatementExecutor(spark, os.path.join(base, "wh"))
    o = load_table(spark, sf_dir, "orders")
    lo, hi = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    cut = lo + (hi - lo) // 2
    t = ex.table("t")
    k = F.col("o_orderkey")
    t.write(o.filter(k < cut), mode="overwrite",
            primary_key=["o_orderkey"])
    third = (hi - cut) // 3
    t.write(o.filter((k >= cut) & (k < cut + third)), mode="append")
    t.write(o.filter((k >= cut + third) & (k < cut + 2 * third)),
            mode="append")
    t.write(o.filter(k >= cut + 2 * third), mode="append")
    t.delete_where(f"o_orderkey >= {cut} AND o_orderkey % 9 = 0",
                   strategy="merge-on-read")
    before = set(t.latest_commit().data_units)
    ex.execute(f"OPTIMIZE t WHERE o_orderkey >= {cut}")
    c = t.latest_commit()
    assert before & set(c.data_units), "cold units must carry"
    assert len(c.data_units) < len(before), "hot range must compact"
    # deletion vectors survive only on carried units; the rewritten
    # hot units are clean
    for rel in c.deletion_vectors:
        assert rel.split("/")[1] in before & set(c.data_units), rel
    return t.read()


_O["optimize_where_scoped"] = """
    WITH b AS (SELECT MIN(o_orderkey) + (MAX(o_orderkey) - MIN(o_orderkey)) // 2
               AS cut FROM orders)
    SELECT o.* FROM orders o, b
    WHERE NOT (o.o_orderkey >= b.cut AND o.o_orderkey % 9 = 0)
"""


@query("stream_cdf_bootstrap")
def stream_cdf_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDF stream's DEFAULT start (no startingVersion): the first
    batch is the LATEST SNAPSHOT emitted as inserts stamped with the
    snapshot's commit version — Delta's readChangeFeed bootstrap
    semantics (initialOffset's snapshot_of branch,
    streaming/cdf_source.py).  The snapshot must equal
    ManagedTable.read(), NOT the raw union of unit files: a
    merge-on-read delete's equality masks apply worker-side.  Tiny by
    design (1% key slice, single-file units) — the semantics under
    test are offset-shaped, and this key doubles as the sweep's
    Python-DataSource streaming warmer ahead of stream_cdf_source
    (the first table_changes_stream query of a session pays the
    python_streaming_source_runner spawn + first-batch codegen,
    measured ~4-5 s on top of the ~2 s warm drain)."""
    from component_delta_lake_writer_spark.streaming.cdf_source import (
        register,
    )

    base = _scratch("stream_cdf_bootstrap", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    t = ManagedTable(spark, os.path.join(base, "t"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
    ).filter(F.col("o_orderkey") % 100 == 0)
    k = F.col("o_orderkey")
    t.write(o.filter(k % 3 != 2).coalesce(1), mode="overwrite",
            primary_key=["o_orderkey"],
            properties={"enableChangeDataFeed": True})
    t.write(o.filter(k % 3 == 2).coalesce(1), mode="append")     # v1
    t.delete_where("o_orderkey % 9 = 0",
                   strategy="merge-on-read")                     # v2 MOR
    register(spark)
    name = "cdf_boot_" + os.path.basename(sf_dir).replace(".", "_")
    q = (
        spark.readStream.format("table_changes_stream")
        .option("path", t.path)   # no startingVersion: bootstrap
        .load()
        .writeStream.format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "o_orderkey", "o_orderstatus", "price",
        "_change_type", "_commit_version",
    )


_O["stream_cdf_bootstrap"] = """
    SELECT o_orderkey, o_orderstatus, o_totalprice AS price,
      'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
    FROM orders
    WHERE o_orderkey % 100 = 0 AND o_orderkey % 9 <> 0
"""


@query("stream_cdf_source")
def stream_cdf_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table's change feed as a STREAMING source (Spark 4 Python
    streaming Data Source, streaming/cdf_source.py): version offsets,
    one InputPartition per change file, worker-side pyarrow reads.
    An append, an upsert, a metadata commit, and a DELETE drain into
    exactly their attributed change rows — fully oracled."""
    from component_delta_lake_writer_spark.streaming.cdf_source import (
        register,
    )

    base = _scratch("stream_cdf_source", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    t = ManagedTable(spark, os.path.join(base, "t"))
    # % 5 = 0 row-subset (coprime with every commit modulus below) +
    # coalesce(2): semantics (append / upsert / metadata / delete
    # commits each attributed) are commit-shaped, not row-count-shaped
    # — the trim keeps the probe under the driver's contended-host
    # latency budget (r4: 27 s under load)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
    ).filter(F.col("o_orderkey") % 5 == 0)
    k = F.col("o_orderkey")
    t.write(o.filter(k % 3 == 0).coalesce(2), mode="overwrite",
            primary_key=["o_orderkey"],
            properties={"enableChangeDataFeed": True})
    t.write(o.filter(k % 3 == 1).coalesce(2), mode="append")  # v1 inserts
    upd = o.filter(k % 6 == 0).withColumn("price", F.lit(-1.0)).coalesce(2)
    t.upsert(upd, ["o_orderkey"])                          # v2 updates
    t.set_properties({"comment": "metadata only"})         # v3 no rows
    t.delete_where("o_orderkey % 9 = 1")                   # v4 deletes
    register(spark)
    name = "cdf_feed_" + os.path.basename(sf_dir).replace(".", "_")
    q = (
        spark.readStream.format("table_changes_stream")
        .option("path", t.path)
        .option("startingVersion", "1")
        .load()
        .writeStream.format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "o_orderkey", "o_orderstatus", "price",
        "_change_type", "_commit_version",
    )


_O["stream_cdf_source"] = """
    SELECT o_orderkey, o_orderstatus, o_totalprice AS price,
      'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
    FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 = 1
    UNION ALL
    SELECT o_orderkey, o_orderstatus, -1.0,
      'update_postimage', 2
    FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 6 = 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus,
      CASE WHEN o_orderkey % 6 = 0 THEN -1.0 ELSE o_totalprice END,
      'delete', 4
    FROM orders WHERE o_orderkey % 5 = 0
      AND o_orderkey % 9 = 1 AND o_orderkey % 3 IN (0, 1)
"""


@query("stream_replicate_cdf")
def stream_replicate_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS replication: the source's change feed streamed
    through the table_changes_stream Data Source and applied to the
    replica per source commit with per-version writer-txn idempotence
    (streaming.sink.stream_replicate). Source history: an append, a
    priced MERGE, a keyed DELETE — multi-commit, every action class.
    The replica must equal the source exactly. (The fresh-checkpoint
    no-op-replay assertion lives in
    tests/test_engine_extras.py::test_stream_replicate_fresh_checkpoint_noop
    — probe latency budget; r4 ran 31 s under driver load.)"""
    from component_delta_lake_writer_spark.streaming.sink import (
        stream_replicate,
    )

    base = _scratch("stream_replicate_cdf", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src = ManagedTable(spark, os.path.join(base, "src"))
    dst = ManagedTable(spark, os.path.join(base, "dst"))
    # % 10 = 0 row-subset (coprime with the commit moduli below): the
    # probe's semantics — multi-commit replication + fresh-checkpoint
    # idempotent replay — are commit-shaped, not row-count-shaped;
    # the trim keeps it under the driver's contended-host latency
    # budget (r4: 31 s under load; r10: 11.8 s on a slow host at %5)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
    ).filter(F.col("o_orderkey") % 10 == 0)
    k = F.col("o_orderkey")
    # create WITH data in one commit (v0's snapshot streams as inserts
    # under startingVersion=0) — a separate empty-create + append pair
    # added a fixture commit without adding a tested action class.
    # coalesce(2): each change FILE becomes one Python-worker partition
    # in the CDF stream read — 32 shuffle-partition files per tiny
    # commit would spin ~100 workers for a few thousand rows (probe
    # latency, not semantics; the driver sweep runs ~58 keys on a
    # budget)
    src.write(o.coalesce(2), mode="overwrite", primary_key=["o_orderkey"],
              properties={"enableChangeDataFeed": True})
    # merge-on-read: O(source) commit, and the CDF attribution the
    # stream replays is identical to copy-on-write's (probe latency —
    # COW's target rewrite added ~3 s of fixture cost, nothing tested)
    src.upsert(
        o.filter(k % 7 == 0).withColumn("price", F.lit(-1.0)).coalesce(2),
        ["o_orderkey"],
        strategy="merge-on-read",
    )
    src.delete_where("o_orderkey % 11 = 0")
    dst.write(o.limit(0), mode="overwrite", primary_key=["o_orderkey"])
    q = stream_replicate(
        src, dst, ["o_orderkey"],
        checkpoint_dir=os.path.join(base, "ckpt_a"),
    )
    q.awaitTermination()
    return dst.read()


_O["stream_replicate_cdf"] = """
    SELECT o_orderkey, o_orderstatus,
      CASE WHEN o_orderkey % 7 = 0 THEN -1.0 ELSE o_totalprice END
        AS price
    FROM orders
    WHERE o_orderkey % 10 = 0 AND o_orderkey % 11 <> 0
"""


@query("row_tracking_ids")
def row_tracking_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ROW TRACKING (rowTracking writer feature; the reference's
    delta-rs tables carry no row identity — this is the lakehouse
    feature layer above src/component.py:356's write path): stable
    per-row ids assigned at write, immutable across appends and
    carried units. Two deterministic single-file commits (slice A then
    slice B, each sorted), so each row's id is its position in the
    commit order — exactly the ROW_NUMBER the oracle predicts. A
    clustered OPTIMIZE then rewrites every file in a different row
    order; because the oracle's answer is computed from the ORIGINAL
    commit order, the hash check only passes if the materialized-id
    mechanism carried every (row, id, commit) binding through the
    rewrite intact. Verifies id VALUES, id->commit attribution
    (defaultRowCommitVersion), append non-renumbering, and
    compaction preservation in one driver row."""
    t = _fresh_table(spark, "row_tracking_ids", sf_dir)
    k = F.col("o_orderkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).filter(k % 5 == 0)
    part_a = o.filter(k % 3 == 0)
    part_b = o.filter(k % 3 != 0)
    t.write(
        part_a.repartition(1).sortWithinPartitions("o_orderkey"),
        mode="overwrite",
        primary_key=["o_orderkey"],
        properties={"delta.enableRowTracking": "true"},
    )
    t.write(
        part_b.repartition(1).sortWithinPartitions("o_orderkey"),
        mode="append",
    )
    # dataChange=false rewrite in a DIFFERENT order: ids must survive
    t.optimize(cluster_by=["o_orderstatus", "o_orderkey"])
    return t.read(with_row_ids=True).select(
        "o_orderkey",
        F.col("_row_id").alias("row_id"),
        F.col("_row_commit_version").alias("row_commit_version"),
    )


_O["row_tracking_ids"] = """
    SELECT o_orderkey,
           ROW_NUMBER() OVER (ORDER BY (o_orderkey % 3 <> 0),
                              o_orderkey) - 1 AS row_id,
           CAST(CASE WHEN o_orderkey % 3 = 0 THEN 0 ELSE 1 END
                AS BIGINT) AS row_commit_version
    FROM orders WHERE o_orderkey % 5 = 0
"""


@query("ict_time_travel")
def ict_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta IN-COMMIT TIMESTAMPS (inCommitTimestamp writer feature):
    the commit clock is written INTO each commit, strictly monotonic,
    and timestamp time travel resolves against it — not against
    file-modification times that clock skew or a copy can scramble.
    Three commits (create, append, DELETE); the probe asserts the ICT
    chain is strictly increasing, then time-travels to each commit's
    exact ICT and returns the row count seen — each count is the
    deterministic relation the oracle recomputes from the inputs."""
    t = _fresh_table(spark, "ict_time_travel", sf_dir)
    k = F.col("o_orderkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).filter(k % 4 == 0)
    t.write(
        o.filter(k % 3 == 0),
        mode="overwrite",
        primary_key=["o_orderkey"],
        properties={"delta.enableInCommitTimestamps": "true"},
    )
    t.write(o.filter(k % 3 == 1), mode="append")
    t.delete_where("o_orderkey % 8 = 0")
    ts = [t.commit_at(v).timestamp_ms for v in (0, 1, 2)]
    if not (ts[0] < ts[1] < ts[2]):
        raise AssertionError(f"in-commit timestamps not monotonic: {ts}")
    counts = [
        (v, t.read(timestamp_ms=ts[v]).count()) for v in (0, 1, 2)
    ]
    return local_relation(spark, "v int, n bigint", list(zip(*counts)))


_O["ict_time_travel"] = """
    SELECT 0 AS v, COUNT(*) AS n FROM orders
      WHERE o_orderkey % 4 = 0 AND o_orderkey % 3 = 0
    UNION ALL
    SELECT 1, COUNT(*) FROM orders
      WHERE o_orderkey % 4 = 0 AND o_orderkey % 3 <= 1
    UNION ALL
    SELECT 2, COUNT(*) FROM orders
      WHERE o_orderkey % 4 = 0 AND o_orderkey % 3 <= 1
        AND o_orderkey % 8 <> 0
"""


@query("stream_scd2_follow")
def stream_scd2_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC stream → SCD2 dimension follower (streaming.sink
    .stream_scd2): a source entity table commits two states per user
    (first event, then latest event — create + upsert), its change
    feed streams through table_changes_stream, and each source
    version applies as an SCD2 snapshot-diff delta with per-version
    txn idempotence. Users whose first and last states coincide
    exercise the no-change compression path. The replica dimension
    must equal the SCD2 compression of the applied state log —
    ranges, close-outs and current flags all recomputed independently
    by the oracle. (Two commits, not three — probe latency budget;
    the multi-version apply semantics are already exercised.)"""
    from component_delta_lake_writer_spark.streaming.sink import stream_scd2

    base = _scratch("stream_scd2_follow", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src = ManagedTable(spark, os.path.join(base, "src"))
    dim = ManagedTable(spark, os.path.join(base, "dim"))
    # user subset; the probe's semantics are commit-shaped, so the
    # fixture picks each user's first AND last state in ONE keyed
    # aggregation pass (min_by + max_by in the same groupBy —
    # optimization r13, guide §2.1: the previous per-commit pick
    # re-scanned and re-shuffled the events subset once per commit
    # for rows a single pass already sees), persisted so the second
    # commit's projection reads the aggregate instead of re-running
    # it. Same selected rows per commit (min/max by (ts, event_id)),
    # same oracle, half the fixture's corpus passes.
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    ).filter(F.col("user_id") % 2 == 0)

    key = F.struct("ts", "event_id")
    val = F.struct("event_type", "ts")
    both = (
        ev.groupBy("user_id")
        .agg(
            F.min_by(val, key).alias("lo"),
            F.max_by(val, key).alias("hi"),
        )
        .persist()
    )

    def pick(side):
        return both.select(
            "user_id", f"{side}.event_type", f"{side}.ts"
        ).coalesce(1)

    src.write(pick("lo"), mode="overwrite",
              primary_key=["user_id"],
              properties={"enableChangeDataFeed": True})
    src.upsert(pick("hi"), ["user_id"])
    both.unpersist()
    q = stream_scd2(
        src, dim, "user_id", "ts", ["event_type"],
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    return dim.read().select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    )


_O["stream_scd2_follow"] = """
    WITH ranked AS (
      SELECT user_id, event_type, ts,
        ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY ts, event_id
        ) AS rka,
        ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rkd
      FROM events WHERE user_id % 2 = 0
    ),
    log AS (
      SELECT user_id, event_type, ts, 0 AS v FROM ranked WHERE rka = 1
      UNION ALL
      SELECT user_id, event_type, ts, 1 FROM ranked WHERE rkd = 1
    ),
    ordered AS (
      SELECT user_id, event_type, ts, v,
        LAG(event_type) OVER (PARTITION BY user_id ORDER BY v) AS prev
      FROM log
    ),
    ch AS (
      SELECT user_id, event_type, ts, v FROM ordered
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
      LEAD(ts) OVER w AS valid_to,
      (LEAD(ts) OVER w IS NULL) AS is_current
    FROM ch
    WINDOW w AS (PARTITION BY user_id ORDER BY v)
"""


@query("gdpr_erasure_audit")
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten END TO END: an erasure key list lands as
    merge-on-read deletion vectors (no rewrite — the compliance clock
    starts immediately), OPTIMIZE materializes the delete into
    rewritten files, VACUUM reclaims every pre-erasure unit — and the
    probe then runs operators.compliance.erasure_audit — the raw-byte
    scan of every parquet file under the table directory (the audit a
    regulator actually cares about; a snapshot read hiding the rows
    is not erasure), distributed as one Spark job past
    DISTRIBUTE_THRESHOLD files. Returns the surviving rows, fully
    oracled."""
    from component_delta_lake_writer_spark.operators.compliance import (
        erasure_audit,
    )

    t = _fresh_table(spark, "gdpr_erasure", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("price"),
    ).filter(F.col("o_orderkey") % 4 == 0)
    t.write(o.coalesce(2), mode="overwrite",
            primary_key=["o_orderkey"])
    erase = o.filter(F.col("o_custkey") % 9 == 3).select("o_orderkey")
    t.delete_keys(erase)          # O(keys): rows hidden from reads NOW
    t.optimize()                  # materialize: the DVs fold away
    t.vacuum(retention_hours=0)   # reclaim every pre-erasure file
    # the WHOLE table directory: a row only masked by a deletion
    # vector still holds its key bytes, so any pre-optimize file or
    # DV the vacuum missed shows up here
    report = erasure_audit(t, erase, "o_orderkey")
    assert not [
        f for f in os.listdir(t.path) if f.startswith("deletion_vector_")
    ], "deletion-vector file survived vacuum"
    assert report["clean"], (
        f"erased keys still on disk: {report['leaks'][:5]}"
    )
    assert report["rows_checked"] > 0
    return t.read()


_O["gdpr_erasure_audit"] = """
    SELECT o_orderkey, o_custkey, o_totalprice AS price
    FROM orders
    WHERE o_orderkey % 4 = 0 AND o_custkey % 9 <> 3
"""


@query("stream_drift_monitor")
def stream_drift_monitor_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous drift monitoring (streaming.sink
    .stream_drift_monitor): a reference batch (even users' event
    values) watches a streamed feed of odd users' values inflated
    15% — each micro-batch lands one (batch_id, n_ref, n_cur, psi,
    tvd) row in an ACID monitor table with per-batch txn idempotence.
    availableNow drains the staged feed in one batch, so the monitor
    row equals the batch drift_profile and the ORACLE replays it
    (bins, eps smoothing, ln) with batch_id 0 — the streaming
    machinery is exercised while the numbers stay fully oracled."""
    from component_delta_lake_writer_spark.streaming.sink import (
        stream_drift_monitor,
    )

    base = _scratch("stream_drift_monitor", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    ref = ev.filter(F.col("user_id") % 2 == 0).select(
        F.col("value").cast("double").alias("v")
    )
    feed_dir = os.path.join(base, "feed")
    ev.filter(F.col("user_id") % 2 == 1).select(
        (F.col("value").cast("double") * 1.15).alias("v")
    ).write.parquet(feed_dir)
    stream = (
        spark.readStream.schema("v double").format("parquet")
        .load(feed_dir)
    )
    monitor = ManagedTable(spark, os.path.join(base, "monitor"))
    q = stream_drift_monitor(
        stream, ref, "v", monitor, bins=10, lo=0.0, hi=500.0,
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    return monitor.read().select(
        "batch_id", "n_ref", "n_cur", "psi", "tvd"
    )


_O["stream_drift_monitor"] = """
    WITH r AS (
      SELECT CAST(value AS DOUBLE) AS v FROM events
      WHERE user_id % 2 = 0
    ),
    c AS (
      SELECT CAST(value AS DOUBLE) * 1.15 AS v FROM events
      WHERE user_id % 2 = 1
    ),
    b AS (
      SELECT 'r' AS src,
        CASE WHEN v < 0 THEN -1 WHEN v > 500 THEN 10
             ELSE LEAST(9, CAST(FLOOR(v / 50.0) AS INT)) END AS bin
      FROM r WHERE v IS NOT NULL
      UNION ALL
      SELECT 'c',
        CASE WHEN v < 0 THEN -1 WHEN v > 500 THEN 10
             ELSE LEAST(9, CAST(FLOOR(v / 50.0) AS INT)) END
      FROM c WHERE v IS NOT NULL
    ),
    g AS (
      SELECT bin,
        SUM(CASE WHEN src = 'r' THEN 1 ELSE 0 END) AS nr,
        SUM(CASE WHEN src = 'c' THEN 1 ELSE 0 END) AS nc
      FROM b GROUP BY 1
    ),
    t AS (SELECT SUM(nr) AS tr, SUM(nc) AS tc FROM g)
    SELECT CAST(0 AS BIGINT) AS batch_id,
      CAST(SUM(nr) AS BIGINT) AS n_ref,
      CAST(SUM(nc) AS BIGINT) AS n_cur,
      ROUND(SUM(
        (GREATEST(nc / tc, 0.000001) - GREATEST(nr / tr, 0.000001))
        * LN(GREATEST(nc / tc, 0.000001)
             / GREATEST(nr / tr, 0.000001))
      ), 6) AS psi,
      ROUND(SUM(ABS(nr / tr - nc / tc)) / 2, 6) AS tvd
    FROM g, t
"""


@query("stream_anomaly_monitor")
def stream_anomaly_monitor_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous anomaly monitoring (streaming.sink
    .stream_anomaly_monitor): per-event-type (mean, sd) from even
    users' values score a streamed feed of odd users' values with a
    planted 25x spike on every 101st event — one (batch_id, n_rows,
    n_scored, n_flagged, max_abs_z) row lands in the ACID monitor
    table.  availableNow drains the feed in one batch, so the ORACLE
    replays the scoring (group_stats decimal idiom, sd>0 guard,
    rounded |z|) with batch_id 0 — streaming machinery exercised,
    numbers fully oracled."""
    from component_delta_lake_writer_spark.streaming.sink import (
        stream_anomaly_monitor,
    )

    base = _scratch("stream_anomaly_monitor", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    ref = ev.filter(F.col("user_id") % 2 == 0).select(
        "event_type", F.col("value").cast("double").alias("value")
    )
    feed_dir = os.path.join(base, "feed")
    ev.filter(F.col("user_id") % 2 == 1).select(
        "event_type",
        F.when(
            F.col("event_id") % 101 == 0,
            F.col("value").cast("double") * 25,
        )
        .otherwise(F.col("value").cast("double"))
        .alias("value"),
    ).write.parquet(feed_dir)
    stream = (
        spark.readStream.schema("event_type string, value double")
        .format("parquet")
        .load(feed_dir)
    )
    monitor = ManagedTable(spark, os.path.join(base, "monitor"))
    q = stream_anomaly_monitor(
        stream, ref, "value", "event_type", monitor, z=3.0,
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    return monitor.read().select(
        "batch_id", "n_rows", "n_scored", "n_flagged", "max_abs_z"
    )


_O["stream_anomaly_monitor"] = """
    WITH r AS (
      SELECT event_type AS g, ROUND(CAST(value AS DOUBLE), 6) AS v
      FROM events WHERE user_id % 2 = 0
    ),
    a AS (
      SELECT g,
        CAST(SUM(CAST(v AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*) AS m,
        SQRT(GREATEST(
          CAST(SUM(CAST(v AS DECIMAL(24,6)) * CAST(v AS DECIMAL(24,6)))
               AS DOUBLE) / COUNT(*)
          - (CAST(SUM(CAST(v AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*))
            * (CAST(SUM(CAST(v AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*)),
          0.0
        )) AS sd
      FROM r GROUP BY g
    ),
    c AS (
      SELECT event_type AS g,
        ROUND(CASE WHEN event_id % 101 = 0
                   THEN CAST(value AS DOUBLE) * 25
                   ELSE CAST(value AS DOUBLE) END, 6) AS v
      FROM events WHERE user_id % 2 = 1
    ),
    s AS (
      SELECT c.v,
        CASE WHEN a.sd > 0
             THEN ROUND(ABS((c.v - a.m) / a.sd), 6) END AS az
      FROM c LEFT JOIN a USING (g)
    )
    SELECT CAST(0 AS BIGINT) AS batch_id,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(az) AS BIGINT) AS n_scored,
      CAST(COALESCE(SUM(CASE WHEN az > 3 THEN 1 ELSE 0 END), 0)
           AS BIGINT) AS n_flagged,
      MAX(az) AS max_abs_z
    FROM s
"""


@query("stream_ab_monitor")
def stream_ab_monitor_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequential A/B monitoring (streaming.sink.stream_ab_monitor):
    per-user heavy-buyer outcomes (>= 14 purchases, arms by user-id
    parity) staged as TWO feed files; maxFilesPerTrigger=1 makes two
    micro-batches, so the FINAL monitor row's cumulative totals are
    correct only if batch 1 folded batch 0's stored totals — the
    cumulation is what the probe proves.  The returned row is the
    final look (full-data pooled z, Haybittle-Peto decision at the
    3.0 interim boundary — the sf0.01 fixture lands z~2.79, so the
    peeking dashboard correctly says 'continue' where a naive 1.96
    dashboard would have declared); the ORACLE replays it from the
    full data with n_batches = 2."""
    from component_delta_lake_writer_spark.streaming.sink import (
        stream_ab_monitor,
    )

    base = _scratch("stream_ab_monitor", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    users = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            (
                F.sum(
                    (F.col("event_type") == "purchase").cast("int")
                )
                >= 14
            )
            .cast("long")
            .alias("succ")
        )
        .select(
            "user_id",
            (F.col("user_id") % 2).cast("string").alias("grp"),
            "succ",
        )
    )
    feed_dir = os.path.join(base, "feed")
    users.filter(F.col("user_id") % 4 < 2).coalesce(1).write.parquet(
        feed_dir
    )
    users.filter(F.col("user_id") % 4 >= 2).coalesce(1).write.mode(
        "append"
    ).parquet(feed_dir)
    stream = (
        spark.readStream.schema(
            "user_id long, grp string, succ long"
        )
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(feed_dir)
    )
    monitor = ManagedTable(spark, os.path.join(base, "monitor"))
    q = stream_ab_monitor(
        stream, "grp", "succ", ("0", "1"), monitor,
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    looks = monitor.read()
    n_batches = F.broadcast(
        looks.agg(F.count(F.lit(1)).alias("n_batches"))
    )
    return (
        looks.orderBy(F.col("batch_id").desc())
        .limit(1)
        .crossJoin(n_batches)
        .select(
            "batch_id", "n_a", "conv_a", "n_b", "conv_b", "z",
            "decision",
            F.col("n_batches").cast("long").alias("n_batches"),
        )
    )


_O["stream_ab_monitor"] = """
    WITH u AS (
      SELECT user_id, CAST(user_id % 2 AS VARCHAR) AS g,
        CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                     THEN 1 ELSE 0 END) >= 14
             THEN 1 ELSE 0 END AS x
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    p AS (
      SELECT
        SUM(CASE WHEN g = '0' THEN 1 ELSE 0 END) AS n_a,
        SUM(CASE WHEN g = '0' THEN x ELSE 0 END) AS conv_a,
        SUM(CASE WHEN g = '1' THEN 1 ELSE 0 END) AS n_b,
        SUM(CASE WHEN g = '1' THEN x ELSE 0 END) AS conv_b
      FROM u
    ),
    zz AS (
      SELECT *,
        CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pp
      FROM p
    ),
    f AS (
      SELECT n_a, conv_a, n_b, conv_b,
        CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0 AND pp < 1 THEN
          ROUND((CAST(conv_b AS DOUBLE) / n_b
                 - CAST(conv_a AS DOUBLE) / n_a)
                / SQRT(pp * (1.0 - pp)
                       * (1.0 / n_a + 1.0 / n_b)), 6)
        END AS z
      FROM zz
    )
    SELECT CAST(1 AS BIGINT) AS batch_id,
      CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
      CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
      z,
      CASE WHEN ABS(z) > 3.0 THEN 'reject_null'
           ELSE 'continue' END AS decision,
      CAST(2 AS BIGINT) AS n_batches
    FROM f
"""
