"""Unit tests for the ManagedTable commit-log sink (SURVEY §2.2)."""

from __future__ import annotations

import os

import tempfile

import pytest
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.errors import (
    SchemaMismatchError,
    TableExistsError,
    UserException,
)
from component_delta_lake_writer_spark.sinks import ManagedTable
from component_delta_lake_writer_spark.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmp_path_str():
    with tempfile.TemporaryDirectory() as d:
        yield d


def test_error_mode_refuses_existing(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders")
    t.write(o, mode="error")
    with pytest.raises(TableExistsError):
        t.write(o, mode="error")


def test_append_overwrite_versions(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders")
    n = o.count()
    t.write(o, mode="append")
    t.write(o, mode="append")
    assert t.read().count() == 2 * n
    t.write(o, mode="overwrite")
    assert t.read().count() == n
    assert t.read(version=1).count() == 2 * n  # time travel


def test_schema_merge_gate(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders")
    t.write(o.select("o_orderkey"), mode="overwrite")
    with pytest.raises(SchemaMismatchError):
        t.write(o.select("o_orderkey", "o_totalprice"), mode="append")
    t.write(
        o.select("o_orderkey", "o_totalprice"), mode="append", schema_mode="merge"
    )
    assert t.read().columns == ["o_orderkey", "o_totalprice"]


def test_schema_merge_rejects_type_change(spark, tmp_path_str):
    """schema_mode='merge' may only ADD columns; a type change on an
    existing column is rejected (delta-rs merge semantics)."""
    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders")
    t.write(o.select("o_orderkey", "o_totalprice"), mode="overwrite")
    retyped = o.select(
        "o_orderkey", F.col("o_totalprice").cast("string").alias("o_totalprice")
    )
    with pytest.raises(SchemaMismatchError, match="cannot change column types"):
        t.write(retyped, mode="append", schema_mode="merge")


def test_write_rejects_unknown_mode(spark, tmp_path_str):
    """X3: a typo'd mode must raise, not silently append."""
    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders").limit(5)
    with pytest.raises(UserException, match="Unsupported write mode"):
        t.write(o, mode="apend")


def test_publish_conflict_detected(spark, tmp_path_str):
    """Two writers racing to the same commit version: the second must
    fail loudly (os.link EEXIST), never silently replace the first."""
    import os

    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders").limit(5)
    t.write(o, mode="overwrite")  # publishes version 0
    first = t.latest_commit()
    # a competing writer that read the same pre-state would also try
    # to publish version 0 — simulate by re-publishing it directly
    with pytest.raises(UserException, match="Concurrent commit conflict"):
        t._publish(first)
    # losing writer must not leave tmp litter behind
    litter = [
        f for f in os.listdir(t._log_dir) if ".tmp." in f
    ]
    assert litter == []


def test_upsert_dedups_first_batch(spark, tmp_path_str):
    """Regression: O2 pre-dedup must apply on table creation too."""
    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders").limit(10)
    dup = o.unionByName(o)
    t.upsert(dup, ["o_orderkey"])
    assert t.read().count() == 10


def test_upsert_updates_and_inserts(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders")
    t.write(o, mode="overwrite")
    src = o.limit(5).withColumn("o_totalprice", F.lit(-1.0)).unionByName(
        o.limit(3).withColumn("o_orderkey", F.col("o_orderkey") + 10**9)
    )
    t.upsert(src, ["o_orderkey"])
    r = t.read()
    assert r.count() == o.count() + 3
    assert r.filter(F.col("o_totalprice") == -1.0).count() == 5


def test_upsert_requires_pk(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders")
    with pytest.raises(UserException):
        t.upsert(o, [])


def test_optimize_vacuum(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders")
    for i in range(3):
        t.write(o.filter(F.col("o_orderkey") % 3 == i), mode="append")
    assert len(t.latest_commit().data_units) == 3
    n = t.read().count()
    t.optimize()
    assert len(t.latest_commit().data_units) == 1
    assert t.vacuum() == 3
    assert t.read().count() == n


def test_partitioned_write_prunes(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    li = load_table(spark, SF, "lineitem")
    t.write(li, mode="overwrite", partition_by=["l_returnflag"])
    got = t.read().filter(F.col("l_returnflag") == "R").count()
    want = li.filter(F.col("l_returnflag") == "R").count()
    assert got == want
    plan = (
        t.read()
        .filter(F.col("l_returnflag") == "R")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_compression_codecs_applied(spark, tmp_path_str):
    """W6: each supported codec actually lands in the parquet files
    (read back from the column-chunk metadata, not trusted blindly)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from component_delta_lake_writer_spark.config import Compression, JobSpec, Destination

    o = load_table(spark, SF, "orders").limit(100)
    for codec, expect in [
        (Compression.SNAPPY, "SNAPPY"),
        (Compression.ZSTD, "ZSTD"),
        (Compression.GZIP, "GZIP"),
        (Compression.UNCOMPRESSED, "UNCOMPRESSED"),
        # parquet-mr's LZ4_RAW shows as LZ4 in pyarrow's chunk metadata
        # mapping here; what matters is the codec round-trips.
        (Compression.LZ4_RAW, "LZ4"),
    ]:
        spec = JobSpec(destination=Destination(compression=codec))
        t = ManagedTable(spark, f"{tmp_path_str}/{codec.value}")
        t.write(o, mode="overwrite", compression=spec.spark_codec())
        unit = t.latest_commit().data_units[0]
        files = glob.glob(os.path.join(t.path, "_data", unit, "*.parquet"))
        assert files
        meta = pq.ParquetFile(files[0]).metadata
        codecs = {
            meta.row_group(0).column(i).compression
            for i in range(meta.num_columns)
        }
        assert codecs == {expect}, (codec, codecs)


def test_upsert_update_condition_guards_matched_rows(spark, tmp_path_str):
    """WHEN MATCHED AND cond THEN UPDATE: only source rows passing the
    guard replace their matched target row; others keep the target
    version; unmatched sources still insert."""
    t = ManagedTable(spark, f"{tmp_path_str}/cond")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "pk int, v string, ver int"
    )
    t.write(base, mode="overwrite", primary_key=["pk"])
    src = spark.createDataFrame(
        [(1, "a2", 5), (2, "b2", 25), (4, "d", 1)], "pk int, v string, ver int"
    )
    # only-newer-versions guard: pk=1 is older (kept), pk=2 newer
    # (updated), pk=4 new (inserted)
    t.upsert(src, ["pk"], update_condition=lambda tt, ss: ss["ver"] > tt["ver"])
    got = {r["pk"]: (r["v"], r["ver"]) for r in t.read().collect()}
    assert got == {1: ("a", 10), 2: ("b2", 25), 3: ("c", 30), 4: ("d", 1)}


def test_restore_to_version(spark, tmp_path_str):
    """RESTORE: new commit with an old snapshot — history preserved,
    no data copied, fails loudly when the units were vacuumed."""
    t = ManagedTable(spark, f"{tmp_path_str}/r")
    o = load_table(spark, SF, "orders")
    t.write(o.filter(F.col("o_orderkey") % 3 == 0), mode="overwrite")
    n0 = t.read().count()
    t.write(o.filter(F.col("o_orderkey") % 3 == 1), mode="append")
    t.write(o.filter(F.col("o_orderkey") % 3 == 2), mode="append")
    assert t.read().count() > n0
    c = t.restore(0)
    assert c.action == "restore" and c.version == 3
    assert t.read().count() == n0
    # restore is itself undoable (history intact)
    assert t.read(version=2).count() > n0
    t.restore(2)
    assert t.read().count() == t.read(version=2).count()
    # vacuum drops units unreferenced by latest; restoring to the
    # all-three-units version still works, but after restoring back to
    # v0 + vacuum, v1/v2-only units are gone -> restore(2) must fail
    t.restore(0)
    t.vacuum()
    with pytest.raises(UserException, match="vacuumed"):
        t.restore(2)


def test_add_drop_column_metadata_only(spark, tmp_path_str):
    import os

    from component_delta_lake_writer_spark.errors import UserException

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    units = list(t.latest_commit().data_units)
    c = t.add_column("w", "double")
    assert c.data_units == units  # nothing rewritten
    out = t.read()
    assert out.schema["w"].dataType.simpleString() == "double"
    assert out.filter(F.col("w").isNull()).count() == 10
    # duplicate add refused
    with pytest.raises(UserException, match="already exists"):
        t.add_column("w", "double")
    # writes must now carry the evolved schema
    t.write(
        df.withColumn("w", F.lit(1.5)), mode="append"
    )
    assert t.read().filter(F.col("w") == 1.5).count() == 10
    # drop a data column
    c2 = t.drop_column("v")
    assert c2.data_units == c.data_units == units or len(c2.data_units) == 2
    assert "v" not in t.read().columns
    assert t.read().count() == 20
    # PK column is load-bearing
    with pytest.raises(UserException, match="primary-key"):
        t.drop_column("k")
    with pytest.raises(UserException, match="No column"):
        t.drop_column("nope")
    # time travel shows the pre-DDL schema
    assert "v" in t.read(version=0).columns
    assert "w" not in t.read(version=0).columns


def test_rename_column_mapping(spark, tmp_path_str):
    import json
    import os

    from component_delta_lake_writer_spark.errors import UserException

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("v"),
        (F.col("id") % 3).alias("g"),
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    units = list(t.latest_commit().data_units)

    c = t.rename_column("v", "val")
    assert c.data_units == units  # metadata-only
    assert c.column_mapping == {"val": "v"}
    assert set(t.read().columns) == {"k", "val", "g"}
    assert t.read().agg(F.sum("val")).first()[0] == 90.0

    # load-bearing names refuse to rename
    with pytest.raises(UserException, match="primary-key"):
        t.rename_column("k", "key")
    with pytest.raises(UserException, match="No column"):
        t.rename_column("v", "v2")  # old name is gone
    with pytest.raises(UserException, match="already exists"):
        t.rename_column("g", "val")

    # append under the logical name lands physical; read_where prunes
    # and filters under the logical name
    t.write(
        df.select("k", F.col("v").alias("val"), "g"), mode="append"
    )
    assert t.read().count() == 20
    assert t.read_where("val >= 10.0").count() == 10
    assert t.read_where("val > 1000.0").count() == 0

    # chained rename keeps pointing at the ORIGINAL physical bytes
    t.rename_column("val", "value2")
    assert t.latest_commit().column_mapping == {"value2": "v"}
    assert t.read().agg(F.sum("value2")).first()[0] == 180.0

    # adding a column named like the physical bytes gets a FRESH
    # physical name (never resurrects the renamed column's bytes)
    t.add_column("v", "double")
    assert t.latest_commit().column_mapping["v"].startswith("col-")
    assert t.read().filter(F.col("v").isNull()).count() == 20

    # a DML rewrite keeps the mapping consistent
    t.update_where("k = 3", {"value2": "0.0"})
    # two k=3 rows zeroed + the two k=0 rows that were already 0.0
    assert t.read().filter(F.col("value2") == 0.0).count() == 4

    # restore carries the snapshot's mapping back
    v_before = t.latest_commit().version
    t.restore(1)  # version 1 = the first rename commit
    assert t.latest_commit().column_mapping == {"val": "v"}
    assert set(t.read().columns) == {"k", "val", "g"}
    t.restore(v_before)

    # optimize materializes renames: physical == logical afterwards
    # (sum: 180 minus the two k=3 rows zeroed by the update = 168)
    t.optimize()
    assert t.latest_commit().column_mapping == {}
    assert t.read().agg(F.sum("value2")).first()[0] == 168.0

    # Delta mirror: metaData carries physicalName metadata + 2/5
    # protocol while mapped, and mode=name persists after the reset
    log_dir = os.path.join(t.path, "_delta_log")
    protos, metas = [], []
    for fn in sorted(os.listdir(log_dir)):
        if not fn.endswith(".json"):
            continue
        with open(os.path.join(log_dir, fn)) as fh:
            for line in fh:
                a = json.loads(line)
                if "protocol" in a:
                    protos.append(a["protocol"])
                if "metaData" in a:
                    metas.append(a["metaData"])
    assert any(
        p.get("minReaderVersion") == 2 and p.get("minWriterVersion") == 5
        for p in protos
    )
    mapped = [
        m
        for m in metas
        if (m.get("configuration") or {}).get("delta.columnMapping.mode")
        == "name"
    ]
    assert mapped, "mirror must advertise columnMapping mode=name"
    fields = json.loads(mapped[0]["schemaString"])["fields"]
    by_name = {
        f["name"]: f["metadata"].get("delta.columnMapping.physicalName")
        for f in fields
    }
    assert by_name["val"] == "v"
    # the LAST metaData (post-optimize) keeps mode=name, identity names
    last_cfg = metas[-1].get("configuration") or {}
    assert last_cfg.get("delta.columnMapping.mode") == "name"


def test_rename_refuses_constraint_and_collision(spark, tmp_path_str):
    import os

    from component_delta_lake_writer_spark.errors import UserException

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    t.add_constraint("v_nonneg", "v >= 0.0")
    with pytest.raises(UserException, match="CHECK"):
        t.rename_column("v", "val")
    t.drop_constraint("v_nonneg")
    t.rename_column("v", "val")
    # schema-merge append introducing a column named like the physical
    # bytes of a renamed column must be refused (ambiguous physical)
    with pytest.raises(UserException, match="collision"):
        t.write(
            df.select(
                "k", F.col("v").alias("val"), F.lit(9.0).alias("v")
            ),
            mode="append",
            schema_mode="merge",
        )


def test_bloom_filter_skipping(spark, tmp_path_str):
    import os

    from component_delta_lake_writer_spark.sinks.bloom import (
        prune_units_bloom,
    )
    from component_delta_lake_writer_spark.sinks.unit_stats import (
        parse_conjuncts,
    )

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    props = {"bloom_filter_columns": ["k", "name", "score"]}
    mk = lambda lo: spark.range(lo, lo + 200).select(  # noqa: E731
        F.col("id").alias("k"),
        F.concat(F.lit("u"), F.col("id")).alias("name"),
        (F.col("id") * 0.5).alias("score"),  # double: not indexable
    )
    t.write(mk(0), mode="overwrite", properties=props)
    t.write(mk(1000), mode="append")
    c = t.latest_commit()
    # double column skipped, int+string indexed
    blooms = [s.get("_bloom", {}) for s in c.stats.values()]
    assert all(set(b) == {"k", "name"} for b in blooms)
    # equality probe prunes the foreign unit, on int and string alike
    for cond, n in [("k = 5", 1), ("k = 1005", 1), ("name = 'u42'", 1),
                    ("k = 500", 0)]:
        kept = prune_units_bloom(
            t._bloom_dir, c.stats, c.data_units, parse_conjuncts(cond)
        )
        assert len(kept) == n, (cond, kept)
        assert t.read_where(cond).count() == n
    # bloom keys translate through a rename
    t.rename_column("name", "username")
    assert t.read_where("username = 'u42'").count() == 1
    c2 = t.latest_commit()
    view = ManagedTable._logical_stats(c2.stats, c2.column_mapping)
    kept = prune_units_bloom(
        t._bloom_dir, view, c2.data_units, parse_conjuncts("username = 'u42'")
    )
    assert len(kept) == 1
    # vacuum reclaims sidecars with their units
    t.optimize()
    t.vacuum()
    live = set(t.latest_commit().data_units)
    if os.path.isdir(t._bloom_dir):
        assert set(os.listdir(t._bloom_dir)) <= live


def test_identity_columns(spark, tmp_path_str):
    import json
    import os

    from component_delta_lake_writer_spark.errors import UserException

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(7).select(F.col("id").alias("k"))
    t.write(
        df,
        mode="overwrite",
        identity_columns={"rid": {"start": 100, "step": 10}},
    )
    vals = sorted(r["rid"] for r in t.read().collect())
    assert vals == [100 + 10 * i for i in range(7)]
    specs = ManagedTable._identity_specs(t.latest_commit())
    assert specs["rid"]["highWaterMark"] == 160
    # append continues from the high-water mark
    t.write(spark.range(3).select(F.col("id").alias("k")), mode="append")
    vals = sorted(r["rid"] for r in t.read().collect())
    assert vals == [100 + 10 * i for i in range(10)]
    # explicit values refused on append; upsert requires them
    with pytest.raises(UserException, match="IDENTITY"):
        t.write(
            df.withColumn("rid", F.lit(1).cast("long")), mode="append"
        )
    with pytest.raises(UserException, match="identity column"):
        t.upsert(df, ["k"])
    # mirror advertises writer v6
    v0 = os.path.join(t.path, "_delta_log", f"{0:020d}.json")
    protos = [
        json.loads(line)["protocol"]
        for line in open(v0)
        if "protocol" in line
    ]
    assert protos and protos[0]["minWriterVersion"] == 6


def test_generated_columns(spark, tmp_path_str):
    import os

    from component_delta_lake_writer_spark.errors import UserException

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t.write(
        df,
        mode="overwrite",
        primary_key=["k"],
        partition_by=["bucket"],
        generated_columns={"bucket": "CAST(k % 4 AS INT)"},
    )
    out = t.read()
    assert "bucket" in out.columns
    assert out.filter(F.col("bucket") == F.col("k") % 4).count() == 20
    # the expression rides the committed schema metadata
    assert ManagedTable._generation_exprs(t.latest_commit()) == {
        "bucket": "CAST(k % 4 AS INT)"
    }
    # append omitting the column: computed; multi-unit partitioned
    # read recovers partition values across units
    t.write(df.withColumn("k", F.col("k") + 100), mode="append")
    assert t.read().count() == 40
    assert t.read().filter(F.col("bucket") == F.col("k") % 4).count() == 40
    # providing a wrong value is refused
    with pytest.raises(UserException, match="Generated column"):
        t.write(
            df.withColumn("bucket", F.lit(99)), mode="append"
        )
    # upsert batches inherit the generation too
    t.upsert(
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ),
        ["k"],
    )
    upd = t.read().filter(F.col("v") == -1)
    assert upd.count() == 5
    assert upd.filter(F.col("bucket") == F.col("k") % 4).count() == 5


def test_read_timestamp_as_of(spark, tmp_path_str):
    import os
    import time as _time

    from component_delta_lake_writer_spark.errors import UserException

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(10).select(F.col("id").alias("k"))
    t.write(df, mode="overwrite")
    ts0 = t.latest_commit().timestamp_ms
    _time.sleep(0.02)
    t.write(df, mode="append")
    assert t.read(timestamp_ms=ts0).count() == 10
    assert t.read(timestamp_ms=t.latest_commit().timestamp_ms).count() == 20
    with pytest.raises(UserException, match="at or before"):
        t.read(timestamp_ms=ts0 - 10_000)
    with pytest.raises(UserException, match="not both"):
        t.read(version=0, timestamp_ms=ts0)


@pytest.mark.slow
def test_incremental_aggregate_group_migration(spark, tmp_path_str):
    import os

    from component_delta_lake_writer_spark.sinks.materialized import (
        IncrementalAggregate,
    )

    t = ManagedTable(spark, os.path.join(tmp_path_str, "src"))
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0), (4, "B", 40.0)],
        "k int, g string, v double",
    )
    t.write(
        df,
        mode="overwrite",
        primary_key=["k"],
        properties={
            "enableChangeDataFeed": True,
            "changeDataFeedPreImages": True,
        },
    )
    mv = IncrementalAggregate(
        spark, os.path.join(tmp_path_str, "mv"), t, ["g"], {"total": "v"}
    )
    assert mv.refresh() == "full"
    # move EVERY B row into C: B's count hits zero (tombstone), C is a
    # brand-new group, and A is untouched
    t.upsert(
        spark.createDataFrame(
            [(3, "C", 31.0), (4, "C", 41.0)], "k int, g string, v double"
        ),
        ["k"],
    )
    assert mv.refresh() == "incremental"
    rows = {
        r["g"]: (r["n_rows"], float(r["total"]))
        for r in mv.read().collect()
    }
    assert rows == {"A": (2, 30.0), "C": (2, 72.0)}
    # the tombstone row exists but is filtered
    raw = {r["g"]: r["n_rows"] for r in mv.table.read().collect()}
    assert raw.get("B") == 0
    assert mv.refresh() == "noop"
    # append-only ranges stay incremental even without pre-images
    t2 = ManagedTable(spark, os.path.join(tmp_path_str, "src2"))
    t2.write(df, mode="overwrite", primary_key=["k"])
    mv2 = IncrementalAggregate(
        spark, os.path.join(tmp_path_str, "mv2"), t2, ["g"], {"total": "v"}
    )
    mv2.refresh()
    t2.write(
        spark.createDataFrame([(9, "A", 5.0)], "k int, g string, v double"),
        mode="append",
    )
    assert mv2.refresh() == "incremental"
    rows2 = {r["g"]: r["n_rows"] for r in mv2.read().collect()}
    assert rows2 == {"A": 3, "B": 2}
    # an update range WITHOUT pre-images falls back to full (never wrong)
    t2p = {**t2.latest_commit().properties, "enableChangeDataFeed": True}
    t2.upsert(
        spark.createDataFrame([(1, "A", 99.0)], "k int, g string, v double"),
        ["k"],
        properties=t2p,
    )
    assert mv2.refresh() == "full"
    got = {
        r["g"]: float(r["total"]) for r in mv2.read().collect()
    }
    assert got == {"A": 124.0, "B": 70.0}


def test_append_conflict_retries_metadata_only(spark, tmp_path_str, monkeypatch):
    """A losing append racer must re-derive metadata against the new
    head and re-publish WITHOUT rewriting its data unit."""
    import os

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    seed = spark.range(10).select(F.col("id").alias("k"))
    t.write(seed, mode="overwrite")

    real = ManagedTable._publish
    state = {"raced": False}

    def flaky(self, commit, prev=None):
        if commit.action == "append" and not state["raced"]:
            state["raced"] = True
            competing = self._next(prev, "append")
            real(self, competing, prev)  # steal the version number
        return real(self, commit, prev)

    monkeypatch.setattr(ManagedTable, "_publish", flaky)
    t.write(spark.range(10, 15).select(F.col("id").alias("k")), mode="append")
    assert state["raced"]
    assert t._versions() == [0, 1, 2]  # seed, racer, retried append
    assert t.read().count() == 15
    # the batch's data unit was written exactly once
    assert len(os.listdir(t._data_dir)) == 2


def test_compact_small_units_partial(spark, tmp_path_str):
    import os

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    big = spark.range(0, 5000).select(F.col("id").alias("k"))
    t.write(big, mode="append")
    for lo in (10000, 10100, 10200):
        t.write(
            spark.range(lo, lo + 50).select(F.col("id").alias("k")),
            mode="append",
        )
    assert len(t.latest_commit().data_units) == 4
    c = t.compact_small_units(max_rows=1000)
    assert c is not None and c.action == "optimize"
    # the big unit survives untouched; the three small ones folded
    assert len(c.data_units) == 2
    assert t.read().count() == 5000 + 150
    # nothing to do when fewer than two small units remain
    assert t.compact_small_units(max_rows=1000) is None


def test_generated_partition_filter_derivation(spark, tmp_path_str):
    """A predicate on the SOURCE timestamp column of a generated DATE
    partition column must derive a predicate on the partition column
    that prunes files by the partition values their adds record — the
    query never mentions the partition column (Delta's
    generated-column partition pruning)."""
    import os
    import re

    from component_delta_lake_writer_spark.sinks.unit_stats import (
        parse_conjuncts,
    )

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(96).select(
        F.col("id").alias("k"),
        F.expr(
            "timestamp_ntz'2024-03-01 00:00:00' + make_interval(0,0,0,0,id,0,0)"
        ).alias("ts"),
    )
    # stats on k only: ts min/max cannot prune, so only the derived
    # day predicate can keep a file of an earlier day out of the scan
    t.write(
        df,
        mode="overwrite",
        partition_by=["day"],
        generated_columns={"day": "CAST(ts AS DATE)"},
        properties={"delta.dataSkippingNumIndexedCols": 1},
    )
    cond = "ts >= '2024-03-03 06:00:00'"
    assert ManagedTable._derived_partition_conjuncts(
        parse_conjuncts(cond),
        t._generation_exprs(t.latest_commit()),
        ["day"],
    ) == ["day >= DATE'2024-03-03'"]
    out = t.read_where(cond)
    assert out.count() == 96 - (2 * 24 + 6)
    days = {re.search(r"/day=([0-9-]+)/", f).group(1) for f in out.inputFiles()}
    assert days == {"2024-03-03", "2024-03-04"}, days
    # equality and upper-bound forms derive too, and never drop rows
    assert t.read_where("ts = '2024-03-02 05:00:00'").count() == 1
    assert t.read_where("ts < '2024-03-02 00:00:00'").count() == 24


def test_fsck_detects_missing_and_restore_target(spark, tmp_path_str):
    import os
    import shutil as _shutil

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(100).select(F.col("id").alias("k"))
    t.write(df.filter(F.col("k") < 50), mode="append")        # v0
    t.write(df.filter(F.col("k") >= 50), mode="append")       # v1
    t.optimize()                                              # v2
    clean = t.fsck()
    assert clean["versions"] == {}
    assert clean["last_intact_version"] == 2
    # vandalize: remove v0/v1's first unit (v2's compacted unit stays)
    victim = t.commit_at(0).data_units[0]
    _shutil.rmtree(os.path.join(t._data_dir, victim))
    rep = t.fsck()
    assert 0 in rep["versions"] and 1 in rep["versions"]
    assert rep["versions"][0]["missing_units"] == [victim]
    assert rep["last_intact_version"] == 2
    # the reported target is actually restorable/readable
    assert t.read(version=rep["last_intact_version"]).count() == 100


def test_export_csv_with_manifest(spark, tmp_path_str):
    import glob
    import json
    import os

    from component_delta_lake_writer_spark.sinks.export import export_csv

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("s")
    )
    t.write(df, mode="overwrite")
    dest = os.path.join(tmp_path_str, "csv_out")
    n = export_csv(t, dest, slices=3, compression="gzip")
    assert n == 100
    parts = glob.glob(os.path.join(dest, "part-*.csv.gz"))
    assert len(parts) == 3
    man = json.load(open(os.path.join(dest, "_manifest.json")))
    assert man["format"] == "csv" and man["n_rows"] == 100
    assert len(man["files"]) == 3 and man["source_version"] == 0
    back = spark.read.schema("k long, s string").csv(dest)
    assert back.count() == 100
    assert back.join(df, ["k", "s"]).count() == 100
    # time-travel export
    t.write(df.limit(5), mode="append")
    n0 = export_csv(t, os.path.join(tmp_path_str, "csv_v0"), version=0)
    assert n0 == 100


@pytest.mark.slow
def test_incremental_aggregate_handles_deletes(spark, tmp_path_str):
    import os

    from component_delta_lake_writer_spark.sinks.materialized import (
        IncrementalAggregate,
    )

    t = ManagedTable(spark, os.path.join(tmp_path_str, "src"))
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0), (4, "B", 40.0)],
        "k int, g string, v double",
    )
    t.write(
        df,
        mode="overwrite",
        primary_key=["k"],
        properties={"enableChangeDataFeed": True},
    )
    mv = IncrementalAggregate(
        spark, os.path.join(tmp_path_str, "mv"), t, ["g"], {"total": "v"}
    )
    assert mv.refresh() == "full"
    # COW delete: the removed images ride the CDF as 'delete' rows,
    # so the refresh stays incremental WITHOUT pre-images
    t.delete_where("g = 'A' AND v >= 20.0")
    assert mv.refresh() == "incremental"
    rows = {
        r["g"]: (r["n_rows"], float(r["total"]))
        for r in mv.read().collect()
    }
    assert rows == {"A": (1, 10.0), "B": (2, 70.0)}
    # delete_keys (MOR) attributes too; group A empties to a tombstone
    t.delete_keys(spark.createDataFrame([(1,)], "k int"))
    assert mv.refresh() == "incremental"
    rows = {r["g"]: r["n_rows"] for r in mv.read().collect()}
    assert rows == {"B": 2}


def test_compact_small_units_clustered(spark, tmp_path_str):
    import glob
    import os

    import pyarrow.parquet as pq

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    # three small appends with interleaved key ranges
    for off in (0, 1, 2):
        t.write(
            spark.range(off, 3000, 3).select(F.col("id").alias("k")),
            mode="append",
        )
    c = t.compact_small_units(
        max_rows=10_000, target_file_rows=300, cluster_by=["k"]
    )
    assert c is not None and len(c.data_units) == 1
    # folded files cover disjoint, sorted key ranges
    unit_dir = os.path.join(t._data_dir, c.data_units[0])
    ranges = []
    for fp in glob.glob(os.path.join(unit_dir, "*.parquet")):
        md = pq.ParquetFile(fp).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo, ranges
    assert t.read().count() == 3000


def test_incremental_aggregate_handles_dml_update(spark, tmp_path_str):
    import os

    from component_delta_lake_writer_spark.sinks.materialized import (
        IncrementalAggregate,
    )

    t = ManagedTable(spark, os.path.join(tmp_path_str, "src"))
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0)],
        "k int, g string, v double",
    )
    t.write(
        df,
        mode="overwrite",
        primary_key=["k"],
        properties={
            "enableChangeDataFeed": True,
            "changeDataFeedPreImages": True,
        },
    )
    mv = IncrementalAggregate(
        spark, os.path.join(tmp_path_str, "mv"), t, ["g"], {"total": "v"}
    )
    assert mv.refresh() == "full"
    # UPDATE ... WHERE with pre-images: subtract old, add new
    t.update_where("g = 'A'", {"v": "v + 5.0"})
    assert mv.refresh() == "incremental"
    rows = {
        r["g"]: (r["n_rows"], float(r["total"]))
        for r in mv.read().collect()
    }
    assert rows == {"A": (2, 40.0), "B": (1, 30.0)}


@pytest.mark.slow
def test_replace_where_scoped_overwrite(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "rw"))
    df = spark.createDataFrame(
        [(i, "old", float(i)) for i in range(1, 101)],
        "k int, tag string, v double",
    )
    t.write(df.filter("k <= 50").orderBy("k"), mode="overwrite")
    t.write(df.filter("k > 50").orderBy("k"), mode="append")
    old_units = set(t.latest_commit().data_units)
    batch = spark.createDataFrame(
        [(k, "new", -1.0) for k in range(60, 71)],
        "k int, tag string, v double",
    )
    t.replace_where(batch, "k >= 60 AND k < 71")
    c = t.latest_commit()
    # the k<=50 unit must carry by reference (stats-pruned)
    assert old_units & set(c.data_units)
    out = {r["k"]: r["tag"] for r in t.read().collect()}
    assert len(out) == 100
    assert all(out[k] == "new" for k in range(60, 71))
    assert all(out[k] == "old" for k in list(range(1, 60)) + list(range(71, 101)))


def test_replace_where_enforcement_and_cdf(spark, tmp_path_str):
    from component_delta_lake_writer_spark.errors import UserException

    t = ManagedTable(spark, os.path.join(tmp_path_str, "rwc"))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k int, v double"
    )
    t.write(df, mode="overwrite",
            properties={"enableChangeDataFeed": True})
    bad = spark.createDataFrame([(99, 0.0)], "k int, v double")
    with pytest.raises(UserException):
        t.replace_where(bad, "k < 5")
    good = spark.createDataFrame([(1, -1.0), (3, -3.0)], "k int, v double")
    c = t.replace_where(good, "k < 5")
    changes = spark.read.parquet(
        *[os.path.join(t.path, f) for f in c.cdc_files]
    )
    kinds = {
        (r["k"], r["_change_type"]) for r in changes.collect()
    }
    assert {(1, "insert"), (3, "insert")} <= kinds
    assert {(k, "delete") for k in range(5)} <= kinds
    assert t.read().count() == 7  # 5 removed, 2 inserted


@pytest.mark.slow
def test_overwrite_partitions_dynamic(spark, tmp_path_str):
    from component_delta_lake_writer_spark.errors import UserException

    t = ManagedTable(spark, os.path.join(tmp_path_str, "dpo"))
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(30)],
        "k int, p string, v double",
    )
    t.write(df, mode="overwrite", partition_by=["p"])
    batch = spark.createDataFrame(
        [(100, "b", 1.0), (101, "b", 2.0)], "k int, p string, v double"
    )
    t.overwrite_partitions(batch)
    rows = t.read().collect()
    by_p = {}
    for r in rows:
        by_p.setdefault(r["p"], set()).add(r["k"])
    assert by_p["b"] == {100, 101}
    assert len(by_p["a"]) == 10 and len(by_p["c"]) == 10
    # unpartitioned table refuses dynamic mode
    t2 = ManagedTable(spark, os.path.join(tmp_path_str, "dpo2"))
    t2.write(df, mode="overwrite")
    with pytest.raises(UserException):
        t2.overwrite_partitions(batch)


@pytest.mark.slow
def test_column_defaults_insert_time_only(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "dflt"))
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    t.write(df, mode="overwrite", primary_key=["k"])
    t.add_column("src", "string", default="'backfill'")
    # existing rows read NULL (defaults never backfill)
    assert {r["src"] for r in t.read().collect()} == {None}
    # append omitting the column gets the default computed
    t.write(spark.createDataFrame([(3, 30.0)], "k int, v double"),
            mode="append")
    got = {r["k"]: r["src"] for r in t.read().collect()}
    assert got == {1: None, 2: None, 3: "backfill"}
    # providing the column wins over the default
    t.write(
        spark.createDataFrame([(4, 40.0, "explicit")],
                              "k int, v double, src string"),
        mode="append",
    )
    assert {r["src"] for r in t.read().filter("k=4").collect()} == {"explicit"}
    # SET DEFAULT changes future inserts; DROP DEFAULT → missing col fails
    t.set_column_default("src", "'v2'")
    t.upsert(spark.createDataFrame([(5, 50.0)], "k int, v double"), ["k"])
    assert {r["src"] for r in t.read().filter("k=5").collect()} == {"v2"}
    # DROP DEFAULT → omitted column falls back to nullable-NULL fill
    t.set_column_default("src", None)
    t.write(spark.createDataFrame([(6, 60.0)], "k int, v double"),
            mode="append")
    assert {r["src"] for r in t.read().filter("k=6").collect()} == {None}


@pytest.mark.slow
def test_txn_idempotent_writes(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "txn"))
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double")
    t.write(df, mode="overwrite", primary_key=["k"])
    b = spark.createDataFrame([(3, 3.0)], "k int, v double")
    c1 = t.write(b, mode="append", txn=("loader", 1))
    # replay of the same batch version: no-op, same commit returned
    c2 = t.write(b, mode="append", txn=("loader", 1))
    assert c2.version == c1.version
    assert t.read().count() == 3
    # an UNRELATED commit must not erase the watermark
    t.delete_where("k = 2")
    c3 = t.write(b, mode="append", txn=("loader", 1))
    assert c3.version == t.latest_commit().version
    assert t.read().count() == 2
    # a newer version applies; an older replay after it does not
    t.write(spark.createDataFrame([(4, 4.0)], "k int, v double"),
            mode="append", txn=("loader", 2))
    assert t.read().count() == 3
    t.write(b, mode="append", txn=("loader", 1))
    assert t.read().count() == 3
    # independent appId has its own watermark
    t.write(spark.createDataFrame([(5, 5.0)], "k int, v double"),
            mode="append", txn=("other", 1))
    assert t.read().count() == 4
    # upsert honors the same contract
    up = spark.createDataFrame([(1, -1.0)], "k int, v double")
    t.upsert(up, ["k"], txn=("merger", 7))
    t.upsert(spark.createDataFrame([(1, -99.0)], "k int, v double"),
             ["k"], txn=("merger", 7))
    assert {r["v"] for r in t.read().filter("k=1").collect()} == {-1.0}
    # the mirror carries the setTransaction action
    import json as _json

    logs = sorted(
        f for f in os.listdir(os.path.join(t.path, "_delta_log"))
        if f.endswith(".json")
    )
    txns = []
    for f in logs:
        with open(os.path.join(t.path, "_delta_log", f)) as fh:
            for line in fh:
                a = _json.loads(line)
                if "txn" in a:
                    txns.append((a["txn"]["appId"], a["txn"]["version"]))
    assert ("loader", 1) in txns and ("merger", 7) in txns


def test_copy_into_idempotent_ingest(spark, tmp_path_str):
    land = os.path.join(tmp_path_str, "landing")
    os.makedirs(land)

    def drop_file(name, rows):
        with open(os.path.join(land, name), "w") as fh:
            fh.write("k,v\n")
            for k, v in rows:
                fh.write(f"{k},{v}\n")

    drop_file("a.csv", [(1, 10.0), (2, 20.0)])
    drop_file("b.csv", [(3, 30.0)])
    t = ManagedTable(spark, os.path.join(tmp_path_str, "ci"))
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL("k int, v double")
    c1 = t.copy_into(os.path.join(land, "*.csv"), file_format="csv",
                     schema=schema, options={"header": "true"})
    assert t.read().count() == 3
    # re-run: nothing new → same head, no extra rows
    c2 = t.copy_into(os.path.join(land, "*.csv"), file_format="csv",
                     schema=schema, options={"header": "true"})
    assert c2.version == c1.version and t.read().count() == 3
    # a new landing file loads alone (schema now inferred from table)
    drop_file("c.csv", [(4, 40.0)])
    t.copy_into(os.path.join(land, "*.csv"), file_format="csv",
                options={"header": "true"})
    assert t.read().count() == 4
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3, 4}


def test_widen_column_type_metadata_only(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "widen"))
    df = spark.createDataFrame([(1, 1.5), (2, 2.5)], "k int, v float")
    t.write(df, mode="overwrite")
    units_before = set(t.latest_commit().data_units)
    t.widen_column_type("k", "bigint")
    t.widen_column_type("v", "double")
    c = t.latest_commit()
    assert set(c.data_units) == units_before  # nothing rewritten
    assert dict(t.read().dtypes) == {"k": "bigint", "v": "double"}
    # appends in the widened type; values only a long can hold
    t.write(
        spark.createDataFrame([(5_000_000_000, 9.25)], "k long, v double"),
        mode="append",
    )
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, 1.5), (2, 2.5), (5_000_000_000, 9.25)]
    # unsafe changes refuse
    with pytest.raises(UserException):
        t.widen_column_type("k", "int")  # narrowing
    with pytest.raises(UserException):
        t.widen_column_type("k", "string")
    # typeChanges metadata + typeWidening feature in the mirror protocol
    import json as _json

    sch = _json.loads(c.schema_json)
    kmeta = next(f for f in sch["fields"] if f["name"] == "k")["metadata"]
    assert kmeta["delta.typeChanges"][0]["fromType"] == "int"
    with open(os.path.join(t.path, "_delta_log",
                           f"{0:020d}.json")) as fh:
        pass  # log exists
    logs = sorted(
        f for f in os.listdir(os.path.join(t.path, "_delta_log"))
        if f.endswith(".json")
    )
    protos = []
    for f in logs:
        with open(os.path.join(t.path, "_delta_log", f)) as fh:
            for line in fh:
                a = _json.loads(line)
                if "protocol" in a:
                    protos.append(a["protocol"])
    assert any(
        "typeWidening" in (p.get("readerFeatures") or []) for p in protos
    )


def test_widen_date_to_timestamp_ntz(spark, tmp_path_str):
    import datetime as dt

    t = ManagedTable(spark, os.path.join(tmp_path_str, "wd"))
    t.write(
        spark.createDataFrame(
            [(1, dt.date(2020, 1, 2)), (2, dt.date(2021, 3, 4))],
            "k int, d date",
        ),
        mode="overwrite",
    )
    t.widen_column_type("d", "timestamp_ntz")
    rows = {r["k"]: r["d"] for r in t.read().collect()}
    assert rows[1] == dt.datetime(2020, 1, 2, 0, 0)


def test_upsert_full_sync_scoped_and_unscoped(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "fs"))
    base = spark.createDataFrame(
        [(1, "EU", 1.0), (2, "EU", 2.0), (3, "US", 3.0), (4, "US", 4.0)],
        "k int, region string, v double",
    )
    t.write(base, mode="overwrite", primary_key=["k"],
            properties={"enableChangeDataFeed": True})
    # scoped sync: authoritative EU extract lacking k=2, updating k=1,
    # adding k=5 — US rows must survive untouched
    eu = spark.createDataFrame(
        [(1, "EU", -1.0), (5, "EU", 5.0)], "k int, region string, v double"
    )
    c = t.upsert_full_sync(eu, ["k"], delete_scope="region = 'EU'")
    got = {r["k"]: (r["region"], r["v"]) for r in t.read().collect()}
    assert got == {
        1: ("EU", -1.0), 3: ("US", 3.0), 4: ("US", 4.0), 5: ("EU", 5.0)
    }
    changes = spark.read.parquet(
        *[os.path.join(t.path, f) for f in c.cdc_files]
    )
    kinds = {(r["k"], r["_change_type"]) for r in changes.collect()}
    assert kinds == {
        (1, "update_postimage"), (5, "insert"), (2, "delete")
    }
    # unscoped sync: table becomes exactly the extract
    t.upsert_full_sync(
        spark.createDataFrame([(9, "EU", 9.0)],
                              "k int, region string, v double"),
        ["k"],
    )
    assert {r["k"] for r in t.read().collect()} == {9}


def test_upsert_full_sync_scoped_carries_disjoint_units(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "fsc"))
    df = spark.createDataFrame(
        [(i, "old", float(i)) for i in range(1, 101)],
        "k int, tag string, v double",
    )
    t.write(df.filter("k <= 50"), mode="overwrite", primary_key=["k"])
    t.write(df.filter("k > 50"), mode="append")
    old_units = set(t.latest_commit().data_units)
    # extract covers only the k>50 half; scope limits deletes there
    extract = spark.createDataFrame(
        [(k, "new", -1.0) for k in range(51, 90)],
        "k int, tag string, v double",
    )
    t.upsert_full_sync(extract, ["k"], delete_scope="k > 50")
    c = t.latest_commit()
    assert old_units & set(c.data_units), "disjoint unit must carry"
    got = {r["k"]: r["tag"] for r in t.read().collect()}
    assert all(got[k] == "old" for k in range(1, 51))
    assert all(got[k] == "new" for k in range(51, 90))
    assert all(k not in got for k in range(90, 101))  # synced away


def test_set_properties_and_row_count(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "props"))
    df = spark.createDataFrame([(i, float(i)) for i in range(20)],
                               "k int, v double")
    t.write(df, mode="overwrite", primary_key=["k"])
    # metadata-only count (no delete sets)
    assert t.row_count() == 20
    # toggle CDF on an existing table without a data write
    v = t.latest_commit().version
    t.set_properties({"enableChangeDataFeed": True})
    c = t.latest_commit()
    assert c.version == v + 1 and set(c.data_units) == set(
        t.commit_at(v).data_units
    )
    t.upsert(spark.createDataFrame([(1, -1.0)], "k int, v double"), ["k"])
    on = t.latest_commit().cdc_files
    assert on and all(os.path.isfile(os.path.join(t.path, f)) for f in on)
    # UNSET (unknown keys ignored) turns it back off
    t.set_properties(unset=["enableChangeDataFeed", "nonexistent"])
    t.upsert(spark.createDataFrame([(2, -2.0)], "k int, v double"), ["k"])
    assert t.latest_commit().cdc_files == []
    # MOR delete sets force the fallback distributed count
    t.delete_where("k >= 15", strategy="merge-on-read")
    assert t.row_count() == 15


@pytest.mark.slow
def test_concurrent_appends_race_all_land(spark, tmp_path_str):
    """Optimistic concurrency under a real thread race: 6 writers
    append batches concurrently; version conflicts resolve via the
    metadata-only retry, every batch lands exactly once, and the
    final snapshot is the union. (Single JVM, but the commit protocol
    — os.link conditional publish + re-derive + re-publish — is the
    same one object-store writers would execute.)"""
    from concurrent.futures import ThreadPoolExecutor

    t = ManagedTable(spark, os.path.join(tmp_path_str, "race"))
    t.write(
        spark.createDataFrame([(0, -1)], "writer int, v int"),
        mode="overwrite",
    )

    def worker(w: int):
        df = spark.createDataFrame(
            [(w, i) for i in range(10)], "writer int, v int"
        )
        t.write(df, mode="append")
        return w

    with ThreadPoolExecutor(max_workers=6) as pool:
        assert sorted(pool.map(worker, range(1, 7))) == [1, 2, 3, 4, 5, 6]
    c = t.latest_commit()
    assert c.version == 6  # 6 appends after v0, no lost commits
    rows = t.read().collect()
    assert len(rows) == 61
    per_writer = {}
    for r in rows:
        per_writer[r["writer"]] = per_writer.get(r["writer"], 0) + 1
    assert per_writer == {0: 1, **{w: 10 for w in range(1, 7)}}
    # same-txn duplicate-writer race: both carry ("job", 1); exactly
    # one application survives
    def dup_worker(_):
        return t.write(
            spark.createDataFrame([(99, 99)], "writer int, v int"),
            mode="append", txn=("job", 1),
        ).version

    with ThreadPoolExecutor(max_workers=2) as pool:
        versions = list(pool.map(dup_worker, range(2)))
    assert t.read().filter("writer = 99").count() == 1
    assert max(versions) == t.latest_commit().version


def test_optimize_where_scoped_compaction(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "ow"))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(300)], "k int, v double"
    )
    # three range-disjoint units, hot range appended twice in pieces
    t.write(df.filter("k < 100"), mode="overwrite", primary_key=["k"])
    t.write(df.filter("k >= 100 AND k < 200"), mode="append")
    t.write(df.filter("k >= 200 AND k < 250"), mode="append")
    t.write(df.filter("k >= 250"), mode="append")
    cold = [
        u for u in t.latest_commit().data_units
        if (t.latest_commit().stats[u].get("k") or {}).get("max", 999) < 200
    ]
    assert len(cold) == 2
    # MOR delete inside the hot range, then scoped optimize over it
    t.delete_where("k >= 280", strategy="merge-on-read")
    c = t.optimize(where="k >= 200")
    assert set(cold) <= set(c.data_units), "cold units must carry"
    assert len(c.data_units) == 3  # 2 cold + 1 compacted hot
    assert c.deletion_vectors == {}  # hot-range delete materialized
    assert c.action == "optimize"
    got = sorted(r["k"] for r in t.read().collect())
    assert got == list(range(280))
    # out-of-scope optimize is a no-op returning the head
    head = t.latest_commit().version
    assert t.optimize(where="k > 100000").version == head


def test_optimize_where_respects_column_mapping(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "owm"))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k int, v double"
    )
    t.write(df.filter("k < 50"), mode="overwrite")
    t.write(df.filter("k >= 50"), mode="append")
    t.rename_column("v", "amount")
    c = t.optimize(where="k >= 50")
    assert c.column_mapping, "carried units keep the mapping"
    rows = {r["k"]: r["amount"] for r in t.read().collect()}
    assert len(rows) == 100 and rows[99] == 99.0
    # full optimize afterwards materializes the rename
    c2 = t.optimize()
    assert c2.column_mapping == {}
    assert t.read().columns == ["k", "amount"]


def test_column_bounds_metadata_and_fallback(spark, tmp_path_str):
    import datetime as dt

    t = ManagedTable(spark, os.path.join(tmp_path_str, "cb"))
    rows = [
        (i, float(i) * 2, dt.datetime(2021, 1, 1) + dt.timedelta(days=i))
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "k int, v double, ts timestamp")
    t.write(df.filter("k < 5"), mode="overwrite", primary_key=["k"])
    t.write(df.filter("k >= 5"), mode="append")
    assert t.column_bounds("k") == (0, 9)
    assert t.column_bounds("v") == (0.0, 18.0)
    assert t.column_bounds("ts") == (
        dt.datetime(2021, 1, 1), dt.datetime(2021, 1, 10)
    )
    # pending MOR deletes force the distributed fallback (and the
    # fallback is RIGHT where stats would now be wrong)
    t.delete_where("k = 9", strategy="merge-on-read")
    assert t.column_bounds("k") == (0, 8)
    # fsck flags a lost ingest sidecar
    land = os.path.join(tmp_path_str, "land")
    os.makedirs(land)
    with open(os.path.join(land, "x.csv"), "w") as fh:
        fh.write("20,40.0,2021-02-01T00:00:00\n")
    from pyspark.sql import types as T

    t.copy_into(os.path.join(land, "*.csv"), file_format="csv",
                schema=T.StructType.fromDDL(
                    "k int, v double, ts timestamp"))
    name = t.latest_commit().ingest_sidecars[0]
    os.unlink(os.path.join(t.path, "_ingest", name))
    rep = t.fsck()
    assert any(
        "missing_ingest_sidecars" in v for v in rep["versions"].values()
    )


def test_review_fixes_regressions(spark, tmp_path_str):
    import datetime as dt

    from component_delta_lake_writer_spark.sinks.unit_stats import (
        prune_units,
    )

    # (a) date-stats vs timestamp-literal midnight boundary: no prune
    stats = {"u": {"_rows": 2, "d": {
        "min": "2024-01-01", "max": "2024-01-02", "nulls": 0,
        "t": "date"}}}
    kept = prune_units(
        stats, ["u"], "d >= TIMESTAMP '2024-01-02 00:00:00'"
    )
    assert kept == ["u"]  # midnight literal: boundary row matches
    assert prune_units(
        stats, ["u"], "d >= TIMESTAMP '2024-01-02 10:00:00'"
    ) == ["u"]  # non-midnight vs date stats: no pruning (unsound)
    assert prune_units(stats, ["u"], "d > '2024-01-02'") == []

    # (b) replace_where computes DEFAULT + generated columns
    t = ManagedTable(spark, os.path.join(tmp_path_str, "rwd"))
    t.write(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)],
                                  "k int, g string, v double"),
            mode="overwrite")
    t.add_column("tag", "string", default="'rb'")
    t.replace_where(
        spark.createDataFrame([(9, "a", 9.0)], "k int, g string, v double"),
        "g = 'a'",
    )
    got = {r["k"]: r["tag"] for r in t.read().collect()}
    assert got == {2: None, 9: "rb"}

    # (c) read_changes crosses replace_where and metadata commits
    c = ManagedTable(spark, os.path.join(tmp_path_str, "cdfx"))
    c.write(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double"),
            mode="overwrite", primary_key=["k"],
            properties={"enableChangeDataFeed": True})
    c.set_properties({"note": "x"})
    c.replace_where(spark.createDataFrame([(1, -1.0)], "k int, v double"),
                    "k = 1")
    c.widen_column_type("k", "bigint")
    ch = c.read_changes(0, with_change_type=True)
    kinds = {(r["k"], r["_change_type"]) for r in ch.collect()}
    assert kinds == {(1, "insert"), (1, "delete")}

    # (d) column_bounds under mixed temporal kinds → scan fallback
    w = ManagedTable(spark, os.path.join(tmp_path_str, "wb"))
    w.write(spark.createDataFrame([(1, dt.date(2020, 1, 5))],
                                  "k int, d date"), mode="overwrite")
    w.widen_column_type("d", "timestamp_ntz")
    w.write(spark.createDataFrame([(2, dt.datetime(2021, 2, 3, 4))],
                                  "k int, d timestamp_ntz"), mode="append")
    lo, hi = w.column_bounds("d")
    assert lo == dt.datetime(2020, 1, 5) and hi == dt.datetime(2021, 2, 3, 4)


def test_overwrite_partitions_prunes_units(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "dpp"))
    a = spark.createDataFrame([(1, "a", 1.0), (2, "a", 2.0)],
                              "k int, p string, v double")
    b = spark.createDataFrame([(3, "b", 3.0), (4, "b", 4.0)],
                              "k int, p string, v double")
    t.write(a, mode="overwrite", partition_by=["p"])
    t.write(b, mode="append")
    a_unit = set(t.commit_at(0).data_units)
    t.overwrite_partitions(
        spark.createDataFrame([(30, "b", -3.0)], "k int, p string, v double")
    )
    c = t.latest_commit()
    assert a_unit <= set(c.data_units), "partition-a unit must carry"
    got = {r["k"] for r in t.read().collect()}
    assert got == {1, 2, 30}


def test_overwrite_partitions_boolean_and_date(spark, tmp_path_str):
    """Hive-encoding-sensitive partition types: booleans ('true' on
    disk vs Python True) and dates must still replace exactly their
    partitions — the str(value) comparison regression."""
    import datetime as dt

    t = ManagedTable(spark, os.path.join(tmp_path_str, "dpb"))
    df = spark.createDataFrame(
        [(1, True, 1.0), (2, True, 2.0), (3, False, 3.0)],
        "k int, flag boolean, v double",
    )
    t.write(df, mode="overwrite", partition_by=["flag"])
    t.overwrite_partitions(
        spark.createDataFrame([(10, True, -1.0)],
                              "k int, flag boolean, v double")
    )
    got = {(r["k"], r["flag"]) for r in t.read().collect()}
    assert got == {(10, True), (3, False)}
    d = ManagedTable(spark, os.path.join(tmp_path_str, "dpd"))
    ddf = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 1, 2))],
        "k int, day date",
    )
    d.write(ddf, mode="overwrite", partition_by=["day"])
    d.overwrite_partitions(
        spark.createDataFrame([(20, dt.date(2024, 1, 2))],
                              "k int, day date")
    )
    assert {(r["k"],) for r in d.read().collect()} == {(1,), (20,)}


def test_dml_pruning_respects_column_mapping_shadows(spark, tmp_path_str):
    """Review finding: DML unit pruning consulted PHYSICAL-keyed stats
    under logical names. After rename a->b then ADD COLUMN a, the old
    physical 'a' stats belong to logical b — delete_where('a > 5')
    must not prune using b's ranges (rows silently never deleted)."""
    t = ManagedTable(spark, tmp_path_str + "/t")
    t.write(
        spark.createDataFrame([(1, 1), (2, 3)], "k int, a int"),
        mode="overwrite",
    )
    t.rename_column("a", "b")           # physical 'a' now backs logical b
    t.add_column("a", "int")            # fresh logical a (NULL for old rows)
    t.write(
        spark.createDataFrame([(3, 5, 10), (4, 7, 20)],
                              "k int, b int, a int"),
        mode="append",
    )
    t.delete_where("a > 5")             # must delete k=3 (10) and k=4 (20)
    got = {(r["k"], r["b"], r["a"]) for r in t.read().collect()}
    assert got == {(1, 1, None), (2, 3, None)}


def test_read_changes_appends_after_rename(spark, tmp_path_str):
    """Review finding: read_changes scanned appended units with a raw
    logical-schema parquet read — a renamed column (stored under its
    physical name) came back NULL in the feed."""
    t = ManagedTable(spark, tmp_path_str + "/t")
    t.write(
        spark.createDataFrame([(1, 10)], "k int, a int"),
        mode="overwrite", primary_key=["k"],
        properties={"enableChangeDataFeed": True},
    )
    t.rename_column("a", "b")
    t.write(spark.createDataFrame([(2, 20)], "k int, b int"), mode="append")
    ch = t.read_changes(1)
    assert {(r["k"], r["b"]) for r in ch.collect()} == {(2, 20)}


def test_restore_refuses_vacuumed_delete_sets(spark, tmp_path_str):
    """The deletion-vector files of a restore target are part of its
    snapshot: once vacuumed, RESTORE refuses loudly."""
    t = ManagedTable(spark, tmp_path_str + "/t")
    t.write(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double"),
        mode="overwrite", primary_key=["k"],
    )
    t.upsert(spark.createDataFrame([(2, -2.0)], "k int, v double"), ["k"],
             strategy="merge-on-read")          # v1 carries a DV
    mor_v = t.latest_commit().version
    assert t.latest_commit().deletion_vectors
    t.optimize()                                 # materializes the DV
    # simulate vacuum reclaiming the now-unreferenced DV file
    for f in os.listdir(t.path):
        if f.startswith("deletion_vector_"):
            os.remove(os.path.join(t.path, f))
    with pytest.raises(UserException, match="deletion-vector files"):
        t.restore(version=mor_v)


def test_mor_writer_dying_before_version_claim_leaves_prior_version(
    spark, tmp_path_str, monkeypatch
):
    """Fault: a merge-on-read commit raises after its DV file is
    written but before the version claim. Readers stay at the prior
    version (engine and external alike), and vacuum reclaims the
    orphaned DV file once it is past the in-flight grace."""
    import time as _time

    from delta_verifier import read_delta_table

    t = ManagedTable(spark, tmp_path_str + "/t")
    t.write(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k int, v double"
        ),
        mode="overwrite", primary_key=["k"],
    )
    before = sorted(map(tuple, t.read().collect()))
    head = t.latest_commit().version

    def crash(self, commit, prev=None, cdc_files=()):
        raise RuntimeError("writer died before the version claim")

    monkeypatch.setattr(ManagedTable, "_publish", crash)
    with pytest.raises(RuntimeError, match="version claim"):
        t.delete_where("k >= 7", strategy="merge-on-read")
    monkeypatch.undo()
    bins = [f for f in os.listdir(t.path) if f.startswith("deletion_vector_")]
    assert len(bins) == 1  # written, never referenced
    assert t.latest_commit().version == head
    assert sorted(map(tuple, t.read().collect())) == before
    ext = sorted(map(tuple, read_delta_table(spark, t.path).collect()))
    assert ext == before
    # still inside the in-flight grace: a concurrent writer may be
    # about to claim it, so vacuum keeps it
    t.vacuum()
    assert os.path.exists(os.path.join(t.path, bins[0]))
    old = _time.time() - 3600
    os.utime(os.path.join(t.path, bins[0]), (old, old))
    assert t.vacuum() >= 1
    assert not [
        f for f in os.listdir(t.path) if f.startswith("deletion_vector_")
    ]
    assert sorted(map(tuple, t.read().collect())) == before


def test_partition_recovery_suffix_names_and_plus(spark, tmp_path_str):
    """Review findings: the partition-value regex must anchor on '/'
    (a column suffixing another matched the wrong segment), '+' in
    values must survive decoding (url_decode eats it as a space), and
    values Hive escapes in directory names ('%', '=') must decode once
    more after the URI decode. Values and ``read().columns`` must not
    depend on the unit count: 1 unit, 2 units, and after optimize()
    (whose rewrite would otherwise store the escaped form for good)."""
    t = ManagedTable(spark, tmp_path_str + "/t")
    df = spark.createDataFrame(
        [(1, "2024-01-01", "7", "C++", "p%q"),
         (2, "2024-01-02", "8", "Go", "a=b"),
         (3, "2024-01-03", "9", "Rust", "x y"),
         (4, "2024-01-04", "0", "C", "c+d")],
        "k int, event_date string, date string, lang string, p string",
    )
    t.write(df.filter("k <= 2"), mode="append",
            partition_by=["event_date", "date", "lang", "p"])
    want = {(r["k"], r["event_date"], r["date"], r["lang"], r["p"])
            for r in df.collect()}
    cols = ["k", "event_date", "date", "lang", "p"]

    def got():
        out = t.read()
        assert out.columns == cols
        return {tuple(r) for r in out.collect()}

    assert got() == {w for w in want if w[0] <= 2}        # 1 unit
    # two units so the recursive path-recovery branch runs
    t.write(df.filter("k > 2"), mode="append")
    assert got() == want
    t.optimize()
    assert len(t.latest_commit().data_units) == 1
    assert got() == want


# ---------------------------------------------------------------------------
# Row tracking: engine read semantics, restore recovery, backfill
# ---------------------------------------------------------------------------


def _k(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_row_ids_stable_across_restore(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    t.write(
        _k(spark, 0, 6).repartition(1).sortWithinPartitions("k"),
        mode="overwrite", primary_key=["k"],
        properties={"delta.enableRowTracking": "true"},
    )
    ids0 = {
        r.k: r._row_id for r in t.read(with_row_ids=True).collect()
    }
    # overwrite drops the unit (fresh ids for the new data)...
    t.write(
        _k(spark, 100, 103).repartition(1), mode="overwrite",
    )
    ids1 = {
        r.k: r._row_id for r in t.read(with_row_ids=True).collect()
    }
    assert min(ids1.values()) > max(ids0.values())  # past high-water mark
    # ...and RESTORE re-adds the original unit with its ORIGINAL ids
    t.restore(version=0)
    ids2 = {
        r.k: r._row_id for r in t.read(with_row_ids=True).collect()
    }
    assert ids2 == ids0


def test_row_tracking_backfill_on_enable(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    t.write(_k(spark, 0, 4).repartition(1), mode="overwrite",
            primary_key=["k"])
    t.write(_k(spark, 4, 7).repartition(1), mode="append")
    with pytest.raises(UserException):
        t.read(with_row_ids=True)
    # enabling tracking on an existing table backfills ids for every
    # live unit (one footer read per file, no data rewrite)
    t.set_properties({"delta.enableRowTracking": "true"})
    out = t.read(with_row_ids=True)
    ids = [r._row_id for r in out.collect()]
    assert sorted(ids) == list(range(7))
    assert t.latest_commit().row_id_high_water == 6
    # ids persist verbatim through the next append
    t.write(_k(spark, 7, 9).repartition(1), mode="append")
    ids2 = sorted(r._row_id for r in t.read(with_row_ids=True).collect())
    assert ids2 == list(range(9))


def test_row_ids_partitioned_and_mapped(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    df = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("w"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    t.write(df, mode="overwrite", partition_by=["p"],
            primary_key=["k"],
            properties={"delta.enableRowTracking": "true"})
    t.rename_column("w", "ww")
    out = t.read(with_row_ids=True)
    rows = out.collect()
    assert {r.k for r in rows} == set(range(10))
    assert {r.ww for r in rows} == {i * 10 for i in range(10)}
    ids = sorted(r._row_id for r in rows)
    assert ids == list(range(10))  # unique, dense from 0
    vers = {r._row_commit_version for r in rows}
    assert vers == {0}
    # partitioned optimize (hive layout + materialized id columns in
    # the multi-root recursive scan) keeps every id
    before = {r.k: r._row_id for r in rows}
    t.optimize()
    after = {
        r.k: r._row_id for r in t.read(with_row_ids=True).collect()
    }
    assert after == before


def test_row_ids_upsert_mor_keeps_survivors(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    t.write(
        _k(spark, 0, 8).repartition(1).sortWithinPartitions("k"),
        mode="overwrite", primary_key=["k"],
        properties={"delta.enableRowTracking": "true"},
    )
    before = {
        r.k: r._row_id for r in t.read(with_row_ids=True).collect()
    }
    t.upsert(
        _k(spark, 6, 10).withColumn("v", F.lit(-1).cast("long")),
        ["k"], strategy="merge-on-read",
    )
    after = {
        r.k: (r._row_id, r.v)
        for r in t.read(with_row_ids=True).collect()
    }
    # untouched rows keep their ids; replaced/new rows carry fresh ones
    for k in range(6):
        assert after[k][0] == before[k] and after[k][1] == k * 10
    fresh = {after[k][0] for k in range(6, 10)}
    assert all(i > max(before.values()) for i in fresh)
    assert all(after[k][1] == -1 for k in range(6, 10))


def test_row_ids_preserved_across_optimize(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    t.write(
        _k(spark, 0, 6).repartition(1).sortWithinPartitions("k"),
        mode="overwrite", primary_key=["k"],
        properties={"delta.enableRowTracking": "true"},
    )
    t.write(
        _k(spark, 6, 10).repartition(1).sortWithinPartitions("k"),
        mode="append",
    )
    before = {
        r.k: (r._row_id, r._row_commit_version)
        for r in t.read(with_row_ids=True).collect()
    }
    # compaction is dataChange=false: identity survives the rewrite,
    # even though the rows land in brand-new files in a new order
    t.optimize(cluster_by=["v"])
    after = {
        r.k: (r._row_id, r._row_commit_version)
        for r in t.read(with_row_ids=True).collect()
    }
    assert after == before
    # the committed READ schema stays clean — no materialized columns
    assert set(t.read().columns) == {"k", "v"}
    # a second optimize round-trips the materialized ids again
    t.optimize()
    assert {
        r.k: (r._row_id, r._row_commit_version)
        for r in t.read(with_row_ids=True).collect()
    } == before
    # and a post-optimize append still draws fresh ids past the mark
    t.write(_k(spark, 50, 52).repartition(1), mode="append")
    ids = {r.k: r._row_id for r in t.read(with_row_ids=True).collect()}
    assert ids[50] > max(i for i, _ in before.values())


def test_row_ids_preserved_across_cow_delete_update(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    t.write(
        _k(spark, 0, 10).repartition(1).sortWithinPartitions("k"),
        mode="overwrite", primary_key=["k"],
        properties={"delta.enableRowTracking": "true"},
    )
    before = {
        r.k: (r._row_id, r._row_commit_version)
        for r in t.read(with_row_ids=True).collect()
    }
    # copy-on-write DELETE rewrites the unit; survivors keep identity
    t.delete_where("k % 4 = 2")
    after_del = {
        r.k: (r._row_id, r._row_commit_version)
        for r in t.read(with_row_ids=True).collect()
    }
    assert after_del == {
        k: v for k, v in before.items() if k % 4 != 2
    }
    # UPDATE: same logical row keeps its ID; commit attribution moves
    # to the updating commit for hit rows only
    t.update_where("k >= 7", {"v": "v + 1000"})
    after_up = {
        r.k: (r._row_id, r._row_commit_version, r.v)
        for r in t.read(with_row_ids=True).collect()
    }
    v_up = t.latest_commit().version
    for k, (rid, rcv) in after_del.items():
        nid, nrcv, nv = after_up[k]
        assert nid == rid, f"UPDATE changed row id of k={k}"
        if k >= 7:
            assert nrcv == v_up and nv == k * 10 + 1000
        else:
            assert nrcv == rcv and nv == k * 10


def test_restore_preenablement_keeps_tracking_on(spark, tmp_path_str):
    """Protocol features never downgrade: restoring to a version that
    predates rowTracking/ICT enablement keeps both features live —
    ids reassign from history, the commit clock stays monotonic."""
    t = ManagedTable(spark, tmp_path_str + "/t")
    t.write(_k(spark, 0, 5).repartition(1), mode="overwrite",
            primary_key=["k"])
    t.set_properties({
        "delta.enableRowTracking": "true",
        "delta.enableInCommitTimestamps": "true",
    })
    ids_on = {
        r.k: r._row_id for r in t.read(with_row_ids=True).collect()
    }
    t.restore(version=0)
    c = t.latest_commit()
    assert c.properties.get("delta.enableRowTracking") in (True, "true")
    assert c.properties.get("delta.enableInCommitTimestamps") in (
        True, "true",
    )
    # ids recovered from history, not reassigned fresh
    assert {
        r.k: r._row_id for r in t.read(with_row_ids=True).collect()
    } == ids_on
    # the clock kept climbing through the restore commit
    assert c.timestamp_ms > t.commit_at(1).timestamp_ms


def test_row_ids_preserved_across_auto_compaction(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    t.write(
        _k(spark, 0, 4).repartition(1), mode="overwrite",
        primary_key=["k"],
        properties={"delta.enableRowTracking": "true"},
    )
    for lo in (4, 8, 12):
        t.write(_k(spark, lo, lo + 4).repartition(1), mode="append")
    before = {
        r.k: (r._row_id, r._row_commit_version)
        for r in t.read(with_row_ids=True).collect()
    }
    assert t.compact_small_units(max_rows=1000) is not None
    assert len(t.latest_commit().data_units) == 1  # folded
    after = {
        r.k: (r._row_id, r._row_commit_version)
        for r in t.read(with_row_ids=True).collect()
    }
    assert after == before


@pytest.mark.slow
def test_append_only_property_enforced(spark, tmp_path):
    """delta.appendOnly: appends and compaction keep working; DELETE/
    UPDATE/overwrite/upsert/MOR-delete are refused; unsetting the
    property re-enables them."""
    import pytest

    from component_delta_lake_writer_spark.errors import UserException

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite", primary_key=["k"],
            properties={"delta.appendOnly": "true"})
    t.write(df.coalesce(1), mode="append")          # allowed
    t.optimize()                                    # pure rewrite: allowed
    for op in (
        lambda: t.delete_where("k < 5"),
        lambda: t.delete_where("k < 5", strategy="merge-on-read"),
        lambda: t.update_where("k < 5", {"v": "0"}),
        lambda: t.write(df, mode="overwrite"),
        lambda: t.upsert(df.limit(3), ["k"]),
    ):
        with pytest.raises(UserException, match="appendOnly"):
            op()
    t.set_properties(unset=["delta.appendOnly"])
    t.delete_where("k < 5")                         # re-enabled
    assert t.read().count() == 110


def test_concurrent_cdf_upserts_stage_safely(spark, tmp_path):
    """Change files written before the claim must preserve the
    concurrency contract: two racing upserts -> exactly one wins the
    version claim, every committed version names its own change files,
    and a loser's files do not outlive its cleanup."""
    import threading

    from component_delta_lake_writer_spark.errors import UserException

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite", primary_key=["k"],
            properties={"enableChangeDataFeed": True})
    base_version = t.latest_commit().version
    errors: list = []
    done: list = []

    def _up(mod):
        tt = ManagedTable(spark, str(tmp_path / "t"))
        try:
            tt.upsert(
                df.filter(F.col("k") % 5 == mod).withColumn(
                    "v", F.lit(-mod).cast("long")
                ).coalesce(1),
                ["k"],
            )
            done.append(mod)
        except UserException as e:
            errors.append(str(e))

    th = [threading.Thread(target=_up, args=(m,)) for m in (1, 2)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    # at least one winner; any loser raised the conflict error
    assert done
    assert len(done) + len(errors) == 2
    for e in errors:
        assert "Concurrent commit conflict" in e
    head = t.latest_commit()
    assert head.version == base_version + len(done)
    # every committed version names its change files; nothing else
    # stays under _change_data
    named = set()
    for c in t._walk(base_version + 1):
        assert c.cdc_files, c.version
        named.update(c.cdc_files)
    on_disk = {
        os.path.relpath(os.path.join(dp, fn), t.path)
        for dp, _d, fns in os.walk(os.path.join(t.path, "_change_data"))
        for fn in fns if fn.endswith(".parquet")
    }
    assert on_disk == named
    # the change feed across the winners replays cleanly
    assert t.read_changes(base_version).count() > 0


@pytest.mark.slow
def test_identity_generated_cdf_composite(spark, tmp_path_str):
    """Identity + generated partition column + CDF composed on one
    table across appends and a COW DELETE: identity values stay
    unique/monotone through every commit, the generated partition
    column derives for appended AND change-set rows, the change feed
    attributes the delete's images with their identity values intact,
    and an external snapshot read agrees after the rewrite."""
    import os

    from delta_verifier import read_delta_table

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(30).select(F.col("id").alias("k"))
    t.write(
        df,
        mode="overwrite",
        partition_by=["bucket"],
        generated_columns={"bucket": "CAST(k % 3 AS INT)"},
        identity_columns={"rid": {"start": 1, "step": 1}},
        properties={"enableChangeDataFeed": True},
    )  # v0
    t.write(
        df.withColumn("k", F.col("k") + 100), mode="append"
    )  # v1: identity continues, bucket derives
    t.delete_where("k % 5 = 0")  # v2: COW rewrite inside partitions

    out = t.read()
    rids = [r["rid"] for r in out.collect()]
    assert len(rids) == len(set(rids)) == 48  # 60 rows - 12 deleted
    assert out.filter(F.col("bucket") != F.col("k") % 3).count() == 0
    # CDF: the deleted images carry their identity + generated values
    ch = t.read_changes(1, with_change_type=True)
    dels = ch.filter(F.col("_change_type") == "delete")
    assert dels.count() == 12
    assert dels.filter(F.col("rid").isNull()).count() == 0
    assert dels.filter(F.col("bucket") != F.col("k") % 3).count() == 0
    # external mirror agrees post-rewrite
    eng = sorted((r["k"], r["rid"]) for r in out.collect())
    ext = sorted(
        (r["k"], r["rid"])
        for r in read_delta_table(spark, t.path).collect()
    )
    assert ext == eng
    # identity high-water survives the rewrite: next append unique
    t.write(df.withColumn("k", F.col("k") + 200), mode="append")
    rids2 = [r["rid"] for r in t.read().collect()]
    assert len(rids2) == len(set(rids2)) == 78


# ---------------------------------------------------------------------------
# One transaction log: snapshot replay, legacy conversion, commit faults
# ---------------------------------------------------------------------------


def _kv(spark, lo, hi, mul=10):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * mul).alias("v")
    ).coalesce(1)


def _fields_equal(a, b):
    from dataclasses import fields

    for f in fields(a):
        assert getattr(a, f.name) == getattr(b, f.name), f.name


def test_snapshot_replay_equals_memo_across_checkpoint(spark, tmp_path_str):
    """Every Commit field survives the log round trip: after each
    commit a fresh instance's replay (checkpoint + JSON tail) equals
    the memoised snapshot field by field, and afterwards commit_at(v)
    of a fresh instance equals the snapshot recorded at v — across row
    tracking, in-commit timestamps, clustering, bloom tags, deletion
    vectors, txn watermarks, COPY INTO sidecars, a rename and two
    checkpoints."""
    import json as _json

    t = ManagedTable(spark, tmp_path_str + "/t")
    seen = []

    def check():
        c = t.latest_commit()
        _fields_equal(ManagedTable(spark, t.path).latest_commit(), c)
        seen.append(c)

    t.write(
        _kv(spark, 0, 20), mode="overwrite", primary_key=["k"],
        properties={
            "delta.enableRowTracking": "true",
            "delta.enableInCommitTimestamps": "true",
            "bloom_filter_columns": ["v"],
        },
    )
    check()
    t.write(_kv(spark, 20, 25), mode="append", txn=("app", 1))
    check()
    t.upsert(_kv(spark, 3, 6, mul=-1), ["k"], strategy="merge-on-read")
    check()
    t.delete_where("k = 21", strategy="merge-on-read")
    check()
    src = os.path.join(tmp_path_str, "landing")
    _kv(spark, 40, 43).write.parquet(src)
    t.copy_into(os.path.join(src, "*.parquet"))
    check()
    t.optimize(cluster_by=["k"])
    check()
    t.rename_column("v", "val")
    check()
    for i in range(8):
        t.write(
            _kv(spark, 100 + 10 * i, 104 + 10 * i)
            .withColumnRenamed("v", "val"),
            mode="append",
        )
        check()
    t.restore(version=3)
    check()
    assert seen[-1].version >= 10  # replay crossed a checkpoint
    last = seen[-1]
    assert last.txns == {"app": 1} and last.ingest_sidecars
    assert last.row_ids and last.clustered_by == [] and last.deletion_vectors
    assert any("_bloom" in s for s in seen[1].stats.values())
    for c in seen:
        _fields_equal(ManagedTable(spark, t.path).commit_at(c.version), c)
    # one log, no engine-side file: the snapshot lives in _delta_log
    assert "_commits" not in os.listdir(t.path)
    acts = [
        _json.loads(line)
        for line in open(
            os.path.join(t.path, "_delta_log", f"{last.version:020d}.json")
        )
    ]
    assert acts[0]["commitInfo"]["engineAction"] == "restore"


def test_properties_round_trip_through_metadata(spark, tmp_path_str):
    """Table properties ride metaData.configuration losslessly, every
    shape the package writes: CHECK constraints (a dict), autoCompact
    knobs (bool, int, column list), truth-tested booleans, a string
    that merely reads 'true', and RESTORE's integer
    restored_from_version."""
    t = ManagedTable(spark, tmp_path_str + "/t")
    t.write(
        _kv(spark, 0, 5), mode="overwrite", primary_key=["k"],
        properties={"note": "true", "delta.checkpointInterval": 3},
    )
    t.add_constraint("v_nonneg", "v >= 0")
    t.set_properties({
        "autoCompact": "true",
        "autoCompact.minUnits": 5,
        "autoCompact.clusterBy": ["k"],
        "enableChangeDataFeed": "false",
    })
    t.write(_kv(spark, 5, 8), mode="append")
    t.restore(version=2)
    want = {
        "note": "true",
        "delta.checkpointInterval": 3,
        "constraints": {"v_nonneg": "v >= 0"},
        "autoCompact": True,
        "autoCompact.minUnits": 5,
        "autoCompact.clusterBy": ["k"],
        "enableChangeDataFeed": False,
        "restored_from_version": 2,
    }
    for c in (t.latest_commit(), ManagedTable(spark, t.path).latest_commit()):
        assert c.properties == want
        assert c.primary_key == ["k"]
    # every earlier version keeps its own properties
    assert ManagedTable(spark, t.path).commit_at(0).properties == {
        "note": "true", "delta.checkpointInterval": 3,
    }


@pytest.mark.parametrize("damage", ["none", "tail_lost", "gap", "no_log"])
def test_sync_metadata_converts_legacy_table(spark, tmp_path_str, damage):
    """A table written while the engine kept a ``_commits`` snapshot
    log beside ``_delta_log`` (tests/fixtures/legacy_commits_table,
    FIXTURES.md) refuses to open until MSCK REPAIR / sync_metadata()
    converts it: one metadata-only commit that keeps rows, deletion
    vectors, row ids, primary key, properties and txn watermarks,
    after which the Delta log is the table's only log.

    That engine claimed a version in ``_commits`` before it wrote the
    Delta entry: a crash between the two left the Delta log one entry
    behind (``tail_lost``), commits after such a crash left a gap
    (``gap``: entry 3 exists, entry 2 does not, so the deletion
    vectors never reached a replayable entry), and a table from before
    the Delta log existed has none (``no_log``). The conversion lands
    right after what the log can replay and drops what lies past a
    gap."""
    import json as _json
    import shutil

    from component_delta_lake_writer_spark.actions import msck_repair
    from component_delta_lake_writer_spark.sinks import delta_log as DL

    src = os.path.join(
        os.path.dirname(__file__), "fixtures", "legacy_commits_table"
    )
    path = os.path.join(tmp_path_str, "t")
    shutil.copytree(src, path)
    with open(os.path.join(path, "expected.json")) as fh:
        want = _json.load(fh)
    log = os.path.join(path, "_delta_log")
    head = want["version"]
    if damage == "no_log":
        shutil.rmtree(log)
        head = -1
    elif damage != "none":
        lost = 3 if damage == "tail_lost" else 2
        for ext in ("json", "crc"):
            os.remove(os.path.join(log, f"{lost:020d}.{ext}"))
        head = lost - 1
    t = ManagedTable(spark, path)
    assert t.exists()
    with pytest.raises(UserException, match=r"sync_metadata\(\)"):
        t.latest_commit()
    assert msck_repair(spark, path).collect()[0]["value"] == "1"
    assert not os.path.exists(os.path.join(path, "_commits"))
    assert DL._log_versions(log) == list(range(head + 2))
    c = t.latest_commit()
    assert c.version == head + 1
    assert c.action == "sync_metadata"
    assert c.primary_key == want["primary_key"]
    assert c.properties == want["properties"]
    assert c.txns == want["txns"]
    assert c.row_id_high_water == want["row_id_high_water"]
    assert c.deletion_vectors
    rows = sorted(
        [r.k, r.v, r._row_id] for r in t.read(with_row_ids=True).collect()
    )
    assert rows == want["rows"]
    ext = sorted(
        [r.k, r.v, r._row_id]
        for r in DL.read_delta_table_row_ids(spark, path).collect()
    )
    assert ext == want["rows"]
    acts = [
        _json.loads(line)
        for line in open(os.path.join(log, f"{c.version:020d}.json"))
    ]
    adds = [a["add"] for a in acts if "add" in a]
    assert len(adds) == len(c.data_units)
    assert all(not a["dataChange"] and "stats" in a for a in adds)
    _fields_equal(ManagedTable(spark, path).latest_commit(), c)
    # the converted table keeps committing and time-travelling
    t.write(_kv(spark, 50, 52), mode="append")
    assert t.read().count() == len(want["rows"]) + 2
    assert t.read(version=c.version).count() == len(want["rows"])
    assert [h.version for h in t.history()] == list(range(head + 3))
    assert t.sync_metadata() == 0


def test_memo_drops_a_dropped_and_recreated_table(spark, tmp_path_str):
    """An instance holding a memoised snapshot sees a table another
    instance dropped and recreated up to the same version as the new
    table: it reads the new rows and commits on top of them."""
    path = os.path.join(tmp_path_str, "t")
    held = ManagedTable(spark, path)
    held.write(_kv(spark, 0, 3), mode="overwrite", primary_key=["k"])
    held.write(_kv(spark, 3, 6), mode="append")
    assert held.latest_commit().version == 1
    other = ManagedTable(spark, path)
    other.drop()
    other.write(_kv(spark, 100, 110, mul=7), mode="overwrite")
    other.write(_kv(spark, 110, 111, mul=7), mode="append")
    c = held.latest_commit()
    assert c.version == 1
    _fields_equal(c, ManagedTable(spark, path).latest_commit())
    assert c.primary_key == []
    assert sorted(r.k for r in held.read().collect()) == list(range(100, 111))
    held.write(_kv(spark, 200, 202, mul=7), mode="append")
    fresh = ManagedTable(spark, path)
    _fields_equal(held.latest_commit(), fresh.latest_commit())
    assert sorted(r.k for r in fresh.read().collect()) == (
        list(range(100, 111)) + [200, 201]
    )


def test_commit_faults_leave_prior_or_new_version(spark, tmp_path_str):
    """Fault injection at each commit step — data written, deletion
    vector written, version claimed, .crc written, checkpoint written,
    log compaction. After each raise a fresh ManagedTable and the
    external reader both show exactly the prior version or the new
    one, and vacuum reclaims every orphan the crash left. Two writers
    racing for one version still get one winner and one conflict."""
    import time as _time

    from component_delta_lake_writer_spark.sinks import delta_log as DL
    from component_delta_lake_writer_spark.sinks import (
        deletion_vectors as DV,
    )
    from component_delta_lake_writer_spark.sinks import managed_table as MT

    path = os.path.join(tmp_path_str, "t")
    ManagedTable(spark, path).write(
        _kv(spark, 0, 12), mode="overwrite", primary_key=["k"],
        properties={
            "delta.checkpointInterval": 2,
            "mirror.logCompactionInterval": 3,
        },
    )
    model = {k: k * 10 for k in range(12)}

    class Boom(RuntimeError):
        pass

    def after(orig):
        def f(*a, **kw):
            out = orig(*a, **kw)
            raise Boom()
        return f

    def before(orig):
        def f(*a, **kw):
            raise Boom()
        return f

    def engine_rows():
        return {r.k: r.v for r in ManagedTable(spark, path).read().collect()}

    def ext_rows():
        return {r.k: r.v for r in DL.read_delta_table(spark, path).collect()}

    def vacuum_reclaims_orphans():
        old = _time.time() - 3600
        for root, dirs, files in os.walk(path):
            for n in dirs + files:
                os.utime(os.path.join(root, n), (old, old))
        t = ManagedTable(spark, path)
        t.vacuum(retention_hours=0)
        c = t.latest_commit()
        assert sorted(os.listdir(os.path.join(path, "_data"))) == sorted(
            c.data_units
        )
        live_dvs = {
            DV.dv_relative_path(d) for d in c.deletion_vectors.values()
        }
        assert {
            f for f in os.listdir(path) if f.startswith("deletion_vector_")
        } == live_dvs

    steps = [
        # (what to patch, wrapper, does the new version land?)
        ((MT.ManagedTable, "_write_unit"), after, False),
        ((DV, "write_dv_file"), after, False),
        ((DL, "_write_version_crc"), before, True),     # claimed only
        ((DL, "_write_version_crc"), after, True),      # .crc written
        ((DL, "write_checkpoint"), after, True),
        ((DL, "write_log_compaction"), after, True),
    ]
    mp = pytest.MonkeyPatch()
    for i, ((owner, name), wrap, lands) in enumerate(steps):
        k = 100 + i
        new = dict(model)
        if owner is DV:
            op = lambda t: t.delete_where(  # noqa: E731
                f"k = {i}", strategy="merge-on-read"
            )
            new.pop(i, None)
        else:
            op = lambda t: t.write(  # noqa: E731
                _kv(spark, k, k + 1), mode="append"
            )
            new[k] = k * 10
        t = ManagedTable(spark, path)
        before_v = t.latest_commit().version
        # land the op on the step's checkpoint / compaction boundary
        period = {"write_checkpoint": 2, "write_log_compaction": 3}.get(name)
        while period and (before_v + 2) % period:
            t.set_properties({"bump": before_v})
            before_v += 1
        mp.setattr(owner, name, wrap(getattr(owner, name)))
        try:
            with pytest.raises(Boom):
                op(t)
        finally:
            mp.undo()
        head = ManagedTable(spark, path).latest_commit().version
        assert head == (before_v + 1 if lands else before_v), name
        model = new if lands else model
        assert engine_rows() == model, name
        assert ext_rows() == model, name
        vacuum_reclaims_orphans()
        assert engine_rows() == model, name
    # two writers racing for the same version: one winner, one conflict
    a, b = ManagedTable(spark, path), ManagedTable(spark, path)
    prev = b.latest_commit()
    a.write(_kv(spark, 200, 201), mode="append")
    from dataclasses import replace

    with pytest.raises(UserException, match="Concurrent commit conflict"):
        b._publish(replace(prev, version=prev.version + 1), prev)
    b.write(_kv(spark, 201, 202), mode="append")  # retries past it
    assert engine_rows() == {**model, 200: 2000, 201: 2010}


def test_append_commits_no_empty_files(spark, tmp_path_str):
    """An append whose first input partition is empty commits only the
    files with rows, and leaves no 0-row file (or its checksum) on
    disk."""
    import json

    t = ManagedTable(spark, tmp_path_str + "/t")
    # 3 rows over 8 partitions: partition 0 is empty
    t.write(spark.range(10, 13, numPartitions=8), mode="append")
    log = os.path.join(t.path, "_delta_log", f"{0:020d}.json")
    with open(log) as fh:
        adds = [a["add"] for a in map(json.loads, fh) if "add" in a]
    assert [json.loads(a["stats"])["numRecords"] for a in adds] == [1, 1, 1]
    on_disk = {
        os.path.relpath(os.path.join(d, f), t.path)
        for d, _, fs in os.walk(os.path.join(t.path, "_data"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == {a["path"] for a in adds}
    crcs = [
        f
        for _, _, fs in os.walk(os.path.join(t.path, "_data"))
        for f in fs
        if f.endswith(".parquet.crc")
    ]
    assert len(crcs) in (0, len(adds))
    assert sorted(r.id for r in t.read().collect()) == [10, 11, 12]


def test_empty_dataframe_write_gives_typed_empty_table(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    empty = spark.range(0, 0, numPartitions=4).select(
        F.col("id").alias("k"), F.lit("x").alias("s")
    )
    t.write(empty, mode="overwrite")
    got = ManagedTable(spark, t.path).read()
    assert got.count() == 0
    assert got.schema.simpleString() == "struct<k:bigint,s:string>"
    t.write(
        spark.range(2).select(F.col("id").alias("k"), F.lit("y").alias("s")),
        mode="append",
    )
    assert sorted(r.k for r in t.read().collect()) == [0, 1]


@pytest.mark.parametrize("case", ["mor", "cow_emptied", "cow_two_units"])
def test_empty_upsert_adds_no_unit(spark, tmp_path_str, case):
    """An upsert of an empty batch changes no unit: merge-on-read used
    to commit a 0-record unit, copy-on-write into an emptied table the
    same, and copy-on-write into a multi-unit table rewrote every unit
    (the bounds of an empty batch are unknown, so all units looked
    touched)."""
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    t.write(_kv(spark, 0, 3), mode="overwrite", primary_key=["k"])
    if case == "cow_emptied":
        t.delete_where("k >= 0")
    if case == "cow_two_units":
        t.write(_kv(spark, 10, 13), mode="append")
    before = t.latest_commit()
    rows = sorted(map(tuple, t.read().collect()))
    c = t.upsert(
        _kv(spark, 0, 0), ["k"],
        strategy="merge-on-read" if case == "mor" else "copy-on-write",
    )
    assert c.version == before.version + 1
    assert c.data_units == before.data_units
    assert sorted(map(tuple, t.read().collect())) == rows


@pytest.fixture(scope="module")
def carry_base(spark):
    """A row-tracked, partitioned table whose head carries every piece
    of state a version inherits: a txn watermark, a COPY INTO sidecar,
    clustering columns, a CHECK constraint, and a deletion vector on
    the clustered unit (k < 100), beside a second unit (k >= 100)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as d:
        t = ManagedTable(spark, os.path.join(d, "t"))
        t.write(
            spark.createDataFrame(
                [(k, k, k, 0) for k in range(10)],
                "k long, v long, w int, p long",
            ),
            mode="overwrite", primary_key=["k"], partition_by=["p"],
            properties={"delta.enableRowTracking": "true"},
            txn=("app", 1),
        )
        t.add_constraint("pos", "k >= 0")
        t.optimize(cluster_by=["k"])
        land = os.path.join(d, "land")
        os.makedirs(land)
        ks = list(range(100, 110))
        pq.write_table(
            pa.table({
                "k": pa.array(ks, pa.int64()),
                "v": pa.array(ks, pa.int64()),
                "w": pa.array(ks, pa.int32()),
                "p": pa.array([1] * len(ks), pa.int64()),
            }),
            os.path.join(land, "b.parquet"),
        )
        t.copy_into(os.path.join(land, "*.parquet"))
        t.delete_where("k = 3", strategy="merge-on-read")
        yield t


def _batch(spark, keys, v=1000):
    return spark.createDataFrame(
        [(k, k + v, k, k // 100) for k in keys],
        "k long, v long, w int, p long",
    )


# (name, mutator, keeps the unit that carries the deletion vector)
_CARRY_CASES = [
    ("append", lambda s, t: t.write(_batch(s, [200]), mode="append"), True),
    ("overwrite", lambda s, t: t.write(
        _batch(s, [1, 2]), mode="overwrite"), False),
    ("upsert_cow", lambda s, t: t.upsert(_batch(s, [100, 150]), ["k"]), True),
    ("upsert_mor", lambda s, t: t.upsert(
        _batch(s, [100, 150]), ["k"], strategy="merge-on-read"), True),
    ("upsert_full_sync", lambda s, t: t.upsert_full_sync(
        _batch(s, range(100, 105)), ["k"], delete_scope="k >= 100"), True),
    ("delete_cow", lambda s, t: t.delete_where("k >= 105"), True),
    ("delete_mor", lambda s, t: t.delete_where(
        "k >= 105", strategy="merge-on-read"), True),
    ("delete_keys", lambda s, t: t.delete_keys(
        s.createDataFrame([(101,)], "k long")), True),
    ("update_where", lambda s, t: t.update_where(
        "k >= 105", {"v": "v + 1"}), True),
    ("replace_where", lambda s, t: t.replace_where(
        _batch(s, [105, 106]), "k >= 105"), True),
    ("overwrite_partitions", lambda s, t: t.overwrite_partitions(
        _batch(s, [120])), True),
    ("compact_small_units", lambda s, t: t.compact_small_units(), False),
    ("optimize_where", lambda s, t: t.optimize(where="k >= 100"), True),
    ("restore", lambda s, t: t.restore(
        version=t.latest_commit().version - 1), None),
    ("add_column", lambda s, t: t.add_column("c", "string"), True),
    ("set_column_default", lambda s, t: t.set_column_default(
        "v", "0"), True),
    ("widen_column_type", lambda s, t: t.widen_column_type(
        "w", "bigint"), True),
    ("drop_column", lambda s, t: t.drop_column("w"), True),
    ("rename_column", lambda s, t: t.rename_column("v", "v2"), True),
    ("add_constraint", lambda s, t: t.add_constraint(
        "v_set", "v IS NOT NULL"), True),
    ("drop_constraint", lambda s, t: t.drop_constraint("pos"), True),
    ("set_properties", lambda s, t: t.set_properties(
        {"comment": "x"}), True),
    ("recompute_stats", lambda s, t: t.recompute_stats(), True),
]


@pytest.mark.parametrize(
    "name,mutate,keeps_dv_unit", _CARRY_CASES,
    ids=[c[0] for c in _CARRY_CASES],
)
def test_every_mutator_carries_the_parent_state(
    spark, carry_base, tmp_path_str, name, mutate, keeps_dv_unit
):
    """Each mutator's successor keeps what a version inherits from its
    parent: txn watermarks, COPY INTO sidecars, clustering columns,
    the deletion vectors of units it does not rewrite and the row ids
    of every unit it keeps. RESTORE takes the table state of the
    version it restores and the writer state of the head. A fresh
    instance's replay of the log equals the returned snapshot."""
    t = carry_base.clone_to(os.path.join(tmp_path_str, "t"))
    before = t.latest_commit()
    (dv_rel, dv), = before.deletion_vectors.items()
    dv_unit = dv_rel.split("/")[1]
    after = mutate(spark, t)
    assert after.version == before.version + 1
    assert after.txns == before.txns == {"app": 1}
    assert after.ingest_sidecars == before.ingest_sidecars
    assert len(before.ingest_sidecars) == 1
    base = t.commit_at(before.version - 1) if name == "restore" else before
    assert after.clustered_by == base.clustered_by == ["k"]
    if keeps_dv_unit is None:
        assert after.data_units == base.data_units
        assert after.deletion_vectors == base.deletion_vectors
    elif keeps_dv_unit:
        assert dv_unit in after.data_units
        assert after.deletion_vectors[dv_rel] == dv
    else:
        assert dv_unit not in after.data_units
    for u in set(after.data_units) & set(before.data_units):
        assert after.row_ids[u] == before.row_ids[u], u
    assert set(after.row_ids) == set(after.data_units)
    assert after.row_id_high_water >= before.row_id_high_water
    fresh = ManagedTable(spark, t.path).latest_commit()
    assert fresh == after == t.latest_commit()


def test_commits_are_built_only_by_the_successor_constructor():
    """Every version is derived from its parent by
    ``ManagedTable._next``: ``Commit(`` is called nowhere else in the
    package but where a log state is read back (``_view``) or a legacy
    snapshot is converted (``sync_metadata``)."""
    import ast

    from conftest import REPO

    allowed = {"_next", "_view", "sync_metadata"}
    pkg = REPO / "component_delta_lake_writer_spark"
    offenders = set()
    for f in sorted(pkg.rglob("*.py")):
        def visit(node, fn):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(child, child.name)
                    continue
                if isinstance(child, ast.Call) and "Commit" in (
                    getattr(child.func, "id", None),
                    getattr(child.func, "attr", None),
                ) and fn not in allowed:
                    offenders.add(
                        f"{os.path.relpath(f, REPO)}:{child.lineno} ({fn})"
                    )
                visit(child, fn)

        visit(ast.parse(f.read_text()), None)
    assert offenders == set(), (
        f"build successors with ManagedTable._next: {sorted(offenders)}"
    )
