"""Delta-protocol transaction-log emission (sinks/delta_log.py).

The reference writes true Delta tables via delta-rs
(src/component.py:356 write_batch); these tests assert ManagedTable's
``_delta_log/`` — the table's only log — follows the open Delta
protocol layout and is self-describing: the read-back tests consult
ONLY the Delta log, through readers that share no code with the
engine's snapshot.
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from component_delta_lake_writer_spark.sinks import ManagedTable
from component_delta_lake_writer_spark.sinks.delta_log import replay_delta_log
from component_delta_lake_writer_spark.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmp_path_str():
    with tempfile.TemporaryDirectory() as d:
        yield d


def _actions(table_path: str, version: int) -> list[dict]:
    p = os.path.join(table_path, "_delta_log", f"{version:020d}.json")
    with open(p) as f:
        return [json.loads(line) for line in f]

def _replayed(path: str):
    """(live fs paths, schemaString, partitionColumns) of the log's
    checkpoint-aware replay — the snapshot the engine reads."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        _replay_state,
    )

    st = _replay_state(path)
    md = st["metaData"]
    return sorted(st["adds"]), md["schemaString"], md["partitionColumns"]



def _keys(actions: list[dict]) -> list[str]:
    return [next(iter(a)) for a in actions]


def test_delta_log_layout_create_append_overwrite(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders")
    t.write(o.filter(F.col("o_orderkey") % 3 == 0), mode="append")  # v0
    t.write(o.filter(F.col("o_orderkey") % 3 == 1), mode="append")  # v1
    t.write(o.limit(10), mode="overwrite")  # v2

    v0 = _actions(t.path, 0)
    assert _keys(v0)[:2] == ["protocol", "metaData"]
    assert any("add" in a for a in v0)
    meta = v0[1]["metaData"]
    assert meta["format"] == {"provider": "parquet", "options": {}}
    # schemaString is Spark schema JSON — parseable back into the type
    T.StructType.fromJson(json.loads(meta["schemaString"]))
    # orders carries timestamp_ntz → protocol must gate on the feature
    assert v0[0]["protocol"]["minReaderVersion"] == 3
    assert "timestampNtz" in v0[0]["protocol"]["readerFeatures"]

    v1 = _actions(t.path, 1)
    assert "protocol" not in _keys(v1) and "metaData" not in _keys(v1)
    assert any("add" in a for a in v1)
    assert not any("remove" in a for a in v1)

    v2 = _actions(t.path, 2)
    adds_v01 = {
        a["add"]["path"] for a in v0 + v1 if "add" in a
    }
    removes_v2 = {a["remove"]["path"] for a in v2 if "remove" in a}
    assert removes_v2 == adds_v01  # overwrite drops the whole snapshot
    # every add names a real file with its true size
    for a in v2:
        if "add" in a:
            full = os.path.join(t.path, a["add"]["path"])
            assert os.path.getsize(full) == a["add"]["size"]


def test_delta_log_replay_matches_table_read(spark, tmp_path_str):
    """Snapshot reconstructed purely from _delta_log == ManagedTable
    read (append, append, copy-on-write upsert → adds AND removes)."""
    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders")
    t.write(o.filter(F.col("o_orderkey") % 3 == 0), mode="append")
    t.write(o.filter(F.col("o_orderkey") % 3 == 1), mode="append")
    t.upsert(o.filter(F.col("o_orderkey") % 3 == 2), ["o_orderkey"])

    files, schema_str, pcols = replay_delta_log(t.path)
    assert pcols == []
    schema = T.StructType.fromJson(json.loads(schema_str))
    df = spark.read.schema(schema).parquet(
        *[os.path.join(t.path, f) for f in files]
    )
    assert df.count() == o.count() == t.read().count()
    assert df.schema == t.read().schema
    # upsert rewrote the snapshot: earlier files must be removed
    assert len(files) == len(
        [a for a in _actions(t.path, 2) if "add" in a]
    )


def test_delta_log_partitioned_add_values(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    li = load_table(spark, SF, "lineitem")
    t.write(li, mode="overwrite", partition_by=["l_returnflag"])
    v0 = _actions(t.path, 0)
    assert v0[1]["metaData"]["partitionColumns"] == ["l_returnflag"]
    adds = [a["add"] for a in v0 if "add" in a]
    flags = {a["partitionValues"]["l_returnflag"] for a in adds}
    assert flags == {"A", "N", "R"}
    # replay + partition-aware read reproduces the table incl. the
    # partition column (recovered from the hive layout, Delta-style)
    files, schema_str, pcols = replay_delta_log(t.path)
    df = spark.read.option("basePath", os.path.join(t.path, "_data", adds[0]["path"].split("/")[1])) \
        .parquet(*[os.path.join(t.path, f) for f in files])
    assert df.count() == li.count()
    assert set(df.columns) == set(li.columns)


def test_delta_log_schema_evolution_reemits_metadata(spark, tmp_path_str):
    t = ManagedTable(spark, tmp_path_str + "/t")
    o = load_table(spark, SF, "orders")
    t.write(o.select("o_orderkey"), mode="overwrite")
    t.write(
        o.select("o_orderkey", "o_totalprice"), mode="append",
        schema_mode="merge",
    )
    v1 = _actions(t.path, 1)
    metas = [a["metaData"] for a in v1 if "metaData" in a]
    assert len(metas) == 1
    evolved = T.StructType.fromJson(json.loads(metas[0]["schemaString"]))
    assert [f.name for f in evolved.fields] == ["o_orderkey", "o_totalprice"]
    # table id is stable across metaData re-emissions
    v0_meta = next(a["metaData"] for a in _actions(t.path, 0) if "metaData" in a)
    assert metas[0]["id"] == v0_meta["id"]


@pytest.mark.slow
def test_checkpoint_written_and_replayed(spark, tmp_path):
    """Delta-protocol checkpoints: the 10th commit materializes
    {v:020d}.checkpoint.parquet + _last_checkpoint, and checkpoint-
    aware replay (checkpoint + tail JSON only) reconstructs the same
    snapshot as full JSON replay."""
    import os

    from component_delta_lake_writer_spark.sinks import ManagedTable
    from component_delta_lake_writer_spark.sinks.delta_log import (
        read_last_checkpoint,
        replay_delta_log,
    )
    from component_delta_lake_writer_spark.tables import load_table

    t = ManagedTable(spark, str(tmp_path / "t"))
    o = load_table(spark, SF, "orders").limit(200)
    for i in range(12):  # versions 0..11 — crosses the interval at v9
        t.write(o.filter((F.col("o_orderkey") % 12) == i), mode="append")

    last = read_last_checkpoint(t.path)
    assert last is not None and last["version"] == 9
    assert os.path.exists(
        os.path.join(t.path, "_delta_log", f"{9:020d}.checkpoint.parquet")
    )

    full = replay_delta_log(t.path)
    fast = _replayed(t.path)
    assert fast == full
    # and the reconstructed file set actually reads back to the data
    files, schema_str, _ = fast
    import json as _json

    from pyspark.sql import types as T

    schema = T.StructType.fromJson(_json.loads(schema_str))
    got = spark.read.schema(schema).parquet(
        *[os.path.join(t.path, f) for f in files]
    )
    assert got.count() == t.read().count()


def test_checkpoint_carries_protocol_features_and_tombstones(spark, tmp_path):
    """Spec compliance: a timestampNtz table's checkpoint must carry
    readerFeatures/writerFeatures inside the protocol struct (a 3/7
    protocol row without them is invalid), and remove tombstones for
    files dropped from the snapshot."""
    import pyarrow.parquet as pq

    from component_delta_lake_writer_spark.sinks.delta_log import (
        write_checkpoint,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    o = load_table(spark, SF, "orders")  # carries timestamp_ntz
    t.write(o.limit(100), mode="overwrite")          # v0
    t.write(o.limit(50), mode="overwrite")           # v1: v0 files removed
    t.write(o.limit(10), mode="append")              # v2
    write_checkpoint(t.path, 2)
    rows = pq.read_table(
        os.path.join(t.path, "_delta_log", f"{2:020d}.checkpoint.parquet")
    ).to_pylist()
    proto = next(r["protocol"] for r in rows if r["protocol"])
    assert proto["minReaderVersion"] == 3
    assert "timestampNtz" in proto["readerFeatures"]
    assert "timestampNtz" in proto["writerFeatures"]
    tombs = [r["remove"] for r in rows if r["remove"]]
    assert tombs, "overwritten v0 files need remove tombstones"
    assert all(
        tomb["path"] and tomb["deletionTimestamp"] for tomb in tombs
    )
    adds = {r["add"]["path"] for r in rows if r["add"]}
    assert adds.isdisjoint({tomb["path"] for tomb in tombs})


@pytest.mark.slow
def test_mor_commits_materialize_deletion_vectors(spark, tmp_path):
    """Merge-on-read deletes are real Delta deletion vectors: the
    engine commit and the mirror carry the same descriptors, the
    affected file's add carries one, and an external reader sees
    exactly the engine's snapshot."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        live_dv_descriptors,
    )
    from delta_verifier import read_delta_table
    from component_delta_lake_writer_spark.sinks.deletion_vectors import (
        dv_relative_path,
        read_dv,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite", primary_key=["k"])
    t.delete_where("k >= 90", strategy="merge-on-read")
    dvs = live_dv_descriptors(t.path)
    assert t.latest_commit().deletion_vectors == dvs
    assert len(dvs) == 1
    (desc,) = dvs.values()
    assert desc["cardinality"] == 10
    assert os.path.exists(os.path.join(t.path, dv_relative_path(desc)))
    # a second MOR op UNIONS into the file's bitmap (descriptors
    # replace, so the new one must carry the old deletions too)
    t.upsert(
        df.filter(F.col("k") < 5).withColumn(
            "v", F.lit(-1).cast("long")
        ).coalesce(1),
        ["k"],
        strategy="merge-on-read",
    )
    dvs2 = live_dv_descriptors(t.path)
    assert t.latest_commit().deletion_vectors == dvs2
    old_file = next(iter(dvs))
    assert dvs2[old_file]["cardinality"] == 15     # 10 deletes + 5 upserts
    assert len(read_dv(t.path, dvs2[old_file])) == 15
    # external reader == engine, including post-upsert values
    eng = sorted((r["k"], r["v"]) for r in t.read().collect())
    ext = sorted(
        (r["k"], r["v"])
        for r in read_delta_table(spark, t.path).collect()
    )
    assert eng == ext and len(eng) == 90
    # optimize materializes everything -> descriptors gone, plain replay
    t.optimize()
    assert live_dv_descriptors(t.path) == {}
    files, _, _ = replay_delta_log(t.path)
    got = spark.read.parquet(*[os.path.join(t.path, f) for f in files])
    assert got.count() == t.read().count() == 90


@pytest.mark.slow
def test_vacuum_reclaims_expired_change_sets(spark, tmp_path):
    """CDF change files follow the unit liveness rule: vacuum deletes
    the files commit N names exactly when commit N left the retention
    window."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    props = {"enableChangeDataFeed": True}
    t.write(df, mode="overwrite", primary_key=["k"], properties=props)
    for i in range(3):
        t.upsert(
            df.filter(F.col("k") % 5 == i).withColumn(
                "v", F.lit(-1 - i).cast("long")
            ),
            ["k"],
        )
    cdir = os.path.join(t.path, "_change_data")

    def dirs(versions):
        return sorted({
            f.split("/")[1]
            for v in versions for f in t.commit_at(v).cdc_files
        })

    assert sorted(os.listdir(cdir)) == dirs([1, 2, 3])
    assert len(dirs([1, 2, 3])) == 3
    # retention window keeps everything -> nothing reclaimed
    assert t.vacuum(retention_hours=1.0) == 0
    assert sorted(os.listdir(cdir)) == dirs([1, 2, 3])
    # aggressive vacuum keeps only the latest snapshot's commit
    t.vacuum(retention_hours=0.0)
    assert sorted(os.listdir(cdir)) == dirs([3])
    # the surviving change set still reads
    assert t.read_changes(2).count() > 0


def test_cdf_change_set_carries_schema_merge_columns(spark, tmp_path):
    """A schema_mode='merge' upsert's NEW columns must reach the
    persisted change set (projecting onto the old target schema would
    NULL them out for CDF consumers)."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(
        df, mode="overwrite", primary_key=["k"],
        properties={"enableChangeDataFeed": True},
    )
    src = spark.range(5, 12).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("long").alias("v"),
        F.lit("tagged").alias("tag"),
    )
    t.upsert(src, ["k"], schema_mode="merge")
    ch = t.read_changes(0)
    assert "tag" in ch.columns
    assert ch.filter(F.col("tag") == "tagged").count() == 7


def test_protocol_never_downgrades_in_mirror(spark, tmp_path):
    """Delta never auto-downgrades protocol: after ADD COLUMN DEFAULT
    lifts the mirror to writer 7 (allowColumnDefaults), an overwrite
    that drops the DEFAULT column must NOT re-emit a lower protocol —
    the prior action stands (monotonic capability set)."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(10).select(F.col("id").alias("k"))
    t.write(df, mode="overwrite")                       # v0: 1/2
    t.add_column("v", "long", default="42")             # v1: -> writer 7
    v1 = _actions(t.path, 1)
    protos = [a["protocol"] for a in v1 if "protocol" in a]
    assert protos and protos[0]["minWriterVersion"] == 7
    assert "allowColumnDefaults" in protos[0]["writerFeatures"]
    # capability LOSS: plain schema again — no protocol action at all
    t.write(df, mode="overwrite")                       # v2
    v2 = _actions(t.path, 2)
    assert not any("protocol" in a for a in v2)
    # and the log's effective protocol is still the writer-7 one
    from component_delta_lake_writer_spark.sinks.delta_log import (
        _replay_state,
    )
    assert _replay_state(t.path)["protocol"]["minWriterVersion"] == 7


def test_protocol_upgrade_merge_is_monotonic_max():
    """Unit contract of _protocol_upgrade: coverage is judged against
    the capabilities the schema USES (not the ladder expansion of the
    derived action — implied-but-unused features must never count as
    requirements), strict upgrades emit the new action verbatim, and
    the mixed case emits the monotonic max as table features."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        _protocol_upgrade,
    )

    legacy_2 = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    legacy_4 = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}}
    legacy_25 = {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
    feats_defaults = {
        "protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["appendOnly", "invariants",
                               "allowColumnDefaults"],
        }
    }
    feats_cm_defaults = {
        "protocol": {
            "minReaderVersion": 2, "minWriterVersion": 7,
            "writerFeatures": ["appendOnly", "invariants", "columnMapping",
                               "allowColumnDefaults"],
        }
    }
    # strict upgrade: emitted verbatim
    assert _protocol_upgrade(
        legacy_2, legacy_4, {"generatedColumns"}
    ) is legacy_4
    # downgrade / already covered: nothing emitted
    assert _protocol_upgrade(legacy_4, legacy_2, set()) is None
    assert _protocol_upgrade(feats_defaults, legacy_2, set()) is None
    # CAPABILITY LOSS on a column-mapped table (review finding): after
    # allowColumnDefaults was granted, dropping the DEFAULT column
    # derives legacy (2,5) whose USED caps are just {columnMapping} —
    # already granted via the hybrid (2,7) reader version, so NOTHING
    # may be emitted (the old caps-shape compare escalated to 3/7 with
    # phantom checkConstraints/changeDataFeed here)
    assert _protocol_upgrade(
        feats_cm_defaults, legacy_25, {"columnMapping"}
    ) is None
    # mixed: defaults lost but generatedColumns (ladder 4) gained ->
    # union of both capability sets at writer 7
    up = _protocol_upgrade(
        feats_defaults, legacy_4, {"generatedColumns"}
    )
    feats = set(up["protocol"]["writerFeatures"])
    assert {"allowColumnDefaults", "generatedColumns",
            "changeDataFeed", "appendOnly", "invariants"} <= feats
    assert up["protocol"]["minWriterVersion"] == 7
    # no reader-relevant feature in play -> reader version must NOT
    # jump to 3 (that would itself be a gratuitous escalation)
    assert up["protocol"]["minReaderVersion"] == 1


def _try_duckdb_delta():
    """Probe: DuckDB's delta extension, if it is already installed (the
    probe never downloads it). Returns a connection with the extension
    loaded, or None."""
    import duckdb

    try:
        con = duckdb.connect(
            config={
                "autoinstall_known_extensions": False,
                "autoload_known_extensions": False,
            }
        )
        con.execute("LOAD delta")
        return con
    except Exception:
        return None


def _normalized_log(table_path: str) -> list[list[dict]]:
    """Every _delta_log action with nondeterminism canonicalized:
    unit dirs -> U<n>, part-file uuids -> P<n>, sizes -> 'S',
    timestamps -> 'T', table id -> 'ID' (placeholders numbered in
    first-appearance order, so file identity/reuse is still pinned)."""
    import re

    log_dir = os.path.join(table_path, "_delta_log")
    units: dict[str, str] = {}
    parts: dict[str, str] = {}

    def canon_path(p: str) -> str:
        m = re.match(r"_data/([0-9a-f]{32})/part-(\d+)-([0-9a-f-]{36})-c000"
                     r"\.(\w+)\.parquet", p)
        assert m, f"unexpected add/remove path shape: {p}"
        u = units.setdefault(m.group(1), f"U{len(units)}")
        pu = parts.setdefault(m.group(3), f"P{len(parts)}")
        return f"_data/{u}/part-{m.group(2)}-{pu}.{m.group(4)}.parquet"

    out = []
    for fn in sorted(f for f in os.listdir(log_dir) if f.endswith(".json")):
        acts = []
        with open(os.path.join(log_dir, fn)) as fh:
            for line in fh:
                a = json.loads(line)
                if "add" in a:
                    a["add"]["path"] = canon_path(a["add"]["path"])
                    a["add"]["size"] = "S"
                    a["add"]["modificationTime"] = "T"
                if "remove" in a:
                    a["remove"]["path"] = canon_path(a["remove"]["path"])
                    a["remove"]["deletionTimestamp"] = "T"
                if "metaData" in a:
                    a["metaData"]["id"] = "ID"
                    a["metaData"]["createdTime"] = "T"
                if "commitInfo" in a:
                    a["commitInfo"]["timestamp"] = "T"
                acts.append(a)
        out.append(acts)
    return out


def test_delta_log_external_reader_interop(spark, tmp_path):
    """VERDICT r3 task 4: prove the mirror against an EXTERNAL reader.
    If DuckDB's delta extension is loadable (needs network; probe
    documented), scan the mirrored table through it and compare
    against ManagedTable.read(). Always: pin the BYTE-LEVEL GOLDEN LOG
    (timestamps/uuids/sizes canonicalized) for a fixed create → append
    → upsert → delete sequence, so any format drift an external
    replayer would see fails here first."""
    from pyspark.sql import functions as F

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite", primary_key=["k"])
    t.write(
        spark.range(10, 15).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).coalesce(1),
        mode="append",
    )
    t.upsert(
        spark.range(3).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ).coalesce(1),
        ["k"],
    )
    t.delete_where("k = 7")

    con = _try_duckdb_delta()
    if con is not None:
        got = con.execute(
            f"SELECT k, v FROM delta_scan('{t.path}') ORDER BY k"
        ).fetchall()
        want = [(r["k"], r["v"]) for r in t.read().orderBy("k").collect()]
        assert got == want
        con.close()

    norm = _normalized_log(t.path)
    # v0: protocol, metaData, one add, commitInfo — exact actions
    assert norm[0][0] == {
        "protocol": {"minReaderVersion": 1, "minWriterVersion": 2}
    }
    md = norm[0][1]["metaData"]
    assert md["format"] == {"provider": "parquet", "options": {}}
    assert md["partitionColumns"] == []
    assert [next(iter(a)) for a in norm[0]] == [
        "protocol", "metaData", "add", "commitInfo"
    ]
    assert norm[0][2]["add"] == {
        "path": "_data/U0/part-00000-P0.snappy.parquet",
        "partitionValues": {}, "size": "S", "modificationTime": "T",
        "dataChange": True,
        "stats": json.dumps({
            "numRecords": 10,
            "minValues": {"k": 0, "v": 0},
            "maxValues": {"k": 9, "v": 18},
            "nullCount": {"k": 0, "v": 0},
        }),
    }
    # v1 append: add only, no metaData/protocol re-emission
    assert [next(iter(a)) for a in norm[1]] == ["add", "commitInfo"]
    assert norm[1][0]["add"]["path"].startswith("_data/U1/")
    # v2 upsert (copy-on-write, UNIT-PRUNED): the source keys 0-2
    # overlap only U0's range, so v2 removes EXACTLY U0's file — U1
    # (keys 10-14) is carried untouched, never re-added, never removed
    v2 = norm[2]
    removed = {a["remove"]["path"] for a in v2 if "remove" in a}
    assert removed == {"_data/U0/part-00000-P0.snappy.parquet"}
    assert all(
        a["add"]["path"].startswith("_data/U2/") for a in v2 if "add" in a
    )
    assert v2[-1]["commitInfo"]["operation"] == "MERGE"
    # v3 delete (k=7 lives in the rewritten U2): removes exactly v2's
    # adds, U1 again untouched, operation DELETE
    v3 = norm[3]
    assert {a["remove"]["path"] for a in v3 if "remove" in a} == {
        a["add"]["path"] for a in v2 if "add" in a
    }
    assert not any(
        "U1" in a.get("remove", {}).get("path", "") for a in v3
    )
    assert v3[-1]["commitInfo"]["operation"] == "DELETE"
    # every commit ends with commitInfo carrying the engine banner
    for acts in norm:
        assert acts[-1]["commitInfo"]["engineInfo"] == (
            "component-delta-lake-writer-spark"
        )


def test_column_mapping_ids_immutable_across_drop(spark, tmp_path):
    """Spec: columnMapping ids never renumber and maxColumnId only
    grows. After rename + DROP of the first column, the survivors keep
    their original ids; a later ADD allocates past the high-water."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(
        spark.createDataFrame([(1, 2, 3)], "a int, b int, c int"),
        mode="overwrite",
    )
    t.rename_column("a", "a2")        # mapping active; ids assigned

    def ids():
        md = next(
            a["metaData"]
            for a in reversed(_actions(t.path, t.latest_commit().version))
            if "metaData" in a
        )
        out = {}
        for f in json.loads(md["schemaString"])["fields"]:
            m = f["metadata"]
            out[f["name"]] = (
                m["delta.columnMapping.id"],
                m["delta.columnMapping.physicalName"],
            )
        cfg = md["configuration"]
        return out, int(cfg["delta.columnMapping.maxColumnId"])

    before, max0 = ids()
    t.drop_column("a2")
    after, max1 = ids()
    assert after["b"] == before["b"] and after["c"] == before["c"]
    assert max1 >= max0                      # never shrinks
    t.add_column("d", "long")
    final, max2 = ids()
    used = {i for i, _ in before.values()}
    assert final["d"][0] not in used         # fresh id past high-water
    assert max2 >= max1


def test_protocol_not_fooled_by_column_named_timestamp_ntz(spark, tmp_path):
    """A plain string column NAMED timestamp_ntz must not trigger the
    timestampNtz feature (substring probe false positive)."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(
        spark.createDataFrame([("x",)], "timestamp_ntz string"),
        mode="overwrite",
    )
    v0 = _actions(t.path, 0)
    p = v0[0]["protocol"]
    assert p == {"minReaderVersion": 1, "minWriterVersion": 2}


def test_mapping_on_ntz_table_upgrades_protocol(spark, tmp_path):
    """Review finding: reader-3 feature-form protocols grant exactly
    what they LIST — enabling column mapping on a timestampNtz table
    must emit an upgraded protocol carrying columnMapping."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        _replay_state,
    )

    o = load_table(spark, SF, "orders")      # carries timestamp_ntz
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(o.limit(5), mode="overwrite")
    v0p = _actions(t.path, 0)[0]["protocol"]
    assert "timestampNtz" in v0p["readerFeatures"]
    assert "columnMapping" not in v0p.get("readerFeatures", [])
    t.rename_column("o_orderpriority", "prio")
    rp = _replay_state(t.path)["protocol"]
    assert "columnMapping" in rp.get("readerFeatures", []), rp
    assert "columnMapping" in rp.get("writerFeatures", []), rp


def test_action_paths_percent_encoded_for_hive_escapes(spark, tmp_path):
    """Spec: add/remove paths are percent-encoded URIs. A partition
    value containing '%'/' ' is hive-escaped on disk; the action path
    must re-encode those escapes so a URL-decoding reader resolves
    the real file — and our own replay must round-trip it."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(
        spark.createDataFrame(
            [(1, "a%b"), (2, "c d")], "k int, part string"
        ),
        mode="overwrite", partition_by=["part"],
    )
    adds = [a["add"]["path"] for a in _actions(t.path, 0) if "add" in a]
    assert any("%2525" in p for p in adds), adds    # on-disk %25 -> %2525
    assert any("%20" in p for p in adds), adds      # literal space -> %20
    files, _schema, _p = replay_delta_log(t.path)
    for fp in files:
        assert os.path.exists(os.path.join(t.path, fp)), fp


def test_checkpoint_carries_txn_watermarks(spark, tmp_path):
    """Spec: checkpoints include the latest setTransaction per appId —
    external idempotent writers replay from the checkpoint and must
    find the watermark."""
    import pyarrow.parquet as pq

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(5).select(F.col("id").alias("k"))
    t.write(df, mode="overwrite", primary_key=["k"])
    for i in range(1, 9):
        t.write(df.withColumn("k", F.col("k") + i * 100), mode="append",
                txn=("writer-a", i))
    # 10th commit triggers the checkpoint
    t.write(df.withColumn("k", F.col("k") + 10_000), mode="append",
            txn=("writer-b", 1))
    ckpt = os.path.join(
        t.path, "_delta_log", f"{9:020d}.checkpoint.parquet"
    )
    assert os.path.exists(ckpt)
    rows = pq.read_table(ckpt).to_pylist()
    txns = {r["txn"]["appId"]: r["txn"]["version"]
            for r in rows if r.get("txn")}
    assert txns == {"writer-a": 8, "writer-b": 1}


def test_created_time_stable_across_schema_evolution(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    o = load_table(spark, SF, "orders")
    t.write(o.select("o_orderkey"), mode="overwrite")
    md0 = next(a["metaData"] for a in _actions(t.path, 0) if "metaData" in a)
    t.write(o.select("o_orderkey", "o_totalprice"), mode="append",
            schema_mode="merge")
    md1 = next(a["metaData"] for a in _actions(t.path, 1) if "metaData" in a)
    assert md1["createdTime"] == md0["createdTime"]


def test_nested_column_mapping_ids_stable_across_reemission(spark, tmp_path):
    """Regression (ADVICE r5, medium): the prior-id lookup walked only
    top-level fields while `_mapped_schema_string` keys nested fields
    by dotted physical path — so every metaData re-emission on a
    column-mapped table with nested structs renumbered the nested ids
    past maxColumnId, violating Delta's id-immutability rule. Nested
    ids must now survive schema evolution AND a second rename, and
    maxColumnId must grow only by genuinely new columns."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        _mapping_ids,
        _replay_state,
    )

    def _prior_mapping_ids(path):
        return _mapping_ids(_replay_state(path)["metaData"])

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, (10, "x"), [(7,)], {"m": (3,)})],
        "k int, s struct<a:int,b:string>, "
        "arr array<struct<c:int>>, mp map<string,struct<d:int>>",
    )
    t.write(df, mode="overwrite")
    t.rename_column("k", "k2")          # mapping enabled; ids assigned
    ids0, max0 = _prior_mapping_ids(t.path)
    # nested fields MUST be present in the prior-id map (the bug was
    # that only top-level physicalNames were recovered)
    assert "s.a" in ids0 and "s.b" in ids0, ids0
    assert "arr.element.c" in ids0, ids0
    assert "mp.value.d" in ids0, ids0
    assert max0 == max(ids0.values())

    t.add_column("extra", "long")       # metaData re-emission #1
    ids1, max1 = _prior_mapping_ids(t.path)
    for key, pid in ids0.items():
        assert ids1[key] == pid, (key, pid, ids1)
    # exactly ONE fresh id for 'extra' — no renumber-driven inflation
    assert max1 == max0 + 1, (max0, max1, ids1)

    t.rename_column("k2", "k3")         # metaData re-emission #2
    ids2, max2 = _prior_mapping_ids(t.path)
    assert ids2 == ids1 and max2 == max1


def test_nested_schema_golden_log_replay(spark, tmp_path):
    """Golden-log interop, nested-schema case: a mapped table whose
    schema nests struct/array columns must replay a schemaString whose
    nested ids match across commits (any external reader resolves
    columns through these ids)."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, (10, "x"))], "k int, s struct<a:int,b:string>"
    )
    t.write(df.coalesce(1), mode="overwrite")
    t.rename_column("k", "key")

    def nested_ids(schema_str):
        s = json.loads(schema_str)
        f_s = next(f for f in s["fields"] if f["name"] == "s")
        return {
            nf["name"]: nf["metadata"]["delta.columnMapping.id"]
            for nf in f_s["type"]["fields"]
        }

    _files, schema1, _p = replay_delta_log(t.path)
    before = nested_ids(schema1)
    t.add_column("extra", "long")
    _files, schema2, _p = replay_delta_log(t.path)
    assert nested_ids(schema2) == before
    # and the replayed schema is loadable as a Spark schema
    T.StructType.fromJson(json.loads(schema2))


def test_checkpoint_preserves_deletion_vectors(spark, tmp_path):
    """A checkpoint written while DVs are live must carry the
    descriptors (a checkpoint that dropped them would resurrect
    deleted rows for every reader loading from it) — and
    checkpoint-aware external reads must still match the engine."""
    import pyarrow.parquet as pq

    from component_delta_lake_writer_spark.sinks.delta_log import (
        read_last_checkpoint,
    )
    from delta_verifier import read_delta_table

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite", primary_key=["k"])
    t.delete_where("k >= 35", strategy="merge-on-read")   # v1: DV
    add = spark.range(100, 105).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1)
    for i in range(8):                                    # v2..v9
        t.write(add.withColumn("k", F.col("k") + i * 10), mode="append")
    last = read_last_checkpoint(t.path)
    assert last is not None and last["version"] == 9
    rows = pq.read_table(
        os.path.join(
            t.path, "_delta_log", f"{9:020d}.checkpoint.parquet"
        )
    ).to_pylist()
    dv_adds = [r["add"] for r in rows
               if r.get("add") and r["add"].get("deletionVector")]
    assert len(dv_adds) == 1
    assert dv_adds[0]["deletionVector"]["cardinality"] == 5
    eng = sorted((r["k"], r["v"]) for r in t.read().collect())
    ext = sorted(
        (r["k"], r["v"])
        for r in read_delta_table(spark, t.path).collect()
    )
    assert eng == ext and len(eng) == 75


def test_restore_rematerializes_dvs_for_readded_units(spark, tmp_path):
    """A merge-on-read delete spanning two units, one later rewritten
    (COW) and then RESTORED: the restored unit's file comes back as an
    add that must carry its deletion vector again, or external readers
    would silently resurrect the deleted rows."""
    from delta_verifier import read_delta_table

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.filter("k < 10").coalesce(1), mode="overwrite",
            primary_key=["k"])                      # unit A
    t.write(df.filter("k >= 10").coalesce(1), mode="append")  # unit B
    t.delete_where("k >= 5 AND k < 15", strategy="merge-on-read")
    t.delete_where("k = 19")     # COW rewrite of unit B only
    t.restore(2)                 # unit B's original file re-added
    eng = sorted(r["k"] for r in t.read().collect())
    ext = sorted(
        r["k"] for r in read_delta_table(spark, t.path).collect()
    )
    assert eng == ext == [0, 1, 2, 3, 4, 15, 16, 17, 18, 19]


def test_vacuum_reclaims_orphaned_dv_files(spark, tmp_path):
    """Every DV swap / optimize orphans its predecessor's
    deletion_vector_*.bin; vacuum must reclaim files referenced by no
    retained mirror action while keeping the live one."""
    import time as _time

    from component_delta_lake_writer_spark.sinks.delta_log import (
        live_dv_descriptors,
    )
    from delta_verifier import read_delta_table
    from component_delta_lake_writer_spark.sinks.deletion_vectors import (
        dv_relative_path,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite", primary_key=["k"])
    t.delete_where("k >= 25", strategy="merge-on-read")  # DV #1
    t.delete_where("k >= 20", strategy="merge-on-read")  # swap -> DV #2
    bins = [f for f in os.listdir(t.path)
            if f.startswith("deletion_vector_")]
    assert len(bins) == 2
    live = {dv_relative_path(d)
            for d in live_dv_descriptors(t.path).values()}
    assert len(live) == 1
    # age the files past the in-flight grace window
    old = _time.time() - 3600
    for f in bins:
        os.utime(os.path.join(t.path, f), (old, old))
    t.vacuum(retention_hours=0.0)
    left = {f for f in os.listdir(t.path)
            if f.startswith("deletion_vector_")}
    assert left == live, (left, live)
    # external read still exact after GC
    eng = sorted(r["k"] for r in t.read().collect())
    ext = sorted(r["k"] for r in read_delta_table(spark, t.path).collect())
    assert eng == ext and len(eng) == 20
    # optimize materializes -> the last DV file becomes reclaimable
    t.optimize()
    for f in os.listdir(t.path):
        if f.startswith("deletion_vector_"):
            os.utime(os.path.join(t.path, f), (old, old))
    t.vacuum(retention_hours=0.0)
    assert not [f for f in os.listdir(t.path)
                if f.startswith("deletion_vector_")]


@pytest.mark.slow
def test_dv_with_column_mapping_and_partitioning(spark, tmp_path):
    """DVs compose with the mirror's other dimensions: (a) a
    column-mapped table's DV scan resolves delete-key columns through
    physical names and the external reader still matches; (b) a
    partitioned table's DV re-add carries the hive-derived
    partitionValues."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        live_dv_descriptors,
    )
    from delta_verifier import read_delta_table

    # (a) mapped
    t = ManagedTable(spark, str(tmp_path / "m"))
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite", primary_key=["k"])
    t.rename_column("v", "val")
    t.delete_where("k >= 15", strategy="merge-on-read")
    eng = sorted((r["k"], r["val"]) for r in t.read().collect())
    ext = sorted(
        (r["k"], r["val"])
        for r in read_delta_table(spark, t.path).collect()
    )
    assert eng == ext and len(eng) == 15

    # (b) partitioned
    p = ManagedTable(spark, str(tmp_path / "p"))
    pdf = spark.range(20).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    p.write(pdf, mode="overwrite", primary_key=["k"], partition_by=["p"])
    p.delete_where("k >= 15", strategy="merge-on-read")
    assert _replayed(p.path)[2] == ["p"] and live_dv_descriptors(p.path)
    acts = _actions(p.path, 1)
    dv_adds = [a["add"] for a in acts
               if "add" in a and a["add"].get("deletionVector")]
    assert dv_adds and all(a["partitionValues"].get("p") in ("0", "1")
                           for a in dv_adds)
    assert sum(a["deletionVector"]["cardinality"] for a in dv_adds) == 5


def test_vacuum_keeps_dvs_of_retained_snapshots(spark, tmp_path):
    """Review finding: a DV introduced BEFORE the retention window but
    live at a RETAINED (non-head) snapshot must survive vacuum — and
    once no retained snapshot references it, it is reclaimed. The
    discriminating shape: the DV-introducing commit is aged OUT of the
    window, a later in-window OPTIMIZE drops the DV from head, so only
    the oldest-retained-snapshot replay pins it (per-version add
    deltas + head replay alone would reclaim it and break in-window
    time travel)."""
    import json as _json
    import time as _time

    from component_delta_lake_writer_spark.sinks.deletion_vectors import (
        dv_relative_path,
    )
    from component_delta_lake_writer_spark.sinks.delta_log import (
        live_dv_descriptors,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite", primary_key=["k"])  # v0
    t.delete_where("k >= 25", strategy="merge-on-read")           # v1 DV-A
    dv_a = {dv_relative_path(d)
            for d in live_dv_descriptors(t.path).values()}
    add = spark.range(100, 105).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1)
    t.write(add, mode="append")                                   # v2
    t.optimize()                       # v3: materializes deletes; head
    assert not live_dv_descriptors(t.path)       # DV-A gone from head
    # age v0/v1 (and the DV file) out of a 24h retention window
    old_ms = int((_time.time() - 48 * 3600) * 1000)
    for v in (0, 1):
        p = os.path.join(t.path, "_delta_log", f"{v:020d}.json")
        with open(p) as fh:
            acts = [_json.loads(line) for line in fh]
        for a in acts:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = old_ms
        with open(p, "w") as fh:
            fh.writelines(_json.dumps(a) + "\n" for a in acts)
    for f in os.listdir(t.path):
        if f.startswith("deletion_vector_"):
            os.utime(os.path.join(t.path, f),
                     (old_ms / 1000, old_ms / 1000))
    # window = {v2, v3}: DV-A is live at the v2 snapshot (time travel
    # to v2 must still skip k>=25) -> must survive
    t.vacuum(retention_hours=24.0)
    kept = {f for f in os.listdir(t.path)
            if f.startswith("deletion_vector_")}
    assert kept == dv_a
    # window = {v3} only: no retained snapshot references DV-A -> gone
    t.vacuum(retention_hours=0.0)
    assert not [f for f in os.listdir(t.path)
                if f.startswith("deletion_vector_")]


def test_read_delta_table_empty_snapshot(spark, tmp_path):
    """Review finding: zero live files (all rows deleted copy-on-write)
    must read back as an EMPTY frame, not IndexError."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        read_delta_table,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(
        spark.createDataFrame([(1, 1.0)], "k int, v double"),
        mode="overwrite", primary_key=["k"],
    )
    t.delete_where("k = 1")  # COW: snapshot has no files
    out = read_delta_table(spark, t.path)
    assert out.count() == 0 and out.columns == ["k", "v"]


@pytest.mark.slow
def test_latest_metadata_checkpoint_bounded(spark, tmp_path):
    """Review finding: the latest-metaData probe must be CHECKPOINT-
    bounded — a never-evolved table keeps its only metaData at v0, and
    the unbounded newest-first scan made every rewrite commit's
    DV-config probe O(history). Discriminator: after external metadata
    cleanup removes the pre-checkpoint JSON entries (which delta-rs/
    Spark legitimately do), the metaData must still resolve via the
    checkpoint's own row."""
    from component_delta_lake_writer_spark.sinks import ManagedTable
    from component_delta_lake_writer_spark.sinks.delta_log import (
        _replay_state,
        read_last_checkpoint,
    )
    from component_delta_lake_writer_spark.tables import load_table

    t = ManagedTable(spark, str(tmp_path / "t"))
    o = load_table(spark, SF, "orders").limit(120).select(
        "o_orderkey", "o_orderstatus"
    )
    t.write(o.coalesce(1), mode="overwrite", primary_key=["o_orderkey"])
    t.delete_where("o_orderkey % 7 = 0", strategy="merge-on-read")  # DV
    for i in range(9):  # cross the checkpoint interval at v9
        t.write(
            o.filter((F.col("o_orderkey") % 9) == i)
            .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
            .coalesce(1),
            mode="append",
        )
    ck = read_last_checkpoint(t.path)
    assert ck is not None and ck["version"] == 9
    log_dir = os.path.join(t.path, "_delta_log")
    # simulate external metadata cleanup: drop all pre-checkpoint JSON
    for v in range(ck["version"]):
        os.unlink(os.path.join(log_dir, f"{v:020d}.json"))
    md = _replay_state(t.path)["metaData"]
    assert md is not None
    cfg = md.get("configuration") or {}
    assert cfg.get("delta.enableDeletionVectors") == "true"
    assert ManagedTable(spark, t.path).latest_commit().deletion_vectors
    # the scan must never have opened the (now missing) early entries:
    # a fresh append commit still publishes cleanly on this table
    t.write(
        o.limit(5).withColumn(
            "o_orderkey", F.col("o_orderkey") + 20_000_000
        ).coalesce(1),
        mode="append",
    )


# ---------------------------------------------------------------------------
# Row tracking (rowTracking + domainMetadata writer features) and
# in-commit timestamps (inCommitTimestamp writer feature)
# ---------------------------------------------------------------------------


def _rt_table(spark, d, extra_props=None):
    t = ManagedTable(spark, os.path.join(d, "t"))
    df = spark.range(8).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t.write(
        df.repartition(1).sortWithinPartitions("k"),
        mode="overwrite",
        primary_key=["k"],
        properties={
            "delta.enableRowTracking": "true",
            **(extra_props or {}),
        },
    )
    return t


def test_row_tracking_mirror_actions(spark, tmp_path_str):
    t = _rt_table(spark, tmp_path_str)
    t.write(
        spark.range(8, 13)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartition(1),
        mode="append",
    )
    a0 = _actions(t.path, 0)
    proto = next(a["protocol"] for a in a0 if "protocol" in a)
    assert {"rowTracking", "domainMetadata"} <= set(
        proto["writerFeatures"]
    )
    assert proto["minWriterVersion"] == 7
    meta = next(a["metaData"] for a in a0 if "metaData" in a)
    assert meta["configuration"]["delta.enableRowTracking"] == "true"
    dm0 = next(a["domainMetadata"] for a in a0 if "domainMetadata" in a)
    assert dm0["domain"] == "delta.rowTracking"
    assert json.loads(dm0["configuration"])["rowIdHighWaterMark"] == 7
    add0 = next(a["add"] for a in a0 if "add" in a)
    assert add0["baseRowId"] == 0
    assert add0["defaultRowCommitVersion"] == 0
    a1 = _actions(t.path, 1)
    dm1 = next(a["domainMetadata"] for a in a1 if "domainMetadata" in a)
    assert json.loads(dm1["configuration"])["rowIdHighWaterMark"] == 12
    add1 = next(a["add"] for a in a1 if "add" in a)
    # fresh ids start past the prior high-water mark — the append must
    # NOT renumber commit 0
    assert add1["baseRowId"] == 8
    assert add1["defaultRowCommitVersion"] == 1


def test_ict_commitinfo_first_and_monotonic(spark, tmp_path_str, monkeypatch):
    t = _rt_table(
        spark, tmp_path_str,
        extra_props={"delta.enableInCommitTimestamps": "true"},
    )
    # a regressed wall clock must not regress the commit clock
    import component_delta_lake_writer_spark.sinks.managed_table as mt

    frozen = t.commit_at(0).timestamp_ms / 1000.0 - 3600.0
    monkeypatch.setattr(mt.time, "time", lambda: frozen)
    t.write(
        spark.range(100, 103)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")),
        mode="append",
    )
    ts0 = t.commit_at(0).timestamp_ms
    ts1 = t.commit_at(1).timestamp_ms
    assert ts1 == ts0 + 1  # strictly monotonic despite the hour-old clock
    for v, want in ((0, ts0), (1, ts1)):
        acts = _actions(t.path, v)
        # spec: commitInfo is the FIRST action and carries the ICT
        assert _keys(acts)[0] == "commitInfo"
        assert acts[0]["commitInfo"]["inCommitTimestamp"] == want
    proto = next(a["protocol"] for a in _actions(t.path, 0) if "protocol" in a)
    assert "inCommitTimestamp" in proto["writerFeatures"]


def test_ict_midhistory_enablement_properties(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(5).select(F.col("id").alias("k"))
    t.write(df, mode="overwrite", primary_key=["k"])
    t.set_properties({"delta.enableInCommitTimestamps": "true"})
    c = t.latest_commit()
    assert c.properties["delta.inCommitTimestampEnablementVersion"] == "1"
    assert (
        c.properties["delta.inCommitTimestampEnablementTimestamp"]
        == str(c.timestamp_ms)
    )
    # the enablement commit re-emits metaData with the ICT config and
    # upgrades the protocol
    a1 = _actions(t.path, 1)
    meta = next(a["metaData"] for a in a1 if "metaData" in a)
    cfg = meta["configuration"]
    assert cfg["delta.enableInCommitTimestamps"] == "true"
    assert cfg["delta.inCommitTimestampEnablementVersion"] == "1"
    assert _keys(a1)[0] == "commitInfo"
    protos = [a["protocol"] for a in a1 if "protocol" in a]
    assert protos and "inCommitTimestamp" in protos[0]["writerFeatures"]


@pytest.mark.slow
def test_row_tracking_checkpoint_carries_domain_and_ids(spark, tmp_path_str):
    from component_delta_lake_writer_spark.sinks.delta_log import (
        read_last_checkpoint,
    )
    import pyarrow.parquet as pq

    t = _rt_table(spark, tmp_path_str)
    for i in range(9):  # versions 1..9 -> checkpoint at 9
        t.write(
            spark.range(100 + i, 101 + i)
            .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
            .repartition(1),
            mode="append",
        )
    last = read_last_checkpoint(t.path)
    assert last is not None and last["version"] == 9
    ckpt = pq.read_table(
        os.path.join(
            t.path, "_delta_log", f"{last['version']:020d}.checkpoint.parquet"
        )
    ).to_pylist()
    doms = [r["domainMetadata"] for r in ckpt if r.get("domainMetadata")]
    assert len(doms) == 1 and doms[0]["domain"] == "delta.rowTracking"
    assert json.loads(doms[0]["configuration"])["rowIdHighWaterMark"] == 16
    adds = [r["add"] for r in ckpt if r.get("add")]
    assert adds and all(a["baseRowId"] is not None for a in adds)
    bases = sorted(a["baseRowId"] for a in adds)
    assert bases[0] == 0 and len(set(bases)) == len(bases)


def test_dv_readd_keeps_row_ids(spark, tmp_path_str):
    t = _rt_table(spark, tmp_path_str)
    t.delete_where("k % 3 = 0", strategy="merge-on-read")
    a1 = _actions(t.path, 1)
    readd = next(
        a["add"] for a in a1 if "add" in a and "deletionVector" in a["add"]
    )
    # the DV re-add is the SAME physical file: it must keep baseRowId 0
    # and its original commit attribution — re-adding with fresh ids
    # would break every downstream row-identity consumer
    assert readd["baseRowId"] == 0
    assert readd["defaultRowCommitVersion"] == 0
    # surviving rows keep their original ids through the engine read
    rows = {
        r.k: r._row_id
        for r in t.read(with_row_ids=True).collect()
    }
    assert rows == {k: k for k in range(8) if k % 3 != 0}


@pytest.mark.slow
def test_clustering_domain_metadata(spark, tmp_path_str):
    from component_delta_lake_writer_spark.sinks.delta_log import (
        read_last_checkpoint,
    )

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g")
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    t.optimize(cluster_by=["g", "k"])
    a1 = _actions(t.path, 1)
    dm = next(a["domainMetadata"] for a in a1 if "domainMetadata" in a)
    assert dm["domain"] == "delta.clustering"
    assert json.loads(dm["configuration"])["clusteringColumns"] == [
        ["g"], ["k"]
    ]
    protos = [a["protocol"] for a in a1 if "protocol" in a]
    assert protos and {"clustering", "domainMetadata"} <= set(
        protos[0]["writerFeatures"]
    )
    # an append carries the clustering state but re-emits NOTHING —
    # the standing domain metadata already describes the table
    t.write(
        spark.range(20, 25).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("g")
        ),
        mode="append",
    )
    assert t.latest_commit().clustered_by == ["g", "k"]
    a2 = _actions(t.path, 2)
    assert not [a for a in a2 if "domainMetadata" in a]
    # a plain compaction keeps the columns; re-clustering by new
    # columns re-emits the domain
    t.optimize()
    assert t.latest_commit().clustered_by == ["g", "k"]
    assert not [a for a in _actions(t.path, 3) if "domainMetadata" in a]
    t.optimize(zorder_by=["k"])
    dm2 = next(
        a["domainMetadata"]
        for a in _actions(t.path, 4)
        if "domainMetadata" in a
    )
    assert json.loads(dm2["configuration"])["clusteringColumns"] == [["k"]]
    # checkpoint carries the LATEST clustering domain
    for i in range(5):
        t.write(
            spark.range(30 + i, 31 + i).select(
                F.col("id").alias("k"), (F.col("id") % 4).alias("g")
            ),
            mode="append",
        )
    last = read_last_checkpoint(t.path)
    assert last is not None and last["version"] == 9
    import pyarrow.parquet as pq

    ckpt = pq.read_table(
        os.path.join(
            t.path, "_delta_log",
            f"{last['version']:020d}.checkpoint.parquet",
        )
    ).to_pylist()
    doms = [
        r["domainMetadata"]
        for r in ckpt
        if r.get("domainMetadata")
        and r["domainMetadata"]["domain"] == "delta.clustering"
    ]
    assert len(doms) == 1
    assert json.loads(doms[0]["configuration"])["clusteringColumns"] == [
        ["k"]
    ]


@pytest.mark.slow
def test_external_row_id_reader_matches_engine(spark, tmp_path_str):
    """The mirror ALONE carries complete row identity: an external
    reader resolving ids from _delta_log (baseRowId + row_index,
    materialized columns after optimize, DV masks applied) must agree
    with the engine's read(with_row_ids=True) at every stage."""
    from delta_verifier import read_delta_table_row_ids

    t = _rt_table(spark, tmp_path_str)

    def engine():
        return {
            (r.k, r._row_id, r._row_commit_version)
            for r in t.read(with_row_ids=True).collect()
        }

    def external():
        return {
            (r.k, r._row_id, r._row_commit_version)
            for r in read_delta_table_row_ids(spark, t.path).collect()
        }

    assert external() == engine()
    t.write(
        spark.range(8, 12)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartition(1),
        mode="append",
    )
    assert external() == engine()
    # merge-on-read delete: the DV mask must hide exactly those rows
    t.delete_where("k % 3 = 1", strategy="merge-on-read")
    assert external() == engine()
    # optimize: ids now come from the MATERIALIZED columns the mirror
    # config names — still identical
    t.optimize()
    assert external() == engine()
    before = engine()
    assert {k for k, _, _ in before} == {
        k for k in range(12) if k % 3 != 1
    }


@pytest.mark.slow
def test_external_read_partitioned_table(spark, tmp_path_str):
    """Partitioned external read: partition values come from the add
    actions' partitionValues (typed literals per file group), per the
    protocol — including nulls, a MOR delete's DV mask, and time
    travel through an overwrite."""
    from delta_verifier import read_delta_table

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(12).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 2, F.lit(None))
        .otherwise((F.col("id") % 3).cast("string"))
        .alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    t.write(df, mode="overwrite", partition_by=["p"], primary_key=["k"])
    got = read_delta_table(spark, t.path)
    want = t.read()
    assert sorted(got.columns) == sorted(want.columns)
    assert {tuple(r) for r in got.select(*sorted(got.columns)).collect()} \
        == {tuple(r) for r in want.select(*sorted(want.columns)).collect()}
    # a MOR delete's deletion vector applies inside the partition scan
    t.delete_where("k % 4 = 1", strategy="merge-on-read")
    got2 = {
        (r.k, r.p, r.v)
        for r in read_delta_table(spark, t.path).collect()
    }
    assert got2 == {
        (r.k, r.p, r.v) for r in t.read().collect()
    }
    assert all(k % 4 != 1 for k, _, _ in got2)


def test_multipart_checkpoint_roundtrip(spark, tmp_path_str):
    """Past CHECKPOINT_PART_ROWS action rows the checkpoint splits
    into the spec's {version}.checkpoint.{part}.{parts}.parquet
    series; replay, metadata probes, and the external reader all
    resolve through the parts identically to a single-file
    checkpoint."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        read_last_checkpoint,
        write_checkpoint,
    )
    from delta_verifier import read_delta_table

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(30).select(F.col("id").alias("k"))
    t.write(df, mode="overwrite", primary_key=["k"])
    for i in range(4):
        t.write(
            spark.range(30 + i, 31 + i).select(F.col("id").alias("k")),
            mode="append",
        )
    # force a TINY part cap so the 5-unit snapshot must split
    write_checkpoint(t.path, t.latest_commit().version, part_rows=3)
    last = read_last_checkpoint(t.path)
    assert last["parts"] >= 2 and last["size"] > 3
    log = os.path.join(t.path, "_delta_log")
    parts = [
        f for f in os.listdir(log)
        if ".checkpoint." in f and f.endswith(".parquet")
    ]
    assert len(parts) == last["parts"]
    n = last["parts"]
    assert sorted(parts) == [
        f"{last['version']:020d}.checkpoint.{i:010d}.{n:010d}.parquet"
        for i in range(1, n + 1)
    ]
    # replay through the parts: full data, correct schema
    got = {r.k for r in read_delta_table(spark, t.path).collect()}
    assert got == set(range(34))
    # a later commit + metadata probe resolve against part 1
    t.write(
        spark.range(100, 102).select(F.col("id").alias("k")),
        mode="append",
    )
    assert {
        r.k for r in read_delta_table(spark, t.path).collect()
    } == set(range(34)) | {100, 101}


def test_enablement_backfills_mirror_adds(spark, tmp_path_str):
    """Mid-history row-tracking enablement must re-commit every live
    file's add WITH baseRowId (dataChange=false backfill) — without
    it the external reader resolves NULL ids for pre-enablement rows
    while the engine returns real ones."""
    from delta_verifier import read_delta_table_row_ids

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    t.write(
        spark.range(6).select(F.col("id").alias("k")).repartition(1),
        mode="overwrite", primary_key=["k"],
    )
    t.write(
        spark.range(6, 9).select(F.col("id").alias("k")).repartition(1),
        mode="append",
    )
    # a pre-enablement MOR delete leaves a live DV descriptor that the
    # backfill re-add must CARRY (or masked rows resurrect externally)
    t.delete_where("k = 1", strategy="merge-on-read")
    t.set_properties({"delta.enableRowTracking": "true"})
    acts = _actions(t.path, 3)
    backfills = [
        a["add"] for a in acts if "add" in a
        and a["add"].get("dataChange") is False
    ]
    assert len(backfills) == 2  # both pre-enablement files re-added
    assert all(a.get("baseRowId") is not None for a in backfills)
    assert any(a.get("deletionVector") for a in backfills)
    got = {
        (r.k, r._row_id)
        for r in read_delta_table_row_ids(spark, t.path).collect()
    }
    want = {
        (r.k, r._row_id)
        for r in t.read(with_row_ids=True).collect()
    }
    assert got == want and None not in {i for _k, i in got}
    assert {k for k, _i in got} == set(range(9)) - {1}


def test_empty_snapshot_keeps_tracking_live(spark, tmp_path_str):
    t = _rt_table(spark, tmp_path_str)
    t.delete_where("k >= 0")
    # engine read answers with an empty id-columned relation
    out = t.read(with_row_ids=True)
    assert out.count() == 0 and "_row_id" in out.columns
    # a metaData re-emission while empty keeps the feature config
    t.add_column("extra", "long")
    meta = next(
        a["metaData"]
        for a in _actions(t.path, t.latest_commit().version)
        if "metaData" in a
    )
    assert meta["configuration"]["delta.enableRowTracking"] == "true"
    # and the table comes back to life with fresh ids past the mark
    t.write(
        spark.range(50, 53).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
            F.lit(None).cast("long").alias("extra"),
        ),
        mode="append",
    )
    ids = [r._row_id for r in t.read(with_row_ids=True).collect()]
    assert sorted(ids) == [8, 9, 10]  # past the 0..7 already assigned


def test_restore_takes_restored_clustering_state(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    t.optimize(cluster_by=["g"])       # v1: clustered by g
    t.optimize(zorder_by=["k"])        # v2: re-clustered by k
    t.restore(version=1)
    assert t.latest_commit().clustered_by == ["g"]
    dm = next(
        a["domainMetadata"]
        for a in _actions(t.path, 3)
        if "domainMetadata" in a
    )
    assert json.loads(dm["configuration"])["clusteringColumns"] == [["g"]]
    # restoring to the UNclustered v0 clears the domain
    t.restore(version=0)
    assert t.latest_commit().clustered_by == []
    dm0 = next(
        a["domainMetadata"]
        for a in _actions(t.path, 4)
        if "domainMetadata" in a
    )
    assert json.loads(dm0["configuration"])["clusteringColumns"] == []


# ---------------------------------------------------------------------------
# V2 checkpoints (PROTOCOL.md §V2 Spec; delta.checkpointPolicy=v2)
# ---------------------------------------------------------------------------


def _v2_table(spark, path, n=100):
    t = ManagedTable(spark, path)
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite", primary_key=["k"],
            properties={"delta.checkpointPolicy": "v2"})
    return t, df


def test_v2_checkpoint_layout_and_replay(spark, tmp_path):
    """delta.checkpointPolicy=v2: checkpoints become a UUID-named
    manifest (checkpointMetadata first, sidecar actions) + sidecar
    parquet under _delta_log/_sidecars; protocol advertises
    v2Checkpoint in BOTH feature lists; external replay through the
    manifest equals the engine snapshot."""
    import glob

    from component_delta_lake_writer_spark.sinks.delta_log import (
        _replay_state,
        read_last_checkpoint,
    )
    from delta_verifier import read_delta_table

    t, df = _v2_table(spark, str(tmp_path / "t"))
    pr = _replay_state(t.path)["protocol"]
    assert "v2Checkpoint" in (pr.get("readerFeatures") or [])
    assert "v2Checkpoint" in (pr.get("writerFeatures") or [])
    for i in range(9):
        t.write(
            df.withColumn("k", F.col("k") + F.lit((i + 1) * 1000))
            .coalesce(1),
            mode="append",
        )
    log_dir = os.path.join(t.path, "_delta_log")
    assert read_last_checkpoint(t.path)["version"] == 9
    manifests = glob.glob(
        os.path.join(log_dir, "00000000000000000009.checkpoint.*.parquet")
    )
    assert len(manifests) == 1
    assert not os.path.exists(
        os.path.join(log_dir, "00000000000000000009.checkpoint.parquet")
    ), "v2 table must not write a classic checkpoint"
    assert os.listdir(os.path.join(log_dir, "_sidecars"))
    import pyarrow.parquet as pq

    rows = pq.read_table(manifests[0]).to_pylist()
    assert rows[0]["checkpointMetadata"] == {"version": 9}
    assert any(r.get("sidecar") for r in rows)
    assert not any(r.get("add") for r in rows), (
        "file actions belong in sidecars, not the manifest"
    )
    eng = sorted((r["k"], r["v"]) for r in t.read().collect())
    ext = sorted(
        (r["k"], r["v"])
        for r in read_delta_table(spark, t.path).collect()
    )
    assert eng == ext


def test_v2_checkpoint_carries_dvs(spark, tmp_path):
    """Deletion-vector descriptors must ride the sidecar add rows."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        live_dv_descriptors,
    )
    from delta_verifier import read_delta_table

    t, df = _v2_table(spark, str(tmp_path / "t"))
    t.delete_where("k >= 90", strategy="merge-on-read")
    for i in range(8):
        t.write(
            df.withColumn("k", F.col("k") + F.lit((i + 1) * 1000))
            .coalesce(1),
            mode="append",
        )
    log_dir = os.path.join(t.path, "_delta_log")
    assert os.path.exists(os.path.join(log_dir, "_sidecars"))
    dvs = live_dv_descriptors(t.path)   # replay now crosses the v2 ckpt
    assert len(dvs) == 1 and next(iter(dvs.values()))["cardinality"] == 10
    assert t.read().count() == 890
    assert read_delta_table(spark, t.path).count() == 890


def test_v2_checkpoint_multi_sidecar_chunking(spark, tmp_path):
    """part_rows bounds each sidecar file; the manifest lists one
    sidecar action per chunk and replay unions them all."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        write_checkpoint,
    )

    t, df = _v2_table(spark, str(tmp_path / "t"))
    for i in range(4):
        t.write(
            df.withColumn("k", F.col("k") + F.lit((i + 1) * 1000))
            .coalesce(1),
            mode="append",
        )
    v = t.latest_commit().version
    write_checkpoint(t.path, v, part_rows=2)
    log_dir = os.path.join(t.path, "_delta_log")
    assert len(os.listdir(os.path.join(log_dir, "_sidecars"))) >= 3
    files, _schema, _p = _replayed(t.path)
    assert len(files) == 5


def test_classic_table_upgrades_to_v2_policy(spark, tmp_path):
    """A table born classic that later sets the policy: next
    checkpoint is v2, protocol upgrades, and replay spans the
    transition."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        _replay_state,
        read_last_checkpoint,
        write_checkpoint,
    )
    from delta_verifier import read_delta_table

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite")
    t.write(df.coalesce(1), mode="append")
    t.set_properties({"delta.checkpointPolicy": "v2"})
    pr = _replay_state(t.path)["protocol"]
    assert "v2Checkpoint" in (pr.get("readerFeatures") or [])
    v = t.latest_commit().version
    write_checkpoint(t.path, v)
    assert read_last_checkpoint(t.path)["version"] == v
    assert read_delta_table(spark, t.path).count() == 100


@pytest.mark.slow
def test_metadata_cleanup_retention(spark, tmp_path):
    """cleanup_metadata (delta.logRetentionDuration): JSON + checkpoint
    files below the advertised checkpoint are deleted once past
    retention, sidecars no manifest references are GC'd, the external
    snapshot is unchanged, table id/createdTime survive via the
    checkpoint's metaData, and the NEXT checkpoint seeds from the
    previous one (no v0 JSON to replay)."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        _replay_state,
        read_last_checkpoint,
    )
    from delta_verifier import read_delta_table

    def _table_id(path):
        return _replay_state(path)["metaData"]["id"]

    def _table_created_ms(path):
        return _replay_state(path)["metaData"]["createdTime"]

    t, df = _v2_table(spark, str(tmp_path / "t"), n=40)
    for i in range(14):
        t.write(
            df.withColumn("k", F.col("k") + F.lit((i + 1) * 1000))
            .coalesce(1),
            mode="append",
        )
    log_dir = os.path.join(t.path, "_delta_log")
    tid = _table_id(t.path)
    created = _table_created_ms(t.path)
    assert read_last_checkpoint(t.path)["version"] == 9
    # retention not yet expired: nothing deleted
    assert t.cleanup_metadata(retention_hours=1000) == 0
    removed = t.cleanup_metadata(retention_hours=0)
    assert removed >= 9
    assert not os.path.exists(os.path.join(log_dir, f"{0:020d}.json"))
    assert _table_id(t.path) == tid
    assert _table_created_ms(t.path) == created
    assert read_delta_table(spark, t.path).count() == t.read().count()
    # checkpointing still works (seeds from the prior checkpoint) and
    # the snapshot stays exact across the seeded generation
    for i in range(5):
        t.write(
            df.withColumn("k", F.col("k") + F.lit((50 + i) * 1000))
            .coalesce(1),
            mode="append",
        )
    assert read_last_checkpoint(t.path)["version"] == 19
    assert read_delta_table(spark, t.path).count() == t.read().count()
    # sidecars of the superseded manifest are GC-able now
    before = len(os.listdir(os.path.join(log_dir, "_sidecars")))
    t.cleanup_metadata(retention_hours=0)
    after = len(os.listdir(os.path.join(log_dir, "_sidecars")))
    assert after <= before


def test_cleanup_preserves_dv_descriptors(spark, tmp_path):
    """A DV table cleaned below its checkpoint must still serve the
    deleted-rows-excluded snapshot externally (descriptors ride the
    checkpoint, and the DV .bin files are untouched by cleanup)."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        live_dv_descriptors,
    )
    from delta_verifier import read_delta_table

    t, df = _v2_table(spark, str(tmp_path / "t"))
    t.delete_where("k >= 90", strategy="merge-on-read")
    for i in range(9):
        t.write(
            df.withColumn("k", F.col("k") + F.lit((i + 1) * 1000))
            .coalesce(1),
            mode="append",
        )
    t.cleanup_metadata(retention_hours=0)
    dvs = live_dv_descriptors(t.path)
    assert len(dvs) == 1
    assert read_delta_table(spark, t.path).count() == t.read().count()


def test_version_checksum_emitted_and_valid(spark, tmp_path):
    """Every commit publishes a {version}.crc (Delta VERSION CHECKSUM)
    whose aggregates match a full replay — across appends, COW
    rewrites, DV swaps (remove+re-add same path), optimize, RESTORE
    re-adds, and row-tracking backfill (dataChange=false re-adds force
    the full-recompute path)."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        verify_version_checksum,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(80).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(2), mode="overwrite", primary_key=["k"])
    t.write(df.coalesce(1), mode="append")
    crc = verify_version_checksum(t.path)
    assert crc["numFiles"] == 3 and crc["tableSizeBytes"] > 0
    t.upsert(
        df.filter(F.col("k") < 5).withColumn(
            "v", F.lit(-1).cast("long")
        ).coalesce(1),
        ["k"],
        strategy="merge-on-read",
    )
    verify_version_checksum(t.path)          # DV swap: net-zero files
    t.optimize()
    verify_version_checksum(t.path)          # rewrite: removes carry size
    t.restore(0)
    verify_version_checksum(t.path)          # re-add path
    log_dir = os.path.join(t.path, "_delta_log")
    v = t.latest_commit().version
    assert os.path.exists(os.path.join(log_dir, f"{v:020d}.crc"))
    # corruption is caught
    import json as _json

    p = os.path.join(log_dir, f"{v:020d}.crc")
    bad = _json.load(open(p))
    bad["numFiles"] += 1
    _json.dump(bad, open(p, "w"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="numFiles"):
        verify_version_checksum(t.path)


def test_cleanup_reclaims_crc_files(spark, tmp_path):
    t, df = _v2_table(spark, str(tmp_path / "t"))
    for i in range(10):
        t.write(
            df.withColumn("k", F.col("k") + F.lit((i + 1) * 1000))
            .coalesce(1),
            mode="append",
        )
    log_dir = os.path.join(t.path, "_delta_log")
    assert os.path.exists(os.path.join(log_dir, f"{0:020d}.crc"))
    t.cleanup_metadata(retention_hours=0)
    assert not os.path.exists(os.path.join(log_dir, f"{0:020d}.crc"))
    v = t.latest_commit().version
    assert os.path.exists(os.path.join(log_dir, f"{v:020d}.crc"))


@pytest.mark.slow
def test_auto_log_cleanup_on_checkpoint(spark, tmp_path):
    """Expired-log cleanup piggybacks on checkpointing (delta-spark
    behavior): with delta.logRetentionDuration set to zero, crossing a
    checkpoint boundary deletes the aged-out JSON below it; with the
    default 30-day retention nothing is deleted; with
    enableExpiredLogCleanup=false nothing is ever deleted."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        _parse_interval_ms,
    )
    from delta_verifier import read_delta_table

    assert _parse_interval_ms(None) == 30 * 24 * 3600 * 1000
    assert _parse_interval_ms("interval 2 hours") == 2 * 3600 * 1000
    assert _parse_interval_ms("7 days") == 7 * 24 * 3600 * 1000
    assert _parse_interval_ms("interval nonsense") == 30 * 24 * 3600 * 1000

    df = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # default retention: history stays
    t1 = ManagedTable(spark, str(tmp_path / "t1"))
    t1.write(df.coalesce(1), mode="overwrite")
    for i in range(10):
        t1.write(df.coalesce(1), mode="append")
    assert os.path.exists(
        os.path.join(t1.path, "_delta_log", f"{0:020d}.json")
    )
    # zero retention: crossing the next boundary cleans below the ckpt
    t2 = ManagedTable(spark, str(tmp_path / "t2"))
    t2.write(
        df.coalesce(1), mode="overwrite",
        properties={"delta.logRetentionDuration": "interval 0 seconds"},
    )
    for i in range(10):
        t2.write(df.coalesce(1), mode="append")
    assert not os.path.exists(
        os.path.join(t2.path, "_delta_log", f"{0:020d}.json")
    )
    assert read_delta_table(spark, t2.path).count() == t2.read().count()
    # opt-out wins over zero retention
    t3 = ManagedTable(spark, str(tmp_path / "t3"))
    t3.write(
        df.coalesce(1), mode="overwrite",
        properties={
            "delta.logRetentionDuration": "interval 0 seconds",
            "delta.enableExpiredLogCleanup": "false",
        },
    )
    for i in range(10):
        t3.write(df.coalesce(1), mode="append")
    assert os.path.exists(
        os.path.join(t3.path, "_delta_log", f"{0:020d}.json")
    )


def test_minor_log_compaction_roundtrip(spark, tmp_path):
    """write_log_compaction produces {start}.{end}.compacted.json whose
    reconciled actions replay identically to the range's individual
    entries — proven by deleting the range's JSON and replaying
    through the compacted file alone. Cleanup reclaims compactions
    fully below the checkpoint."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        write_log_compaction,
    )
    from delta_verifier import read_delta_table

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite", primary_key=["k"])
    for i in range(3):
        t.write(
            df.withColumn("k", F.col("k") + F.lit((i + 1) * 1000))
            .coalesce(1),
            mode="append",
        )
    t.upsert(
        df.filter(F.col("k") < 5).withColumn(
            "v", F.lit(-9).cast("long")
        ).coalesce(1),
        ["k"],
    )  # COW merge: adds + removes inside the compacted range
    expected = sorted((r["k"], r["v"]) for r in t.read().collect())
    log_dir = os.path.join(t.path, "_delta_log")
    p = write_log_compaction(t.path, 1, 4)
    assert os.path.basename(p) == (
        f"{1:020d}.{4:020d}.compacted.json"
    )
    # external read prefers the compacted file: remove the originals
    for v in range(1, 5):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    got = sorted(
        (r["k"], r["v"])
        for r in read_delta_table(spark, t.path).collect()
    )
    assert got == expected
    # a compaction fully below a later checkpoint is reclaimable
    t2 = ManagedTable(spark, str(tmp_path / "t2"))
    t2.write(df.coalesce(1), mode="overwrite")
    for i in range(10):
        t2.write(df.coalesce(1), mode="append")
    write_log_compaction(t2.path, 1, 4)
    n = t2.cleanup_metadata(retention_hours=0)
    assert n > 0
    assert not os.path.exists(
        os.path.join(
            t2.path, "_delta_log", f"{1:020d}.{4:020d}.compacted.json"
        )
    )
    assert read_delta_table(spark, t2.path).count() == t2.read().count()


def test_auto_minor_compaction_interval(spark, tmp_path):
    """mirror.logCompactionInterval=k: every k commits (off checkpoint
    boundaries) the engine writes the reconciled compacted file, and
    external replay stays exact."""
    import glob

    from delta_verifier import read_delta_table

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(
        df.coalesce(1), mode="overwrite",
        properties={"mirror.logCompactionInterval": "4"},
    )
    for i in range(7):
        t.write(df.coalesce(1), mode="append")
    log_dir = os.path.join(t.path, "_delta_log")
    comps = glob.glob(os.path.join(log_dir, "*.compacted.json"))
    assert comps, "interval=4 over 8 commits must compact at v3 and v7"
    assert read_delta_table(spark, t.path).count() == t.read().count()


def test_check_constraints_mirrored(spark, tmp_path):
    """CHECK constraints ride the mirror as delta.constraints.<name>
    configuration entries with the checkConstraints writer capability
    (legacy writer 3, or the feature name under writer 7) — external
    writers must see and enforce them. DROP CONSTRAINT re-emits
    without the key."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        _replay_state,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite")
    t.add_constraint("v_nonneg", "v >= 0")
    cfg = _replay_state(t.path)["metaData"]["configuration"]
    assert cfg.get("delta.constraints.v_nonneg") == "v >= 0"
    pr = _replay_state(t.path)["protocol"]
    assert pr["minWriterVersion"] >= 3
    if "writerFeatures" in pr:
        assert "checkConstraints" in pr["writerFeatures"]
    t.drop_constraint("v_nonneg")
    cfg2 = _replay_state(t.path)["metaData"]["configuration"]
    assert "delta.constraints.v_nonneg" not in cfg2
    # protocol never downgrades
    pr2 = _replay_state(t.path)["protocol"]
    assert pr2["minWriterVersion"] >= 3


@pytest.mark.slow
def test_external_cdf_matches_engine(spark, tmp_path):
    """Delta CDF interop: CDF-enabled commits name their change sets
    as cdc actions over _change_data files, and the external
    table_changes reconstruction (log alone) equals the engine's
    read_changes across append/upsert/DELETE/UPDATE.
    Append-only versions derive inserts from dataChange adds; a
    rewrite without cdc actions raises."""
    from delta_verifier import read_delta_table_changes

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite", primary_key=["k"],
            properties={"enableChangeDataFeed": True})
    t.write(
        df.withColumn("k", F.col("k") + F.lit(1000)).coalesce(1),
        mode="append",
    )
    t.upsert(
        df.filter(F.col("k") % 10 == 0).withColumn(
            "v", F.lit(-1).cast("long")
        ).coalesce(1),
        ["k"],
    )
    t.delete_where("k >= 1090")
    t.update_where("k < 5", {"v": "v + 100"})
    ext = read_delta_table_changes(spark, t.path, 0)
    eng = t.read_changes(0, with_change_type=True)
    cols = ["k", "v", "_change_type"]
    assert sorted(map(tuple, ext.select(*cols).collect())) == sorted(
        map(tuple, eng.select(*cols).collect())
    )
    assert {r["_commit_version"] for r in ext.collect()} == {1, 2, 3, 4}
    # the cdc files are the change sets' only copy
    named = [f for c in t.history() for f in c.cdc_files]
    assert named and all(
        os.stat(os.path.join(t.path, f)).st_nlink == 1 for f in named
    )
    # a non-CDF rewrite is not derivable externally
    t2 = ManagedTable(spark, str(tmp_path / "t2"))
    t2.write(df.coalesce(1), mode="overwrite", primary_key=["k"])
    t2.upsert(
        df.filter(F.col("k") < 5).withColumn(
            "v", F.lit(-2).cast("long")
        ).coalesce(1),
        ["k"],
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="without cdc actions"):
        read_delta_table_changes(spark, t2.path, 0)


def test_vacuum_reclaims_cdc_mirror_files(spark, tmp_path):
    """_change_data files follow their versions' liveness under
    VACUUM; a never-named change dir (a writer that died before its
    claim) is reclaimed past the grace."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.coalesce(1), mode="overwrite", primary_key=["k"],
            properties={"enableChangeDataFeed": True})
    for i in range(3):
        t.upsert(
            df.filter(F.col("k") % 5 == i).withColumn(
                "v", F.lit(-i).cast("long")
            ).coalesce(1),
            ["k"],
        )
    cd = os.path.join(t.path, "_change_data")
    # fake two never-named change dirs: one old enough to pass the
    # grace, one a concurrent writer may be about to claim
    stale, fresh = os.path.join(cd, "deadbeef"), os.path.join(cd, "feed")
    for d in (stale, fresh):
        os.makedirs(d)
    old = (int(__import__("time").time()) - 7200, ) * 2
    os.utime(stale, old)
    assert len(os.listdir(cd)) == 5
    t.vacuum(retention_hours=0)
    # only the head's files and the in-flight dir survive
    assert sorted(os.listdir(cd)) == sorted([
        t.latest_commit().cdc_files[0].split("/")[1], "feed"
    ])


def test_reader_refuses_unknown_features(spark, tmp_path):
    """Forward compatibility (the spec's first reader rule): a
    protocol demanding an unimplemented reader feature or a future
    minReaderVersion must be REFUSED, not guessed around."""
    import json as _json

    from component_delta_lake_writer_spark.sinks.delta_log import (
        read_delta_table,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(10).select(F.col("id").alias("k"))
    t.write(df.coalesce(1), mode="overwrite")
    assert read_delta_table(spark, t.path).count() == 10
    # forge a future-feature protocol on top
    log_dir = os.path.join(t.path, "_delta_log")
    v = t.latest_commit().version + 1
    with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as f:
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["futureMagicFeature"],
            "writerFeatures": ["futureMagicFeature"],
        }}) + "\n")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="futureMagicFeature"):
        read_delta_table(spark, t.path)


def test_external_cdf_refuses_cleaned_range(spark, tmp_path):
    """A table_changes request reaching below metadata-cleaned
    versions must raise, never silently skip committed changes."""
    from delta_verifier import read_delta_table_changes

    t, df = _v2_table(spark, str(tmp_path / "t"))
    for i in range(10):
        t.write(
            df.withColumn("k", F.col("k") + F.lit((i + 1) * 1000))
            .coalesce(1),
            mode="append",
        )
    t.cleanup_metadata(retention_hours=0)  # drops v0..v8 (ckpt at 9)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cleaned up"):
        read_delta_table_changes(spark, t.path, 0)
    # a retained range still serves
    assert read_delta_table_changes(spark, t.path, 9).count() > 0


def test_checkpoint_interval_property(spark, tmp_path):
    """delta.checkpointInterval: a table asking for interval 3
    checkpoints at v2/v5/v8 instead of the default every-10."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        read_last_checkpoint,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(20).select(F.col("id").alias("k"))
    t.write(df.coalesce(1), mode="overwrite",
            properties={"delta.checkpointInterval": "3"})
    assert read_last_checkpoint(t.path) is None
    t.write(df.coalesce(1), mode="append")
    t.write(df.coalesce(1), mode="append")        # v2 -> checkpoint
    assert read_last_checkpoint(t.path)["version"] == 2
    for _ in range(3):
        t.write(df.coalesce(1), mode="append")    # v5 -> checkpoint
    assert read_last_checkpoint(t.path)["version"] == 5


@pytest.mark.slow
def test_retention_compaction_v2_dv_composite(spark, tmp_path):
    """VERDICT r7 task 7: log-retention cleanup, minor log compaction,
    v2 checkpoints and DV descriptors COMPOSED on one table across 25+
    versions — the three features interact in the version-liveness
    logic and were previously tested mostly pairwise.  Replayed from
    every entry point (full JSON replay, checkpoint-seeded replay, the
    external snapshot reader, the external CDF reader) before AND
    after cleanup, with more commits after cleanup so the next
    checkpoint generation seeds from the previous one."""
    import glob as _glob

    from component_delta_lake_writer_spark.sinks.delta_log import (
        live_dv_descriptors,
        read_last_checkpoint,
        replay_delta_log,
        verify_version_checksum,
    )
    from delta_verifier import (
        read_delta_table,
        read_delta_table_changes,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(
        df.coalesce(1), mode="overwrite", primary_key=["k"],
        properties={
            "delta.checkpointPolicy": "v2",
            "enableChangeDataFeed": True,
            "mirror.logCompactionInterval": "5",
            "delta.checkpointInterval": "7",
        },
    )  # v0
    appended = 0
    for i in range(24):  # v1..v24
        m = i % 6
        if m in (0, 3):
            appended += 1
            t.write(
                df.withColumn("k", F.col("k") + F.lit(appended * 1000))
                .coalesce(1),
                mode="append",
            )
        elif m == 1:
            # MOR delete of a slice of the newest range -> a DV
            lo = appended * 1000
            t.delete_where(
                f"k >= {lo + 90} AND k < {lo + 100}",
                strategy="merge-on-read",
            )
        elif m == 2:
            t.upsert(
                df.filter(F.col("k") < 5)
                .withColumn("v", F.lit(-(i + 1)).cast("long"))
                .coalesce(1),
                ["k"],
            )  # COW rewrite inside compacted/checkpointed ranges
        elif m == 4:
            t.update_where(f"k = {appended * 1000}", {"v": "v + 7"})
        else:
            t.set_properties({"comment": f"meta-{i}"})  # metadata-only

    assert t.latest_commit().version == 24
    log_dir = os.path.join(t.path, "_delta_log")
    assert read_last_checkpoint(t.path)["version"] == 20
    assert _glob.glob(os.path.join(log_dir, "*.compacted.json"))
    assert len(live_dv_descriptors(t.path)) >= 2

    def _snap():
        return sorted((r["k"], r["v"]) for r in t.read().collect())

    def _ext():
        return sorted(
            (r["k"], r["v"])
            for r in read_delta_table(spark, t.path).collect()
        )

    expected = _snap()
    # -- every entry point, pre-cleanup --
    assert _ext() == expected
    full = replay_delta_log(t.path)
    seeded = _replayed(t.path)
    assert sorted(full[0]) == sorted(seeded[0])
    verify_version_checksum(t.path)
    cols = ["k", "v", "_change_type"]
    ext_cdf = read_delta_table_changes(spark, t.path, 0)
    eng_cdf = t.read_changes(0, with_change_type=True)
    assert sorted(map(tuple, ext_cdf.select(*cols).collect())) == sorted(
        map(tuple, eng_cdf.select(*cols).collect())
    )

    # -- cleanup below the v21 checkpoint --
    assert t.cleanup_metadata(retention_hours=0) > 0
    assert not os.path.exists(os.path.join(log_dir, f"{0:020d}.json"))
    assert _ext() == expected
    # JSON-only replay is legitimately PARTIAL now (entries below the
    # checkpoint are gone — that is the checkpoint's job); the
    # checkpoint-seeded replay must still reconstruct the exact
    # pre-cleanup snapshot
    seeded2 = _replayed(t.path)
    assert sorted(seeded2[0]) == sorted(full[0])
    assert len(live_dv_descriptors(t.path)) >= 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cleaned up"):
        read_delta_table_changes(spark, t.path, 0)
    ext_tail = read_delta_table_changes(spark, t.path, 20)
    eng_tail = t.read_changes(20, with_change_type=True)
    assert sorted(map(tuple, ext_tail.select(*cols).collect())) == sorted(
        map(tuple, eng_tail.select(*cols).collect())
    )

    # -- life continues after cleanup: the next checkpoint generation
    # seeds from the previous one, with a fresh DV in between --
    for j in range(4):  # v25..v28 (checkpoint fires at v27)
        appended += 1
        t.write(
            df.withColumn("k", F.col("k") + F.lit(appended * 1000))
            .coalesce(1),
            mode="append",
        )
    t.delete_where(
        f"k >= {appended * 1000 + 95}", strategy="merge-on-read"
    )  # v29
    assert read_last_checkpoint(t.path)["version"] == 27
    assert _ext() == _snap()
    verify_version_checksum(t.path)
    seeded3 = _replayed(t.path)
    eng_units = {
        os.path.relpath(f, t.path)
        for f in __import__("glob").glob(
            os.path.join(t.path, "_data", "*", "*.parquet")
        )
    }
    assert set(seeded3[0]) <= eng_units


@pytest.mark.slow
def test_column_mapping_dv_checkpoint_composite(spark, tmp_path):
    """columnMapping composed with MOR deletes (DVs), v2 checkpoints
    and a post-rename rewrite on ONE table: the external snapshot
    (physical-name parquet + DV exclusion + logical-name mapping)
    must match the engine at every step, including replay through the
    checkpoint after the renamed column gathered new data."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        read_last_checkpoint,
    )
    from delta_verifier import read_delta_table

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(120).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t.write(
        df.coalesce(1), mode="overwrite", primary_key=["k"],
        properties={
            "delta.checkpointPolicy": "v2",
            "delta.checkpointInterval": "4",
        },
    )  # v0
    t.rename_column("v", "val")                      # v1 (mapping on)
    t.delete_where("k % 7 = 0", strategy="merge-on-read")  # v2: DV
    t.write(
        df.withColumn("k", F.col("k") + F.lit(1000))
        .withColumnRenamed("v", "val")
        .coalesce(1),
        mode="append",
    )  # v3
    # v4: checkpoint fires at interval 4
    t.update_where("k = 1001", {"val": "val + 9"})   # v4 COW rewrite
    t.delete_where("k >= 1100", strategy="merge-on-read")  # v5: 2nd DV
    assert read_last_checkpoint(t.path)["version"] == 3

    def _pairs(dframe):
        return sorted((r["k"], r["val"]) for r in dframe.collect())

    eng = _pairs(t.read())
    ext = _pairs(read_delta_table(spark, t.path))
    assert ext == eng
    assert all(k % 7 != 0 for k, _ in eng if k < 1000)
    assert all(k < 1100 for k, _ in eng)
    # checkpoint-seeded replay agrees with the full-JSON file set
    files, schema, _parts = _replayed(t.path)
    # logical name is the renamed one; the PHYSICAL name legitimately
    # stays the original (that is what columnMapping is for)
    assert '"name": "val"' in schema
    assert '"delta.columnMapping.physicalName": "v"' in schema
    # rename survives another rewrite + read after MORE commits
    t.optimize()                                      # v6: DVs fold in
    assert _pairs(read_delta_table(spark, t.path)) == _pairs(t.read())


def test_checkpoint_expires_old_tombstones(spark, tmp_path):
    """A checkpoint keeps remove tombstones inside
    delta.deletedFileRetentionDuration (default one week) and drops
    older ones; the checkpoint-aware external reader and time travel
    read the same rows."""
    import time

    import pyarrow.parquet as pq

    from component_delta_lake_writer_spark.sinks.delta_log import (
        write_checkpoint,
    )
    from delta_verifier import read_delta_table

    t = ManagedTable(spark, str(tmp_path / "t"))
    for lo in (0, 10, 20):  # v1 removes v0's file, v2 removes v1's
        t.write(
            spark.range(lo, lo + 3, numPartitions=1).select(
                F.col("id").alias("k")
            ),
            mode="overwrite",
        )
    log = os.path.join(t.path, "_delta_log")
    eight_days = 8 * 24 * 3600 * 1000
    v1 = os.path.join(log, f"{1:020d}.json")
    with open(v1) as fh:
        actions = [json.loads(line) for line in fh]
    expired = []
    for a in actions:
        if "remove" in a:
            a["remove"]["deletionTimestamp"] = int(time.time() * 1000) - eight_days
            expired.append(a["remove"]["path"])
    with open(v1, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in actions)
    with open(os.path.join(log, f"{2:020d}.json")) as fh:
        in_window = [a["remove"]["path"] for a in map(json.loads, fh) if "remove" in a]
    assert expired and in_window

    cp = pq.read_table(write_checkpoint(t.path, 2)).column("remove").to_pylist()
    assert sorted(r["path"] for r in cp if r) == sorted(in_window)

    fresh = ManagedTable(spark, t.path)
    assert sorted(r.k for r in read_delta_table(spark, t.path).collect()) == [
        20, 21, 22
    ]
    assert sorted(r.k for r in fresh.read().collect()) == [20, 21, 22]
    assert sorted(r.k for r in fresh.read(version=1).collect()) == [10, 11, 12]
    assert sorted(r.k for r in fresh.read(version=0).collect()) == [0, 1, 2]
    assert _replayed(t.path)[0] == replay_delta_log(t.path)[0]
