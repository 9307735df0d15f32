"""Driver-built relations on the write path are Arrow LocalRelations.

``createDataFrame(<python list>)`` plans as a ``LogicalRDD``: every use
runs a Python-worker job and its size estimate is ``Long.MAX``, which
stops joins against it from planning as broadcasts. The runner and the
sinks build every such relation through ``session.local_relation``;
these tests pin that for each site and keep its rows and schema.
"""

from __future__ import annotations

import ast
import os

from pyspark.sql import functions as F

from component_delta_lake_writer_spark.sinks import ManagedTable
from conftest import REPO

PKG = REPO / "component_delta_lake_writer_spark"


def _no_logical_rdd(df) -> None:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan


def _kv(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_local_relation_schema_and_rows(spark):
    from component_delta_lake_writer_spark.session import local_relation

    df = local_relation(spark, "a STRING, b INT", [["x", None], [1, 2]])
    _no_logical_rdd(df)
    assert df.schema.simpleString() == "struct<a:string,b:int>"
    assert [tuple(r) for r in df.collect()] == [("x", 1), (None, 2)]
    empty = local_relation(spark, df.schema)
    _no_logical_rdd(empty)
    assert empty.schema == df.schema and empty.count() == 0


def test_empty_snapshot_reads(spark, tmp_path):
    """Zero live files: the filtered engine read and both external
    readers answer with an empty relation under the table schema."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        read_delta_table,
        read_delta_table_row_ids,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(
        _kv(spark, 0, 4), mode="overwrite", primary_key=["k"],
        properties={"delta.enableRowTracking": "true"},
    )
    t.delete_where("k >= 0")  # copy-on-write: no files left
    assert t.latest_commit().data_units == []
    for df, schema in [
        (t.read_where("k > 1"), "struct<k:bigint,v:bigint>"),
        (read_delta_table(spark, t.path), "struct<k:bigint,v:bigint>"),
        (
            read_delta_table_row_ids(spark, t.path),
            "struct<k:bigint,v:bigint,_row_id:bigint,"
            "_row_commit_version:bigint>",
        ),
    ]:
        _no_logical_rdd(df)
        assert df.schema.simpleString() == schema
        assert df.count() == 0


def test_row_ids_above_256_files_join_a_local_relation(spark, tmp_path):
    """Above 256 live files _attach_row_ids joins a per-file base-id
    table instead of inlining map literals; that table is Arrow."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(
        _kv(spark, 0, 260).coalesce(1), mode="overwrite",
        primary_key=["k"], max_records_per_file=1,
        properties={"delta.enableRowTracking": "true"},
    )
    df = t.read(with_row_ids=True)
    _no_logical_rdd(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the join, not map literals
    rows = df.collect()
    assert sorted(r.k for r in rows) == list(range(260))
    assert sorted(r._row_id for r in rows) == list(range(260))
    assert {r._row_commit_version for r in rows} == {0}


def test_external_reads_with_deletion_vectors(spark, tmp_path):
    """read_delta_table (plain and partitioned) and
    read_delta_table_row_ids mask deleted rows through Arrow row-index
    sets and agree with the engine's own read."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        live_dv_descriptors,
        read_delta_table,
        read_delta_table_row_ids,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    t.write(
        _kv(spark, 0, 12).repartition(1).sortWithinPartitions("k"),
        mode="overwrite", primary_key=["k"],
        properties={"delta.enableRowTracking": "true"},
    )
    t.delete_where("k % 3 = 1", strategy="merge-on-read")
    assert live_dv_descriptors(t.path), "probe must carry a DV"
    ext = read_delta_table(spark, t.path)
    _no_logical_rdd(ext)
    assert ext.schema == t.read().schema
    assert sorted(tuple(r) for r in ext.collect()) == sorted(
        tuple(r) for r in t.read().collect()
    )
    ids = read_delta_table_row_ids(spark, t.path)
    _no_logical_rdd(ids)
    assert ids.schema == t.read(with_row_ids=True).schema
    assert sorted(tuple(r) for r in ids.collect()) == sorted(
        tuple(r) for r in t.read(with_row_ids=True).collect()
    )
    assert {r.k for r in ids.collect()} == {
        k for k in range(12) if k % 3 != 1
    }

    p = ManagedTable(spark, str(tmp_path / "p"))
    p.write(
        _kv(spark, 0, 12).withColumn("g", (F.col("k") % 2).cast("string")),
        mode="overwrite", partition_by=["g"], primary_key=["k"],
    )
    p.delete_where("k % 4 = 1", strategy="merge-on-read")
    assert live_dv_descriptors(p.path), "probe must carry a DV"
    ext = read_delta_table(spark, p.path)
    _no_logical_rdd(ext)
    got = {(r.k, r.v, r.g) for r in ext.collect()}
    assert got == {(r.k, r.v, r.g) for r in p.read().collect()}
    assert {k for k, _v, _g in got} == {k for k in range(12) if k % 4 != 1}


def _create_dataframe_calls(path) -> list[int]:
    """Line numbers of ``.createDataFrame(`` calls in ``path`` that are
    not inside a function named ``local_relation``."""
    tree = ast.parse(path.read_text(), str(path))
    lines: list[int] = []

    def visit(node, inside: bool) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inside = inside or node.name == "local_relation"
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and not inside
        ):
            lines.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child, inside)

    visit(tree, False)
    return lines


def test_write_path_builds_relations_only_through_local_relation():
    """Keeps Python-list relations from creeping back into the runner
    and the sinks: every driver-built relation there goes through
    ``session.local_relation``."""
    files = [PKG / "runner.py", *sorted((PKG / "sinks").glob("*.py"))]
    assert len(files) > 5
    offenders = {
        os.path.relpath(f, REPO): calls
        for f in files
        if (calls := _create_dataframe_calls(f))
    }
    assert offenders == {}, (
        "build driver-side relations with session.local_relation: "
        f"{offenders}"
    )
