"""Keboola data-dir binding tests (reference src/component.py:35-48,
72,200-206; the reference's fixture component_config/sample-config/
is rebuilt under tests/fixtures/sample-config/)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.config import LoadMode
from component_delta_lake_writer_spark.datadir import (
    bind_job,
    discover_input_tables,
    parse_config,
    parse_manifest,
    run_datadir_job,
)
from component_delta_lake_writer_spark.errors import UserException

SF = "/root/testdata/sf0.001"
SAMPLE_CONFIG = Path(__file__).parent / "fixtures" / "sample-config"


def _write_config(data_dir, params):
    (data_dir / "config.json").write_text(json.dumps({"parameters": params}))


def _legacy_manifest(columns, metadata=None, pk=None, **extra):
    m = {"columns": columns, "primary_key": pk or []}
    if metadata:
        m["column_metadata"] = metadata
    m.update(extra)
    return m


def test_parse_legacy_manifest_with_basetypes(tmp_path):
    data = tmp_path / "t.csv"
    data.write_text("1,a,10.50\n2,b,3.25\n")
    manifest = _legacy_manifest(
        ["id", "name", "price"],
        metadata={
            "id": [{"key": "KBC.datatype.basetype", "value": "INTEGER"}],
            "price": [
                {"key": "KBC.datatype.basetype", "value": "NUMERIC"},
                {"key": "KBC.datatype.length", "value": "10,2"},
            ],
        },
        pk=["id"],
    )
    (tmp_path / "t.csv.manifest").write_text(json.dumps(manifest))
    t = parse_manifest(str(tmp_path / "t.csv.manifest"))
    assert [c.name for c in t.columns] == ["id", "name", "price"]
    assert [c.dtype for c in t.columns] == ["INTEGER", "STRING", "NUMERIC"]
    assert t.columns[2].length == "10,2"
    assert t.primary_key == ["id"]
    assert t.has_header is False
    assert t.slice_paths == [str(data)]


def test_parse_modern_manifest_schema(tmp_path):
    data = tmp_path / "t.csv"
    data.write_text("1,a\n")
    manifest = {
        "schema": [
            {
                "name": "id",
                "data_type": {"base": {"type": "integer"}},
                "primary_key": True,
            },
            {"name": "name", "data_type": {"base": {"type": "string"}}},
        ]
    }
    (tmp_path / "t.csv.manifest").write_text(json.dumps(manifest))
    t = parse_manifest(str(tmp_path / "t.csv.manifest"))
    assert [c.dtype for c in t.columns] == ["INTEGER", "STRING"]
    assert t.primary_key == ["id"]


def test_parse_sliced_table_dir(tmp_path):
    sliced = tmp_path / "t.csv"
    sliced.mkdir()
    (sliced / "part-01").write_text("1,a\n")
    (sliced / "part-00").write_text("2,b\n")
    (sliced / "_SUCCESS").write_text("")
    (sliced / ".hidden").write_text("")
    (tmp_path / "t.csv.manifest").write_text(
        json.dumps(_legacy_manifest(["id", "name"]))
    )
    t = parse_manifest(str(tmp_path / "t.csv.manifest"))
    assert [p.rsplit("/", 1)[1] for p in t.slice_paths] == ["part-00", "part-01"]


def test_reference_sample_config_fixture_parses():
    """The reference's canonical fixture binds: one table, 7 string
    columns from the legacy manifest, no primary key."""
    tables = discover_input_tables(str(SAMPLE_CONFIG))
    assert len(tables) == 1
    t = tables[0]
    assert t.name == "test"
    assert [c.name for c in t.columns] == [
        "Type", "Campaign_Name", "Status", "Start_Date",
        "End_Date", "Location", "Eventbrite_link",
    ]
    assert all(c.dtype == "STRING" for c in t.columns)
    assert t.primary_key == []
    assert t.slice_paths  # test.csv exists next to the manifest


def test_parse_config_destination(tmp_path):
    _write_config(
        tmp_path,
        {
            "destination": {
                "mode": "overwrite",
                "catalog": "main",
                "schema_name": "s",
                "table": "t",
                "partition_by": ["a"],
                "compression": "ZSTD",
            },
            "batch_size": 1000,
            "preserve_insertion_order": False,
        },
    )
    spec = parse_config(str(tmp_path))
    assert spec.destination.load_mode == LoadMode.OVERWRITE
    assert spec.destination.partition_by == ["a"]
    assert spec.batch_size == 1000
    assert spec.preserve_insertion_order is False
    assert spec.destination.table_uri.endswith("out/tables/main/s/t")


def test_parse_config_rejects_bad_mode(tmp_path):
    _write_config(tmp_path, {"destination": {"mode": "apend"}})
    with pytest.raises(UserException, match="Unsupported mode"):
        parse_config(str(tmp_path))


def test_bind_rejects_tables_and_files(tmp_path, spark):
    tdir = tmp_path / "in" / "tables"
    tdir.mkdir(parents=True)
    (tdir / "t.csv").write_text("1\n")
    (tdir / "t.csv.manifest").write_text(json.dumps(_legacy_manifest(["id"])))
    fdir = tmp_path / "in" / "files"
    fdir.mkdir(parents=True)
    (fdir / "f.parquet").write_text("x")
    _write_config(tmp_path, {})
    with pytest.raises(UserException, match="not both"):
        bind_job(spark, str(tmp_path))


def test_bind_rejects_no_inputs(tmp_path, spark):
    _write_config(tmp_path, {})
    with pytest.raises(UserException):
        bind_job(spark, str(tmp_path))


def test_bind_header_sniffing(tmp_path, spark):
    """Manifest without columns ⇒ CSV header row names the columns."""
    tdir = tmp_path / "in" / "tables"
    tdir.mkdir(parents=True)
    (tdir / "t.csv").write_text('"id","name"\n1,a\n2,b\n')
    (tdir / "t.csv.manifest").write_text(json.dumps({}))
    _write_config(tmp_path, {})
    spec, table, files = bind_job(spark, str(tmp_path))
    assert files is None
    assert [c.name for c in table.columns] == ["id", "name"]
    assert table.has_header is True


def test_bind_s3_staging_block(tmp_path, spark):
    """Orphaned manifest + s3 staging block binds to the staged slice
    listing (the shape consumed at reference src/component.py:262-279);
    a local listing path stands in for the bucket."""
    listing = tmp_path / "listing.json"
    listing.write_text(json.dumps({"entries": []}))
    tdir = tmp_path / "in" / "tables"
    tdir.mkdir(parents=True)
    manifest = _legacy_manifest(
        ["id"],
        s3={
            "region": "us-east-1",
            "bucket": "bkt",
            "key": str(listing),
            "credentials": {
                "access_key_id": "AK",
                "secret_access_key": "SK",
                "session_token": "ST",
            },
        },
    )
    (tdir / "t.csv.manifest").write_text(json.dumps(manifest))
    _write_config(tmp_path, {})
    spec, table, files = bind_job(spark, str(tmp_path))
    assert table.manifest_path == str(listing)


def test_run_datadir_job_end_to_end(tmp_path, spark):
    """Sliced CSV + legacy manifest + config upsert → committed table
    matching the source rows."""
    from component_delta_lake_writer_spark.tables import load_table

    o = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
    )
    tdir = tmp_path / "in" / "tables"
    tdir.mkdir(parents=True)
    sliced = str(tdir / "orders.csv")
    o.coalesce(2).write.mode("overwrite").option("header", "false").csv(sliced)
    (tdir / "orders.csv.manifest").write_text(
        json.dumps(
            _legacy_manifest(
                ["o_orderkey", "o_orderstatus"],
                metadata={
                    "o_orderkey": [
                        {"key": "KBC.datatype.basetype", "value": "INTEGER"}
                    ]
                },
                pk=["o_orderkey"],
            )
        )
    )
    _write_config(
        tmp_path,
        {
            "destination": {"mode": "upsert", "table": "orders"},
            "preserve_insertion_order": False,
        },
    )
    t = run_datadir_job(spark, str(tmp_path))
    r = t.read()
    assert r.count() == o.count()
    assert r.columns == ["o_orderkey", "o_orderstatus"]
    assert t.latest_commit().primary_key == ["o_orderkey"]


def test_preserve_order_with_special_char_paths(spark, tmp_path):
    """Review finding: _metadata.file_path is URL-encoded while the
    driver-side manifest paths are raw — rows from a slice whose path
    contains a space/% vanished from the preserve-order inner join."""
    from component_delta_lake_writer_spark.config import ColumnSpec
    from component_delta_lake_writer_spark.datadir import TableInput
    from component_delta_lake_writer_spark.runner import plan_table_scan

    d = tmp_path / "sli ces"
    d.mkdir()
    (d / "a b.csv").write_text("1,x\n2,y\n")
    (d / "c%d.csv").write_text("3,z\n")
    tbl = TableInput(
        slice_paths=[str(d / "a b.csv"), str(d / "c%d.csv")],
        columns=[ColumnSpec("k", "INTEGER"), ColumnSpec("s", "STRING")],
    )
    rows = {
        (r["k"], r["s"], r["_slice_idx"], r["_row_in_slice"])
        for r in plan_table_scan(spark, tbl, preserve_order=True).collect()
    }
    assert rows == {(1, "x", 0, 0), (2, "y", 0, 1), (3, "z", 1, 0)}


def test_multi_path_jsonl_and_orc(spark, tmp_path):
    """Review finding: *unpacking bound the second path to the schema/
    mergeSchema positional — any multi-path list crashed."""
    from pyspark.sql import types as T

    from component_delta_lake_writer_spark.sources.jsonl import read_jsonl
    from component_delta_lake_writer_spark.sources.orc import read_orc

    p1, p2 = str(tmp_path / "a.jsonl"), str(tmp_path / "b.jsonl")
    open(p1, "w").write('{"k": 1}\n')
    open(p2, "w").write('{"k": 2}\n')
    schema = T.StructType([T.StructField("k", T.LongType())])
    got = {r["k"] for r in read_jsonl(spark, [p1, p2], schema).collect()}
    assert got == {1, 2}

    o1, o2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    spark.range(1).write.orc(o1)
    spark.range(1, 2).write.orc(o2)
    assert {r["id"] for r in read_orc(spark, [o1, o2]).collect()} == {0, 1}


def test_sliced_dir_header_sniff_refused(spark, tmp_path):
    """Sliced table + manifest without columns: header sniffing would
    drop the first data row of every other slice — must refuse."""
    import json

    from component_delta_lake_writer_spark.datadir import bind_job
    from component_delta_lake_writer_spark.errors import UserException

    d = tmp_path / "data"
    (d / "in" / "tables" / "t.csv").mkdir(parents=True)
    (d / "in" / "tables" / "t.csv" / "s1.csv").write_text("a,b\n1,2\n")
    (d / "in" / "tables" / "t.csv" / "s2.csv").write_text("3,4\n5,6\n")
    (d / "in" / "tables" / "t.csv.manifest").write_text(json.dumps({}))
    (d / "config.json").write_text(json.dumps({"parameters": {}}))
    with pytest.raises(UserException, match="sliced"):
        bind_job(spark, str(d), table_uri=str(tmp_path / "out"))
