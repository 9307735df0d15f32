"""An independent Delta reader the tests check the engine against.

The package's external reader (``sinks.delta_log.read_delta_table``)
and the engine's own reads share one Spark scan (``sinks.scan``), so a
test comparing the two would compare that scan with itself. This
reader shares no scan code with them: pyarrow reads each file the
log's adds name, a row a deletion vector marks is dropped by its
position in the file, partition values come from ``partitionValues``,
row ids are ``baseRowId`` + position unless a materialized column
holds one, and the rows reach Spark as one Arrow table. It reuses only
the log replay and the deletion-vector file decoder.

Each function answers like its namesake in ``sinks.delta_log``, errors
included.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from component_delta_lake_writer_spark.sinks.deletion_vectors import read_dv
from component_delta_lake_writer_spark.sinks.delta_log import (
    _READER_SUPPORTED,
    _decode_path,
    _log_versions,
    _read_version_actions,
    _replay_state,
)

_MAPPING = "delta.columnMapping."


def _fields(schema_string: str) -> list[tuple[T.StructField, str]]:
    """(logical field, physical name) per top-level column of a
    metaData schemaString; the column-mapping metadata is dropped."""
    out = []
    for f in json.loads(schema_string)["fields"]:
        meta = f.get("metadata") or {}
        phys = meta.get(_MAPPING + "physicalName", f["name"])
        field = T.StructField.fromJson(
            {
                **f,
                "metadata": {
                    k: v for k, v in meta.items() if not k.startswith(_MAPPING)
                },
            }
        )
        out.append((field, phys))
    return out


def _read(spark, table_path, adds: dict, schema_string, pcols, row_ids=None):
    """The rows of ``adds`` ({fs path: add}) as a Spark DataFrame."""
    fields = _fields(schema_string)
    pset = set(pcols)
    # partition columns travel as their log strings and are cast last
    arrow_fields = [
        T.StructField(f.name, T.StringType(), True) if f.name in pset else f
        for f, _p in fields
    ]
    if row_ids is not None:
        arrow_fields += [
            T.StructField("_row_id", T.LongType(), True),
            T.StructField("_row_commit_version", T.LongType(), True),
        ]
    target = to_arrow_schema(T.StructType(arrow_fields))
    tables = []
    for rel, add in adds.items():
        data = pq.read_table(os.path.join(table_path, rel))
        n = data.num_rows
        keep = np.ones(n, dtype=bool)
        if add.get("deletionVector"):
            keep[read_dv(table_path, add["deletionVector"])] = False
        pv = add.get("partitionValues") or {}
        cols = []
        for (f, phys), af in zip(fields, target):
            if f.name in pset:
                cols.append(pa.array([pv.get(f.name)] * n, pa.string()))
            elif phys in data.column_names:
                cols.append(data.column(phys).cast(af.type))
            else:
                cols.append(pa.nulls(n, af.type))
        if row_ids is not None:
            mat_id, mat_rcv = row_ids
            base = add.get("baseRowId")
            fresh_id = (
                pa.array(np.arange(n, dtype=np.int64) + base)
                if base is not None
                else pa.nulls(n, pa.int64())
            )
            fresh_rcv = pa.array(
                [add.get("defaultRowCommitVersion")] * n, pa.int64()
            )
            for mat, fresh in ((mat_id, fresh_id), (mat_rcv, fresh_rcv)):
                if mat and mat in data.column_names:
                    fresh = pc.coalesce(data.column(mat).cast(pa.int64()), fresh)
                cols.append(fresh)
        table = pa.Table.from_arrays(
            [pa.chunked_array(c) if isinstance(c, pa.Array) else c for c in cols],
            schema=target,
        )
        tables.append(table.filter(pa.array(keep)))
    table = pa.concat_tables(tables) if tables else target.empty_table()
    df = spark.createDataFrame(table, T.StructType(arrow_fields))
    types = {f.name: f.dataType for f, _p in fields}
    return df.select(
        *[
            F.col(f"`{c}`").cast(types[c]).alias(c) if c in pset
            else F.col(f"`{c}`")
            for c in df.columns
        ]
    )


def _gate(st: dict) -> None:
    p = st["protocol"]
    if p is None:
        return
    if int(p.get("minReaderVersion", 1)) > 3:
        raise ValueError(f"unsupported minReaderVersion {p['minReaderVersion']}")
    unknown = set(p.get("readerFeatures") or ()) - _READER_SUPPORTED
    if unknown:
        raise ValueError(f"unsupported reader features: {sorted(unknown)}")


def read_delta_table(spark, table_path: str):
    st = _replay_state(table_path)
    _gate(st)
    md = st["metaData"]
    return _read(
        spark, table_path, st["adds"], md["schemaString"],
        md["partitionColumns"],
    )


def read_delta_table_row_ids(spark, table_path: str):
    st = _replay_state(table_path)
    md = st["metaData"]
    cfg = md.get("configuration") or {}
    if str(cfg.get("delta.enableRowTracking")).lower() != "true":
        raise ValueError("table does not advertise delta.enableRowTracking")
    return _read(
        spark, table_path, st["adds"], md["schemaString"],
        md["partitionColumns"],
        row_ids=(
            cfg.get("delta.rowTracking.materializedRowIdColumnName"),
            cfg.get("delta.rowTracking.materializedRowCommitVersionColumnName"),
        ),
    )


def read_delta_table_changes(
    spark, table_path: str, from_version: int, to_version: int | None = None
):
    log_dir = os.path.join(table_path, "_delta_log")
    versions = [
        v for v in _log_versions(log_dir)
        if v > from_version and (to_version is None or v <= to_version)
    ]
    if not versions:
        raise ValueError(f"no log entries after version {from_version}")
    missing = sorted(set(range(from_version + 1, versions[-1] + 1)) - set(versions))
    if missing:
        raise ValueError(
            f"log entries for versions {missing[:5]}… were cleaned up "
            "(metadata retention); start from a retained version"
        )
    md = _replay_state(table_path, versions[-1])["metaData"]
    sj = json.loads(md["schemaString"])
    cdc_schema = json.dumps({**sj, "fields": sj["fields"] + [{
        "name": "_change_type", "type": "string", "nullable": True,
        "metadata": {},
    }]})
    out = None
    for v in versions:
        actions = _read_version_actions(log_dir, v)
        cdc = {
            _decode_path(a["cdc"]["path"]): a["cdc"]
            for a in actions if "cdc" in a
        }
        if cdc:
            df = _read(spark, table_path, cdc, cdc_schema, [])
        else:
            if any(
                "remove" in a and a["remove"].get("dataChange", True)
                for a in actions
            ):
                raise ValueError(
                    f"version {v} removes data without cdc actions — "
                    "not derivable (enable delta.enableChangeDataFeed)"
                )
            adds = {
                _decode_path(a["add"]["path"]): a["add"]
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            }
            if not adds:
                continue
            df = _read(
                spark, table_path, adds, md["schemaString"],
                md["partitionColumns"],
            ).withColumn("_change_type", F.lit("insert"))
        df = df.withColumn("_commit_version", F.lit(v).cast("long"))
        out = df if out is None else out.unionByName(df)
    if out is None:
        raise ValueError(f"no data-changing commits after version {from_version}")
    return out
