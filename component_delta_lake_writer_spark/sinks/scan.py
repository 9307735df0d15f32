"""One Spark scan over a table's files — the engine's reads and the
external Delta reader share it.

A Delta reader computes the live file set from the log and reads
exactly those files; a partition column's values come from each add
action's ``partitionValues``, never from the data files or their paths
(Delta Lake, VLDB 2020, §3). ``scan_files`` turns such a file list
({table-relative path: add-shaped record}) into a DataFrame under the
table's logical schema:

- one parquet ``FileScan`` under the physical schema, aliased back to
  logical names — the one place reads cross the column-mapping
  boundary;
- per-file values (partition values, the row-id base and default
  commit version) come from one broadcast Arrow ``LocalRelation``,
  inner-joined on Spark's own spelling of each file
  (``_metadata.file_path``): a file the list does not name is never
  read, and nothing is parsed per row;
- deletion vectors drop their positions with one broadcast anti-join on
  (file, ``_metadata.row_index``).

Building a scan runs no Spark job while Spark lists at most 32 roots
(its ``parallelPartitionDiscovery.threshold``): the roots are whole
unit directories, or, in a unit file skipping pruned, the partition
directories it kept whole and its other kept files; the join keys come
from that listing. A scan that needs no per-file
value — an unpartitioned table without deletion vectors or row ids —
is the bare ``FileScan``, with no join.
"""

from __future__ import annotations

import functools
import json
import os
import re
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from component_delta_lake_writer_spark.errors import UserException
from component_delta_lake_writer_spark.session import local_relation

_FILE = "_scan_file"
_POS = "_scan_pos"
_BASE = "_scan_base"
_RCV = "_scan_rcv"
# the (file, position) pair a positions scan yields: the table-relative
# path as the log spells it, and the row's position in the file
REL = "_rt_rel"
POS = "_rt_ri"

_TEMPORAL_TYPES = ("date", "timestamp", "timestamp_ntz")
# `_metadata.file_path` spells a local file `file:/…`; the listing
# (`inputFiles`) spells the same file `file:///…`
_EMPTY_AUTHORITY = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):///")


@functools.lru_cache(maxsize=16)
def schema_view(schema_string: str) -> tuple[str, dict, frozenset]:
    """(engine schema JSON, {logical: physical} column mapping,
    physical names of the date/timestamp columns) of a metaData
    schemaString: the columnMapping field metadata the log carries is
    stripped back out of the schema and becomes the map of renamed
    columns."""
    schema = json.loads(schema_string)
    mapping: dict = {}
    temporal = set()
    for f in schema.get("fields", []):
        phys = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        if phys != f["name"]:
            mapping[f["name"]] = phys
        if f.get("type") in _TEMPORAL_TYPES:
            temporal.add(phys)
    if "delta.columnMapping." not in schema_string:
        return schema_string, mapping, frozenset(temporal)

    def strip(t) -> None:
        if not isinstance(t, dict):
            return
        if t.get("type") == "struct":
            for nf in t.get("fields", []):
                nf["metadata"] = {
                    k: v for k, v in (nf.get("metadata") or {}).items()
                    if not k.startswith("delta.columnMapping.")
                }
                strip(nf.get("type"))
        elif t.get("type") == "array":
            strip(t.get("elementType"))
        elif t.get("type") == "map":
            strip(t.get("keyType"))
            strip(t.get("valueType"))

    strip(schema)
    return json.dumps(schema), mapping, frozenset(temporal)


def _col(name: str):
    """A top-level column by its exact name (dots, spaces and
    parentheses included)."""
    return F.col("`" + name.replace("`", "``") + "`")


def _root(rel: str) -> str:
    """The directory Spark lists for a file: its unit (``_data/<unit>``,
    ``_change_data/<dir>``), or the file itself when it sits shallower."""
    parts = rel.split("/")
    return "/".join(parts[:2]) if len(parts) > 2 else rel


def _file_keys(raw: DataFrame, table_path: str, files) -> dict[str, str]:
    """{table-relative path: the file's ``_metadata.file_path``} for
    every path of ``files``, read off the scan's own listing. A file the
    log names but the listing lacks is an error, never a silent gap."""
    root = os.path.abspath(table_path).rstrip("/") + "/"
    listed: dict[str, str] = {}
    for uri in raw.inputFiles():
        path = unquote(urlsplit(uri).path)
        if path.startswith(root):
            listed[path[len(root):]] = _EMPTY_AUTHORITY.sub(r"\1:/", uri)
    missing = [p for p in files if p not in listed]
    if missing:
        raise UserException(
            f"{len(missing)} file(s) the log lists are missing from "
            f"{table_path}, e.g. {missing[0]}"
        )
    return {p: listed[p] for p in files}


def scan_files(
    spark: SparkSession,
    table_path: str,
    schema: T.StructType,
    files: dict | None,
    roots: list[str] | None = None,
    mapping: dict | None = None,
    partition_by=(),
    row_ids: tuple | None = None,
    positions: bool = False,
) -> DataFrame:
    """The rows of ``files`` under the logical ``schema``.

    - ``files``: {table-relative path: add-shaped record} — its
      ``partitionValues``, ``deletionVector``, ``baseRowId`` and
      ``defaultRowCommitVersion`` are used. None when ``roots`` hold
      exactly the files to read and none needs a per-file value.
    - ``roots``: table-relative directories or files Spark lists. None:
      each file's unit directory; the join then reads only the listed
      files.
    - ``mapping``: {logical: physical} column names.
    - ``partition_by``: columns whose values come from
      ``partitionValues`` (strings, cast to the schema's type).
    - ``row_ids``: (materialized row-id column, materialized commit
      version column) — either may be None — to add ``_row_id`` and
      ``_row_commit_version``: a materialized value wins over
      ``baseRowId`` + position and ``defaultRowCommitVersion``.
    - ``positions``: add ``_rt_rel`` (table-relative path) and
      ``_rt_ri`` (position in the file)."""
    mapping = mapping or {}
    pset = set(partition_by)
    extra = [
        T.StructField(c, T.LongType(), True) for c in row_ids or () if c
    ]
    physical = T.StructType(
        [
            T.StructField(
                mapping.get(f.name, f.name), f.dataType, f.nullable,
                f.metadata,
            )
            for f in schema.fields
            if f.name not in pset
        ]
        + extra
    )
    tail = (
        [
            T.StructField("_row_id", T.LongType(), True),
            T.StructField("_row_commit_version", T.LongType(), True),
        ]
        if row_ids is not None
        else []
    ) + (
        [
            T.StructField(REL, T.StringType(), True),
            T.StructField(POS, T.LongType(), True),
        ]
        if positions
        else []
    )
    if files is not None and not files:
        return local_relation(spark, T.StructType(schema.fields + tail))
    listed_only = roots is None
    if listed_only:
        roots = sorted({_root(p) for p in files})
    reader = spark.read.schema(physical)
    if files is not None:
        # partition values come from the log, not from directory names
        reader = reader.option("recursiveFileLookup", "true")
    raw = reader.parquet(*[os.path.join(table_path, r) for r in roots])
    if files is None:
        if not mapping:
            return raw
        return raw.select(
            *[_col(mapping.get(f.name, f.name)).alias(f.name)
              for f in schema.fields]
        )
    keys = _file_keys(raw, table_path, files)
    dvs = {
        p: a["deletionVector"] for p, a in files.items()
        if a.get("deletionVector")
    }
    df = raw.select(
        *[_col(f.name) for f in physical.fields],
        F.col("_metadata.file_path").alias(_FILE),
        *(
            [F.col("_metadata.row_index").alias(_POS)]
            if dvs or row_ids is not None or positions
            else []
        ),
    )
    if dvs:
        from component_delta_lake_writer_spark.sinks.deletion_vectors import (
            read_dv,
        )

        gone_files: list[str] = []
        gone_pos: list[int] = []
        for p, d in dvs.items():
            idx = read_dv(table_path, d)
            gone_files.extend([keys[p]] * len(idx))
            gone_pos.extend(idx)
        gone = local_relation(
            spark, f"{_FILE} string, {_POS} long", [gone_files, gone_pos]
        )
        df = df.join(F.broadcast(gone), [_FILE, _POS], "left_anti")
    types = {f.name: f.dataType for f in schema.fields}
    cols: dict[str, tuple] = {_FILE: (T.StringType(), list(keys.values()))}
    for c in partition_by:
        cols[c] = (
            T.StringType(),
            [(a.get("partitionValues") or {}).get(c) for a in files.values()],
        )
    if row_ids is not None:
        cols[_BASE] = (T.LongType(), [a.get("baseRowId") for a in files.values()])
        cols[_RCV] = (
            T.LongType(),
            [a.get("defaultRowCommitVersion") for a in files.values()],
        )
    if positions:
        cols[REL] = (T.StringType(), list(files))
    if len(cols) == 1 and not listed_only:
        # the roots hold exactly the files: nothing to join per file
        return df.select(
            *[_col(mapping.get(f.name, f.name)).alias(f.name)
              for f in schema.fields]
        )
    per_file = local_relation(
        spark,
        T.StructType([T.StructField(c, t, True) for c, (t, _v) in cols.items()]),
        [v for _t, v in cols.values()],
    )
    per_file = per_file.select(
        *[
            _col(c).cast(types[c]).alias(c) if c in pset else _col(c)
            for c in cols
        ]
    )
    df = df.join(F.broadcast(per_file), _FILE)
    out = [
        _col(f.name) if f.name in pset
        else _col(mapping.get(f.name, f.name)).alias(f.name)
        for f in schema.fields
    ]
    if row_ids is not None:
        mat_id, mat_rcv = row_ids
        rid = F.col(_BASE) + F.col(_POS)
        rcv = F.col(_RCV)
        out += [
            (F.coalesce(_col(mat_id), rid) if mat_id else rid).alias("_row_id"),
            (F.coalesce(_col(mat_rcv), rcv) if mat_rcv else rcv).alias(
                "_row_commit_version"
            ),
        ]
    if positions:
        out += [_col(REL), F.col(_POS).alias(POS)]
    return df.select(*out)
