"""End-to-end job runner — the engine's equivalent of the reference's
``run()`` data plane (E1/E2, src/component.py:34-115,174-260).

One JobSpec drives: bind inputs (manifest-described CSV slices or
parquet files) → plan the scan (typed or all-string+cast) → single
atomic commit to a ManagedTable with the requested load mode. The
reference's two paths (external delta-rs write vs warehouse-generated
SQL) collapse into one Catalyst-optimized plan; the staging table of
E2 becomes a projection, not a persisted object.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from component_delta_lake_writer_spark.config import ColumnSpec, JobSpec, LoadMode
from component_delta_lake_writer_spark.errors import UserException
from component_delta_lake_writer_spark.functions.cast import cast_projection
from component_delta_lake_writer_spark.session import local_relation
from component_delta_lake_writer_spark.sinks import ManagedTable
from component_delta_lake_writer_spark.sources.csv import read_csv_all_string
from component_delta_lake_writer_spark.sources.json_manifest import read_manifest_urls
from component_delta_lake_writer_spark.sources.parquet import read_parquet


@dataclass
class TableInput:
    """The reference's TableDefinition essentials (manifest-described
    CSV slices; src/component.py:35,41-48,72)."""

    manifest_path: str | None = None  # JSON manifest listing slice urls
    slice_paths: list[str] = field(default_factory=list)  # or explicit paths
    columns: list[ColumnSpec] = field(default_factory=list)
    delimiter: str = ","  # manifest csv dialect (datadir binder)
    enclosure: str = '"'
    has_header: bool = False  # header row instead of manifest columns


@dataclass
class FileInput:
    """The reference's parquet file inputs (src/component.py:36,79-81)."""

    paths: list[str] = field(default_factory=list)


def plan_table_scan(
    spark: SparkSession, tbl: TableInput, preserve_order: bool = False
) -> DataFrame:
    """E1 step 3 / E2 steps 1-3: slice urls (S3 scan of the manifest)
    → all-string positional staging read → cast projection (P2).

    ``preserve_order`` is O1 (reference ``preserve_insertion_order``,
    src/component.py:381-382): Spark has no implicit cross-partition
    order — and the multi-path scan bin-packs files by SIZE, so even
    partition indexes don't follow the slice list. The contract is
    therefore explicit columns: ``_slice_idx`` (manifest position) and
    ``_row_in_slice`` (byte-order position within the slice). Sorting
    by (_slice_idx, _row_in_slice) reproduces CSV insertion order.

    Scale design (one FileScan, not a per-slice scan loop — a
    5,000-slice table must not become a 5,000-scan plan):

    - ``_slice_idx``: the scan's hidden ``_metadata.file_path`` joined
      against a (path → manifest position) map built on the driver as
      an Arrow ``LocalRelation`` (``session.local_relation``). Its exact
      size estimate keeps the whole scan's estimate finite, so an
      upsert of this scan still plans its anti-join as a broadcast of
      the source keys instead of shuffling the target; it runs no
      Python-worker job either.
    - ``_row_in_slice``: reconstructed WITHOUT shuffling the data.
      ``monotonically_increasing_id`` is contiguous within a file
      split, so row-in-slice = (rows in earlier splits of the file) +
      (id − split's min id). Split row-counts/min-ids come from a
      map-side-combinable aggregate whose result is tiny (one row per
      split) and is broadcast back — the 100 TB never moves. Relies on
      Spark's deterministic split planning (same listing + conf ⇒ same
      splits across the two jobs), which holds for file sources.
    """
    paths = tbl.slice_paths
    if tbl.manifest_path:
        paths = [r.url for r in read_manifest_urls(spark, tbl.manifest_path).collect()]
    if not paths:
        raise UserException("Input table has no slices.")

    def staged_scan(ps: list[str]):
        return read_csv_all_string(
            spark,
            ps,
            n_columns=len(tbl.columns),
            header=tbl.has_header,
            delimiter=tbl.delimiter,
            quote=tbl.enclosure,
        )

    if not preserve_order:
        return cast_projection(staged_scan(paths), tbl.columns, positional=True)

    import re

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    _SCHEME = r"^[a-zA-Z0-9+.\-]+:/+"

    def norm(p: str) -> str:
        # match the scheme-stripped form of _metadata.file_path
        if re.match(_SCHEME, p):
            return re.sub(_SCHEME, "/", p)
        return os.path.abspath(p)

    idx_map = local_relation(
        spark,
        "__file STRING, _slice_idx INT",
        [[norm(p) for p in paths], range(len(paths))],
    )
    # _metadata.file_path is URL-ENCODED ('a b.csv' -> 'a%20b.csv')
    # while the driver-side manifest paths are raw — undecoded, the
    # inner joins below silently DROP every row of a slice whose path
    # contains a space/%/#. '+' is pre-escaped because url_decode is
    # x-www-form (+ -> space) while file URLs keep '+' literal.
    staged = staged_scan(paths).select(
        "*",
        F.url_decode(
            F.replace(
                F.regexp_replace(F.col("_metadata.file_path"), _SCHEME, "/"),
                F.lit("+"), F.lit("%2B"),
            )
        ).alias("__file"),
        F.col("_metadata.file_block_start").alias("__block"),
        F.monotonically_increasing_id().alias("__mono"),
    )
    typed = cast_projection(
        staged, tbl.columns, positional=True,
        keep=["__file", "__block", "__mono"],
    )
    # one tiny row per file split; partial-aggregated map-side
    splits = typed.groupBy("__file", "__block").agg(
        F.count(F.lit(1)).alias("__n"), F.min("__mono").alias("__m0")
    )
    w = Window.partitionBy("__file").orderBy("__block")
    offsets = splits.withColumn(
        "__off", F.sum("__n").over(w) - F.col("__n")
    ).drop("__n")
    return (
        typed.join(F.broadcast(offsets), ["__file", "__block"])
        .join(F.broadcast(idx_map), "__file")
        .withColumn(
            "_row_in_slice",
            (F.col("__off") + (F.col("__mono") - F.col("__m0"))).cast("long"),
        )
        .select(
            *[c.name for c in tbl.columns], "_slice_idx", "_row_in_slice"
        )
    )


def run_job(
    spark: SparkSession,
    spec: JobSpec,
    table: TableInput | None = None,
    files: FileInput | None = None,
) -> ManagedTable:
    """The full E1/E2 lifecycle: validate (X3) → scan → one atomic
    commit in the requested load mode → return the table handle."""
    spec.validate(
        n_tables=1 if table else 0, n_files=len(files.paths) if files else 0
    )
    if table:
        df = plan_table_scan(spark, table, preserve_order=spec.preserve_insertion_order)
    else:
        df = read_parquet(spark, files.paths)

    dest = spec.destination
    t = ManagedTable(spark, dest.table_uri)
    codec = spec.spark_codec()
    if dest.load_mode == LoadMode.UPSERT:
        t.upsert(
            df,
            dest.primary_key,
            compression=codec,
            max_records_per_file=spec.batch_size,
        )
    else:
        mode = {
            LoadMode.ERROR: "error",
            LoadMode.APPEND: "append",
            LoadMode.OVERWRITE: "overwrite",
        }[dest.load_mode]
        t.write(
            df,
            mode=mode,
            partition_by=dest.partition_by,
            primary_key=dest.primary_key,
            compression=codec,
            max_records_per_file=spec.batch_size,
        )
    return t
