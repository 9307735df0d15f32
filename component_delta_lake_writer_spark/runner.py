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
import re
from dataclasses import dataclass, field
from urllib.parse import unquote

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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


# a URI scheme and its slashes ("file:/", "s3a://"); stripped, with the
# path URL-decoded, a Spark file path compares equal to ``_norm(path)``
_SCHEME = r"^[a-zA-Z0-9+.\-]+:/+"


def _norm(p: str) -> str:
    """A slice path in the scheme-stripped, decoded form of a scan's
    file path."""
    if re.match(_SCHEME, p):
        return re.sub(_SCHEME, "/", p)
    return os.path.abspath(p)


def _whole_slice_partitions(
    staged: DataFrame, normed: list[str]
) -> list[tuple[str, int]] | None:
    """(``input_file_name()``, slice index) of each scan partition of
    ``staged`` when Spark planned every slice whole and alone in one
    partition, else None.

    Read off the planned scan (``FileSourceScanExec.inputRDD``), not
    re-derived from ``maxSplitBytes``: a wrong yes would misnumber
    rows. The partition count is checked first, so a packed or split
    listing costs one JVM call; a zero-byte slice gets no partition,
    so it takes the split-offset plan too.
    """
    try:
        leaf = staged._jdf.queryExecution().sparkPlan().collectLeaves().head()
        if leaf.getClass().getSimpleName() != "FileSourceScanExec":
            return None
        parts = leaf.inputRDD().partitions()
    except Py4JError:  # a listing whose plan cannot be read
        return None
    if len(parts) != len(normed):
        return None
    slice_of = {p: i for i, p in enumerate(normed)}
    out = []
    for part in parts:
        files = part.files()
        if len(files) != 1:
            return None
        f = files[0]
        if f.start() != 0 or f.length() != f.fileSize():
            return None
        path = f.urlEncodedPath()  # what input_file_name() reads
        i = slice_of.get(unquote(re.sub(_SCHEME, "/", path)))
        if i is None:
            return None
        out.append((path, i))
    # a slice split in two shows start > 0 above, so the map is 1:1
    return out


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

    Both plans are ONE FileScan of the whole listing, not a per-slice
    scan loop (a 5,000-slice table must not become a 5,000-scan plan),
    and both number rows with ``monotonically_increasing_id``, which is
    ``partitionIndex << 33 | rowInPartition``. Which plan is used is
    read from Spark's own split plan of the staged scan
    (``_whole_slice_partitions``):

    - **One pass**, when every slice is whole and alone in one scan
      partition (each ``FilePartition`` holds one ``PartitionedFile``
      with ``start == 0`` and ``length == fileSize``, one partition per
      slice). Then ``_row_in_slice`` is the id's low 33 bits and
      ``_slice_idx`` a literal array indexed by ``spark_partition_id()``,
      the id's high bits.
      One job, no join, aggregate or window. Each row also checks
      ``input_file_name()`` against the file its partition was planned
      with, so a scan that Spark re-packs before it runs (the conf or
      the parallelism changed) fails instead of misnumbering rows.
    - **Split offsets** otherwise: slices packed together, a slice
      larger than a split, a zero-byte slice, or a plan that cannot be
      read. Row numbers restart at no file boundary there, so this is
      the only correct plan for those inputs. ``_slice_idx`` joins
      the decoded ``_metadata.file_path`` against a (path → position)
      map built on the driver as an Arrow ``LocalRelation``
      (``session.local_relation``); its exact size estimate keeps the
      scan's estimate finite, so an upsert of this scan still plans
      its anti-join as a broadcast of the source keys. The id is
      contiguous within a file split, so row-in-slice = (rows in
      earlier splits of the file) + (id − split's min id); split
      row-counts and min-ids come from a map-side-combinable aggregate
      (one tiny row per split) that is window-summed and broadcast
      back, so the data never moves.

    Both rely on Spark's deterministic split planning: the same listing
    and conf give the same splits, in the check and in the job(s) that
    run the plan. A slice listed twice is refused in either mode; with
    ``preserve_order``, so is a slice that is not one file (a
    directory), whose rows no manifest position numbers.
    """
    paths = tbl.slice_paths
    if tbl.manifest_path:
        paths = [r.url for r in read_manifest_urls(spark, tbl.manifest_path).collect()]
    if not paths:
        raise UserException("Input table has no slices.")
    normed = [_norm(p) for p in paths]
    seen: set[str] = set()
    for p, n in zip(paths, normed):
        if n in seen:
            raise UserException(f"Slice {p} is listed more than once.")
        seen.add(n)

    staged = read_csv_all_string(
        spark,
        paths,
        n_columns=len(tbl.columns),
        header=tbl.has_header,
        delimiter=tbl.delimiter,
        quote=tbl.enclosure,
    )
    if not preserve_order:
        return cast_projection(staged, tbl.columns, positional=True)

    layout = _whole_slice_partitions(staged, normed)
    if layout is not None:
        part = F.spark_partition_id()
        planned = F.get(F.array(*[F.lit(p) for p, _ in layout]), part)
        return cast_projection(
            staged.select(
                "*",
                # a conf or parallelism change after this check re-packs
                # the scan: fail loudly rather than misnumber rows
                F.when(
                    ~F.input_file_name().eqNullSafe(planned),
                    F.raise_error(F.lit(
                        "preserve-order scan: Spark re-planned the slice "
                        "splits after plan_table_scan; plan the scan again"
                    )),
                ).otherwise(
                    F.get(F.array(*[F.lit(i) for _, i in layout]), part)
                ).alias("_slice_idx"),
                F.monotonically_increasing_id()
                .bitwiseAND((1 << 33) - 1)
                .alias("_row_in_slice"),
            ),
            tbl.columns, positional=True, keep=["_slice_idx", "_row_in_slice"],
        )

    # a slice that names a directory scans files no slice names: its
    # rows would match no manifest position (and numbering its files
    # would invent positions). The listing is the scan's own, driver-side.
    listed = {unquote(re.sub(_SCHEME, "/", f)) for f in staged.inputFiles()}
    for p, n in zip(paths, normed):
        if n not in listed:
            raise UserException(
                f"Slice {p} is not one file (a directory?); a preserve-order "
                "scan numbers rows by slice, so each slice must be a file."
            )
    idx_map = local_relation(
        spark, "__file STRING, _slice_idx INT", [normed, range(len(paths))]
    )
    # _metadata.file_path is URL-ENCODED ('a b.csv' -> 'a%20b.csv')
    # while the driver-side manifest paths are raw — undecoded, the
    # inner joins below silently DROP every row of a slice whose path
    # contains a space/%/#. '+' is pre-escaped because url_decode is
    # x-www-form (+ -> space) while file URLs keep '+' literal.
    staged = staged.select(
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
