"""The one scan over the log's file list (``sinks/scan.py``): partition
values from the adds whatever the column is called, row ids on
partitioned tables, file-level skipping inside partitioned units, no
Spark job while a read is built, and a guard that keeps file scans in
the scan module. Expected rows are checked against the independent
pyarrow reader (``delta_verifier``)."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.sinks import ManagedTable
from component_delta_lake_writer_spark.sinks import delta_log as DL
from delta_verifier import read_delta_table, read_delta_table_row_ids

SINKS = Path(__file__).resolve().parent.parent / (
    "component_delta_lake_writer_spark/sinks"
)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("col", ["a b", "p+q", "x(y)"])
def test_partition_column_names_read_back(spark, tmp_path, col):
    """A partition column whose name Spark escapes in the directory
    (``a b`` is written ``a%20b=``) or that holds a regex
    metacharacter reads its values back after a second unit — through
    read, read_where, a matching copy-on-write upsert and optimize,
    which rewrite the values they read."""
    t = ManagedTable(spark, str(tmp_path / "t"))

    def batch(lo: int):
        return spark.range(lo, lo + 6).select(
            F.col("id").alias("k"),
            F.element_at(
                F.array(F.lit("u"), F.lit("v"), F.lit("w")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias(col),
        )

    for lo in (0, 6):
        t.write(batch(lo), mode="append", partition_by=[col], primary_key=["k"])
    assert len(t.latest_commit().data_units) == 2
    want = sorted(((k, "uvw"[k % 3]) for k in range(12)), key=repr)
    assert _rows(read_delta_table(spark, t.path)) == want
    assert _rows(t.read()) == want
    assert _rows(t.read_where("k >= 1")) == [r for r in want if r[0] >= 1]

    src = spark.range(1).select(
        F.lit(1).cast("long").alias("k"), F.lit("v").alias(col)
    ).union(
        spark.range(1).select(
            F.lit(100).cast("long").alias("k"), F.lit("u").alias(col)
        )
    )
    t.upsert(src, ["k"])
    want = sorted(want + [(100, "u")], key=repr)
    assert _rows(read_delta_table(spark, t.path)) == want
    assert _rows(t.read()) == want

    t.optimize()
    assert _rows(read_delta_table(spark, t.path)) == want
    assert _rows(t.read()) == want


def test_external_row_ids_on_partitioned_table(spark, tmp_path):
    """The log-driven row-id reader answers for a partitioned,
    row-tracked table — with a deletion vector, and after an optimize
    that materializes the ids — exactly as the engine does, and both
    agree with the independent reader."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(36).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )
    props = {"delta.enableRowTracking": "true"}
    t.write(
        df.filter("k < 24"), mode="overwrite", partition_by=["g"],
        primary_key=["k"], properties=props,
    )
    t.write(df.filter("k >= 24"), mode="append", partition_by=["g"])

    def ids(frame) -> list[tuple]:
        return sorted(
            (r.k, r.g, r._row_id, r._row_commit_version)
            for r in frame.collect()
        )

    def check() -> None:
        eng = ids(t.read(with_row_ids=True))
        assert ids(DL.read_delta_table_row_ids(spark, t.path)) == eng
        assert ids(read_delta_table_row_ids(spark, t.path)) == eng

    t.delete_where("k % 5 = 0", strategy="merge-on-read")
    assert DL.live_dv_descriptors(t.path)
    check()
    t.optimize()
    t.delete_where("k % 7 = 0", strategy="merge-on-read")
    assert DL.live_dv_descriptors(t.path)
    check()
    assert {r[0] for r in ids(t.read(with_row_ids=True))} == {
        k for k in range(36) if k % 5 and k % 7
    }


def test_read_where_skips_files_inside_partitioned_unit(spark, tmp_path):
    """A selective data-column predicate on a multi-file partitioned
    unit hands Spark only the files whose stats can match."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("p")
    )
    t.write(df.repartitionByRange(4, "k"), mode="overwrite", partition_by=["p"])
    assert len(t.latest_commit().data_units) == 1
    every = t.read().inputFiles()
    out = t.read_where("k < 50")
    assert 0 < len(out.inputFiles()) < len(every)
    assert _rows(out) == _rows(t.read().filter("k < 50"))
    assert _rows(out) == _rows(read_delta_table(spark, t.path).filter("k < 50"))


def test_building_reads_runs_no_spark_job(spark, tmp_path):
    """Building a read over 64 live files in 4 partitioned units lists
    them on the driver: no Spark job runs before the first action. A
    partition predicate that keeps 48 files of one unit lists their 3
    partition directories, not the 48 files."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.floor(F.col("id") / 4) % 16).cast("int").alias("p"),
    )
    for i in range(4):
        t.write(
            df.filter(F.col("k") % 4 == i).coalesce(1),
            mode="append", partition_by=["p"],
        )
    assert len(DL.replay_delta_log(t.path)[0]) >= 64
    o = ManagedTable(spark, str(tmp_path / "o"))
    o.write(
        df.withColumn("p", F.col("p") % 4).repartition(16),
        mode="overwrite", partition_by=["p"],
    )
    assert len(DL.replay_delta_log(o.path)[0]) == 64
    sc = spark.sparkContext
    group = "scan-build-no-jobs"
    sc.setJobGroup(group, group)
    try:
        reads = [
            t.read(),
            t.read_where("k >= 1000 AND p = 3"),
            DL.read_delta_table(spark, t.path),
            o.read_where("p < 3"),
        ]
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    assert jobs == []
    assert [r.count() for r in reads] == [2000, 64, 2000, 1500]
    assert len(reads[3].inputFiles()) == 48


def _name(node) -> str:
    return node.attr if isinstance(node, ast.Attribute) else getattr(
        node, "id", ""
    )


def _spark_parquet_read(node) -> bool:
    """A ``….read….parquet(…)`` call."""
    if not (isinstance(node, ast.Call) and _name(node.func) == "parquet"):
        return False
    n = node.func
    while isinstance(n, (ast.Attribute, ast.Call)):
        n = n.value if isinstance(n, ast.Attribute) else n.func
        if _name(n) == "read":
            return True
    return False


def _file_scan_sites(path) -> set[tuple[int, str]]:
    """(line, idiom) of each file-scan idiom in ``path``: an
    ``input_file_name`` reference, a ``"recursiveFileLookup"`` option,
    or a function that unions (``unionByName``) Spark parquet reads it
    builds in a loop — per-file or per-group scans."""
    sites = set()
    tree = ast.parse(path.read_text(), str(path))
    for node in ast.walk(tree):
        if isinstance(node, (ast.Name, ast.Attribute)) and (
            _name(node) == "input_file_name"
        ):
            sites.add((node.lineno, "input_file_name"))
        elif isinstance(node, ast.Constant) and node.value == "recursiveFileLookup":
            sites.add((node.lineno, "recursiveFileLookup"))
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            loops = [
                n for n in ast.walk(node)
                if isinstance(n, (ast.For, ast.While, ast.comprehension))
            ]
            reads_in_loop = any(
                _spark_parquet_read(c) for lp in loops for c in ast.walk(lp)
            ) or any(
                # a local helper that reads, called inside a loop
                isinstance(c, ast.Call)
                and _name(c.func) in {
                    f.name for f in ast.walk(node)
                    if isinstance(f, ast.FunctionDef) and f is not node
                    and any(_spark_parquet_read(x) for x in ast.walk(f))
                }
                for lp in loops for c in ast.walk(lp)
            )
            unions = any(
                isinstance(c, ast.Call) and _name(c.func) == "unionByName"
                for c in ast.walk(node)
            )
            if reads_in_loop and unions:
                sites.add((node.lineno, f"per-file union in {node.name}"))
    return sites


def test_file_scans_live_only_in_the_scan_module():
    """Every scan of a table's files goes through ``sinks/scan.py``:
    no other sinks module recovers values from ``input_file_name``,
    lists with ``recursiveFileLookup`` or unions one scan per file."""
    files = sorted(SINKS.glob("*.py"))
    assert SINKS / "scan.py" in files and SINKS / "delta_log.py" in files
    assert {s for _line, s in _file_scan_sites(SINKS / "scan.py")} == {
        "recursiveFileLookup"
    }
    offenders = {
        f.name: sorted(sites)
        for f in files
        if f.name != "scan.py" and (sites := _file_scan_sites(f))
    }
    assert offenders == {}, offenders


# the functions whose job is the disk, per module: a new unit's one
# listing and footer pass, the listing primitives themselves, the unit
# split, the adoption of foreign files, the legacy converter and
# storage upkeep
_DISK_OWNERS = {
    "managed_table.py": {
        "_unit_files", "_split_unit_per_file", "convert_from_parquet",
        "sync_metadata", "vacuum", "fsck", "clone_to",
    },
    "unit_stats.py": {"collect_unit_stats"},
    "delta_log.py": {"_walk_parquet"},
}
_WALKS = {"_walk_parquet", "list_parquet_files"}


def _walk_sites(path) -> list[tuple[int, str]]:
    """(line, enclosing function) of each directory walk in ``path``
    outside its module's disk owners: an ``os.walk`` or a call of a
    listing primitive."""
    owners = _DISK_OWNERS.get(path.name, set())
    sites = []

    def visit(node, scope: tuple) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = scope + (node.name,)
        walk = (
            isinstance(node, ast.Attribute) and node.attr == "walk"
            and _name(node.value) == "os"
        ) or (
            isinstance(node, ast.Call) and _name(node.func) in _WALKS
        )
        if walk and not owners & set(scope):
            sites.append((node.lineno, ".".join(scope) or "<module>"))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(ast.parse(path.read_text(), str(path)), ())
    return sites


def test_snapshot_files_come_from_the_records():
    """A snapshot's files are ``Commit.files``, one record per live
    add: ``Commit`` keeps no parallel per-file map, and no code in
    ``sinks/`` or ``streaming/`` walks a table's directories for what
    the log records, except the functions that own the disk."""
    from dataclasses import fields

    from component_delta_lake_writer_spark.sinks.managed_table import Commit

    assert {f.name for f in fields(Commit)} & {
        "partition_values", "row_ids", "deletion_vectors",
    } == set()
    pkg = SINKS.parent
    offenders = {
        f"{f.parent.name}/{f.name}": sites
        for d in ("sinks", "streaming")
        for f in sorted((pkg / d).glob("*.py"))
        if (sites := _walk_sites(f))
    }
    assert offenders == {}, offenders
