"""One record per live file (``Commit.files``): the log's adds are the
table's file list. Row counts and sizes come from the records, a commit
reads its new unit from disk once, and the change-data stream takes its
partition values and deletion vectors from the records."""

from __future__ import annotations

import collections
import os

import pytest
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.sinks import ManagedTable
from component_delta_lake_writer_spark.sinks import delta_log as DL
from component_delta_lake_writer_spark.statements import StatementExecutor


def _rows(df, cols) -> list[tuple]:
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def test_detail_counts_live_rows_after_merge_on_read_delete(spark, tmp_path):
    """A merge-on-read delete leaves its rows in the files and marks
    them in deletion vectors: ``detail()`` and ``DESCRIBE DETAIL``
    count what a read returns, and the file count and size are the
    log's adds."""
    ex = StatementExecutor(spark, str(tmp_path))
    t = ex.table("t")
    t.write(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).repartition(2),
        mode="overwrite", primary_key=["k"],
    )
    t.delete_where("k < 3", strategy="merge-on-read")
    assert t.latest_commit().deletion_vectors
    n = t.read().count()
    assert n == t.row_count() == 7
    d = t.detail()
    assert d["num_rows_from_stats"] == n
    assert ex.execute("DESCRIBE DETAIL t").collect()[0]["num_rows"] == n
    adds = DL._replay_state(t.path)["adds"]
    assert d["num_files"] == len(adds) == len(t.read().inputFiles())
    assert d["size_bytes"] == sum(a["size"] for a in adds.values()) == sum(
        os.path.getsize(os.path.join(t.path, p)) for p in adds
    )


@pytest.mark.parametrize(
    "partitioned, tracked", [(False, False), (True, False), (True, True)]
)
def test_commit_reads_its_new_unit_from_disk_once(
    spark, tmp_path, monkeypatch, partitioned, tracked
):
    """An append lists its new unit's directory once and opens each new
    file's footer once: into a partitioned table with or without row
    tracking, and into an unpartitioned one whose empty first input
    partition leaves Spark's 0-row ``part-00000`` file, which that one
    pass drops. The adds and the fresh row ids come from the records
    that pass made."""
    import pyarrow.parquet as pq

    t = ManagedTable(spark, str(tmp_path / "t"))
    props = {"delta.enableRowTracking": "true"} if tracked else None

    def batch(lo):
        df = spark.range(lo, lo + 30, numPartitions=3).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("p")
        )
        # unpartitioned: input partition 0 (k < lo + 10) writes no row
        return df if partitioned else df.where(F.col("k") >= lo + 10)

    t.write(
        batch(0), mode="overwrite", properties=props,
        partition_by=["p"] if partitioned else None,
    )
    listed: list[str] = []
    opened: collections.Counter = collections.Counter()
    real_walk, real_listdir, real_file = os.walk, os.listdir, pq.ParquetFile

    def walk(top, *a, **k):
        listed.append(os.path.relpath(str(top), t.path))
        return real_walk(top, *a, **k)

    def listdir(path=".", *a, **k):
        listed.append(os.path.relpath(str(path), t.path))
        return real_listdir(path, *a, **k)

    class CountingFile(real_file):
        def __init__(self, source, *a, **k):
            opened[os.path.relpath(str(source), t.path)] += 1
            super().__init__(source, *a, **k)

    monkeypatch.setattr(os, "walk", walk)
    monkeypatch.setattr(os, "listdir", listdir)
    monkeypatch.setattr(pq, "ParquetFile", CountingFile)
    c = t.write(batch(30), mode="append")
    monkeypatch.undo()
    unit = c.data_units[-1]
    new = sorted(c.files[unit])
    assert [p for p in listed if p.startswith(f"_data/{unit}")] == [
        f"_data/{unit}"
    ]
    assert set(opened.values()) == {1}
    if partitioned:
        assert len(new) == 6 and sorted(opened) == new
    else:
        # the dropped file was opened once too, and is gone with its crc
        assert len(new) == 2 and len(opened) == 3
        (gone,) = set(opened) - set(new)
        assert os.path.basename(gone).startswith("part-00000-")
        head, name = os.path.split(os.path.join(t.path, gone))
        assert not {name, f".{name}.crc"} & set(real_listdir(head))
    if tracked:
        ids = sorted(r["baseRowId"] for r in c.files[unit].values())
        assert ids[0] == 30 and c.row_id_high_water == 59
    want = range(60) if partitioned else [
        k for k in range(60) if k % 30 >= 10
    ]
    assert _rows(t.read(), ["k", "p"]) == sorted(
        ((k, k % 2) for k in want), key=repr
    )


def test_cdf_stream_takes_partition_values_from_the_log(spark, tmp_path):
    """The change-data stream reads each data file's partition values
    and deletion vector from its record: a partition column named
    ``a b`` with values that need escaping on disk (and NULL) streams
    the rows ``read()`` and ``read_changes`` return, from the default
    start (the snapshot) and from ``startingVersion=1``."""
    from component_delta_lake_writer_spark.streaming.cdf_source import (
        register,
    )

    col = "a b"
    vals = ["p%q", "a=b", "x y", "c+d", None]
    t = ManagedTable(spark, str(tmp_path / "t"))

    def batch(lo):
        return spark.createDataFrame(
            [(k, k * 10, vals[k % len(vals)]) for k in range(lo, lo + 10)],
            f"k long, v long, `{col}` string",
        )

    t.write(
        batch(0), mode="overwrite", partition_by=[col], primary_key=["k"],
        properties={"enableChangeDataFeed": True},
    )
    t.write(batch(10), mode="append")
    t.delete_where("k < 3 OR k >= 18", strategy="merge-on-read")
    assert t.latest_commit().deletion_vectors
    register(spark)

    def stream(name, **opts):
        r = spark.readStream.format("table_changes_stream").option(
            "path", t.path
        )
        for k, v in opts.items():
            r = r.option(k, v)
        q = (
            r.load().writeStream.format("memory").queryName(name)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return spark.table(name)

    cols = ["k", "v", col, "_change_type"]
    snap = stream("records_snapshot")
    want = t.read().withColumn("_change_type", F.lit("insert"))
    assert _rows(snap, cols) == _rows(want, cols)
    assert len(_rows(snap, cols)) == 15
    changes = stream("records_from_v1", startingVersion="1")
    want = t.read_changes(0, with_change_type=True)
    assert _rows(changes, cols) == _rows(want, cols)
    assert {r[2] for r in _rows(changes, cols)} == set(vals)
