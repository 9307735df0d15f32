"""Change data feed: each change set is written once, as the
``_change_data/`` files its commit's cdc actions name, and the batch
feed, the stream and the external reader all go by those actions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.errors import UserException
from component_delta_lake_writer_spark.sinks import ManagedTable
from delta_verifier import read_delta_table_changes

CDF = {"enableChangeDataFeed": True}


def _table(spark, path: str, n: int = 40) -> ManagedTable:
    t = ManagedTable(spark, path)
    t.write(
        spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).coalesce(1),
        mode="overwrite", primary_key=["k"], properties=CDF,
    )
    return t


def _rows(df, cols) -> list[tuple]:
    return sorted(map(tuple, df.select(*cols).collect()))


def _stream(spark, t: ManagedTable, name: str, starting: int) -> list:
    from component_delta_lake_writer_spark.streaming.cdf_source import (
        register,
    )

    register(spark)
    q = (
        spark.readStream.format("table_changes_stream")
        .option("path", t.path)
        .option("startingVersion", str(starting))
        .load()
        .writeStream.format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).collect()


def _change_files_on_disk(t: ManagedTable) -> set:
    root = os.path.join(t.path, "_change_data")
    return {
        os.path.relpath(os.path.join(dp, fn), t.path)
        for dp, _d, fns in os.walk(root)
        for fn in fns
        if fn.endswith(".parquet")
    }


# each a CDF-writing operation on a 40-row table keyed k, value column
# ``vc``; every one runs against the state the previous ones left
_OPS = [
    ("upsert", lambda t, s, vc: t.upsert(
        s.filter("k % 5 = 0").withColumn(vc, F.lit(-1).cast("long")),
        ["k"],
    )),
    ("upsert_mor", lambda t, s, vc: t.upsert(
        s.filter("k % 5 = 1").withColumn(vc, F.lit(-2).cast("long")),
        ["k"], strategy="merge-on-read",
    )),
    ("delete", lambda t, s, vc: t.delete_where("k >= 38")),
    ("delete_mor", lambda t, s, vc: t.delete_where(
        "k >= 36", strategy="merge-on-read"
    )),
    ("delete_keys", lambda t, s, vc: t.delete_keys(s.filter("k < 2"))),
    ("update", lambda t, s, vc: t.update_where(
        "k < 8", {vc: f"{vc} + 100"}
    )),
    ("replace_where", lambda t, s, vc: t.replace_where(
        s.filter("k >= 20 AND k < 30").withColumn(
            vc, F.lit(-3).cast("long")
        ),
        "k >= 20 AND k < 30",
    )),
    ("upsert_full_sync", lambda t, s, vc: t.upsert_full_sync(
        s.filter("k >= 10 AND k < 15").withColumn(
            vc, F.lit(-4).cast("long")
        ),
        ["k"], delete_scope="k >= 10 AND k < 20",
    )),
]


@pytest.mark.parametrize("mapped", [False, True], ids=["plain", "renamed"])
def test_every_cdf_write_names_its_single_copy_change_files(
    spark, tmp_path, mapped
):
    """Every CDF-writing operation — upsert (copy-on-write and
    merge-on-read), DELETE (copy-on-write, merge-on-read, keyed),
    UPDATE, replace_where and upsert_full_sync — carries cdc actions
    whose files each exist exactly once on disk, and the external
    reader's feed equals read_changes, on a column-mapped table too.
    Each small change set is one file, even at 32 shuffle partitions."""
    t = _table(spark, str(tmp_path / "t"))
    vc = "v"
    if mapped:
        t.rename_column("v", "w")
        vc = "w"
    src = t.read()
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        for name, op in _OPS:
            c = op(t, src, vc)
            assert len(c.cdc_files) == 1, name
            assert t.latest_commit().cdc_files == c.cdc_files, name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    named = [f for c in t.history() for f in c.cdc_files]
    assert len(named) == len(set(named))
    assert _change_files_on_disk(t) == set(named)
    assert all(
        os.stat(os.path.join(t.path, f)).st_nlink == 1 for f in named
    )
    cols = ["k", vc, "_change_type"]
    eng = _rows(t.read_changes(0, with_change_type=True), cols)
    assert _rows(read_delta_table_changes(spark, t.path, 0), cols) == eng
    assert {ct for _k, _v, ct in eng} == {
        "insert", "update_postimage", "delete"
    }


def test_change_set_written_before_a_rename_reads_under_the_new_name(
    spark, tmp_path
):
    """Change files store physical names, so a change set written
    before a rename reads back under the new name — in the batch feed
    and in the stream alike (not NULL)."""
    t = _table(spark, str(tmp_path / "t"), n=3)
    t.upsert(
        spark.range(3).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ),
        ["k"],
    )
    t.rename_column("v", "w")
    want = [(k, -1, "update_postimage") for k in range(3)]
    cols = ["k", "w", "_change_type"]
    assert _rows(t.read_changes(0, with_change_type=True), cols) == want
    streamed = _stream(spark, t, "cdf_after_rename", 1)
    assert sorted(
        (r["k"], r["w"], r["_change_type"]) for r in streamed
    ) == want
    assert {r["_commit_version"] for r in streamed} == {1}


@pytest.mark.parametrize("strategy", ["copy-on-write", "merge-on-read"])
def test_zero_match_delete_is_crossed_with_zero_rows(
    spark, tmp_path, strategy
):
    """A DELETE that touched no rows changes no file and carries no cdc
    action; Delta's rule gives it zero change rows, and both the batch
    feed and the stream cross it."""
    t = _table(spark, str(tmp_path / "t"), n=5)
    c = t.delete_where("k > 1000", strategy=strategy)
    assert c.cdc_files == []
    assert not os.path.isdir(os.path.join(t.path, "_change_data"))
    assert t.read_changes(0).count() == 0
    name = "cdf_zero_" + strategy.replace("-", "_")
    assert _stream(spark, t, name, 1) == []


def test_version_race_loser_leaves_no_change_files(
    spark, tmp_path, monkeypatch
):
    """A writer beaten to its version removes the change files it
    wrote: no entry names them."""
    t = _table(spark, str(tmp_path / "t"), n=10)
    real = ManagedTable._publish

    def beaten(self, commit, prev=None, cdc_files=()):
        monkeypatch.setattr(ManagedTable, "_publish", real)
        assert cdc_files  # written before the claim
        ManagedTable(spark, t.path).set_properties({"comment": "first"})
        return real(self, commit, prev, cdc_files)

    monkeypatch.setattr(ManagedTable, "_publish", beaten)
    with pytest.raises(UserException, match="Concurrent commit conflict"):
        t.upsert(
            t.read().filter("k < 3").withColumn("v", F.lit(-1).cast("long")),
            ["k"],
        )
    assert _change_files_on_disk(t) == set()
    assert os.listdir(os.path.join(t.path, "_change_data")) == []


def test_missing_change_files_raise_naming_the_version(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"), n=10)
    c = t.delete_where("k < 3")
    os.remove(os.path.join(t.path, c.cdc_files[0]))
    with pytest.raises(UserException, match=f"v{c.version}.*missing"):
        t.read_changes(0)


def test_erasure_audit_reports_each_change_file_once(spark, tmp_path):
    """The erased key sits in the pre-delete data unit and in the
    DELETE's one change file: two files, each reported once."""
    from component_delta_lake_writer_spark.operators.compliance import (
        erasure_audit,
    )

    t = _table(spark, str(tmp_path / "t"), n=20)
    t.delete_where("k = 7")
    rep = erasure_audit(t, [7], "k")
    files = [f for f, _k in rep["leaks"]]
    assert rep["leak_count"] == len(files) == len(set(files)) == 2
    assert sum(f.startswith("_change_data") for f in files) == 1


def test_flat_change_files_of_an_older_engine_read_per_version(
    spark, tmp_path
):
    """An older engine wrote change files flat, as
    ``_change_data/cdc-<version>-<n>.parquet``, side by side for every
    version. A range over one version reads only the files its cdc
    actions name, not its neighbours in the same directory."""
    import glob
    import json
    import shutil

    t = _table(spark, str(tmp_path / "t"), n=10)
    deletes = [t.delete_where("k = 1"), t.delete_where("k = 2")]
    t.delete_where("k = 3")  # stays in its own uuid directory
    for c in deletes:
        moved = {}
        for n, rel in enumerate(c.cdc_files):
            flat = f"_change_data/cdc-{c.version:020d}-{n}.parquet"
            shutil.move(os.path.join(t.path, rel), os.path.join(t.path, flat))
            shutil.rmtree(os.path.dirname(os.path.join(t.path, rel)))
            moved[rel] = flat
        (entry,) = glob.glob(
            os.path.join(t.path, "_delta_log", f"{c.version:020d}.json")
        )
        actions = [json.loads(x) for x in open(entry).read().splitlines()]
        for a in actions:
            if "cdc" in a:
                a["cdc"]["path"] = moved[a["cdc"]["path"]]
        with open(entry, "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    t = ManagedTable(spark, t.path)
    for c, k in zip(deletes, (1, 2)):
        feed = t.read_changes(c.version - 1, c.version, with_change_type=True)
        assert _rows(feed, ["k", "_change_type"]) == [(k, "delete")]
    assert _rows(t.read_changes(0), ["k"]) == [(1,), (2,), (3,)]
