"""Commit-log data skipping (Delta-style per-unit min/max stats)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from component_delta_lake_writer_spark.sinks import ManagedTable
from component_delta_lake_writer_spark.sinks.unit_stats import (
    collect_unit_stats,
    parse_conjuncts,
    prune_units,
)

from conftest import SF_SMALL


@pytest.fixture()
def tmp_path_str():
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        yield d


@pytest.fixture()
def ranged_table(spark, tmp_path_str):
    """Orders split into 3 appends of disjoint o_orderkey ranges."""
    o = spark.read.parquet(os.path.join(SF_SMALL, "orders.parquet"))
    lo, hi = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    third = (hi - lo) // 3
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    k = F.col("o_orderkey")
    t.write(o.filter(k < lo + third), mode="append")
    t.write(o.filter((k >= lo + third) & (k < lo + 2 * third)), mode="append")
    t.write(o.filter(k >= lo + 2 * third), mode="append")
    return t, lo, hi, third


def test_stats_recorded_per_unit(ranged_table):
    t, *_ = ranged_table
    c = t.latest_commit()
    assert len(c.data_units) == 3
    for u in c.data_units:
        st = c.stats[u]
        assert st["_rows"] > 0
        ok = st["o_orderkey"]
        assert ok["min"] is not None and ok["max"] >= ok["min"]
        assert ok["nulls"] == 0


def test_range_predicate_prunes_units(ranged_table):
    t, lo, hi, third = ranged_table
    c = t.latest_commit()
    cut = lo + 2 * third
    kept = prune_units(c.stats, c.data_units, f"o_orderkey >= {cut}")
    assert len(kept) == 1
    got = t.read_where(f"o_orderkey >= {cut}").count()
    want = t.read().filter(F.col("o_orderkey") >= cut).count()
    assert got == want > 0


def test_impossible_string_predicate_prunes_all(ranged_table):
    t, *_ = ranged_table
    c = t.latest_commit()
    assert prune_units(c.stats, c.data_units, "o_orderstatus = 'ZZ'") == []
    assert t.read_where("o_orderstatus = 'ZZ'").count() == 0


def test_unsupported_condition_falls_back_to_full_scan(ranged_table):
    t, lo, hi, third = ranged_table
    c = t.latest_commit()
    cond = f"o_orderkey >= {lo + 2 * third} OR o_orderkey < {lo}"
    assert len(prune_units(c.stats, c.data_units, cond)) == 3
    assert (
        t.read_where(cond).count()
        == t.read().filter(F.expr(cond)).count()
    )


def test_optimize_and_restore_carry_stats(ranged_table):
    t, lo, hi, third = ranged_table
    t.optimize(cluster_by=["o_orderkey"])
    c = t.latest_commit()
    assert set(c.stats) == set(c.data_units)
    t.restore(1)  # two-unit snapshot
    c2 = t.latest_commit()
    assert set(c2.stats) == set(c2.data_units) and len(c2.data_units) == 2
    # stats still prune after restore
    kept = prune_units(c2.stats, c2.data_units, f"o_orderkey < {lo + third}")
    assert len(kept) == 1


def test_upsert_commit_records_stats(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "u"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    t.upsert(df.withColumn("v", F.col("v") + 1), primary_key=["k"])
    c = t.latest_commit()
    assert set(c.stats) == set(c.data_units)
    assert c.stats[c.data_units[0]]["k"]["max"] == 99


def test_all_null_column_prunes(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "n"))
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(None).cast("double").alias("v")
    )
    t.write(df, mode="overwrite")
    c = t.latest_commit()
    assert prune_units(c.stats, c.data_units, "v > 0.5") == []
    assert t.read_where("v > 0.5").count() == 0


def test_selective_upsert_prunes_disjoint_units(ranged_table):
    """A merge whose source keys hit only the last range must carry
    the first two units into the new snapshot untouched."""
    t, lo, hi, third = ranged_table
    before = t.latest_commit()
    src = (
        t.read()
        .filter(F.col("o_orderkey") >= lo + 2 * third)
        .limit(50)
        .withColumn("o_totalprice", F.lit(-1.0))
    )
    t.upsert(src, ["o_orderkey"])
    after = t.latest_commit()
    kept = set(before.data_units) & set(after.data_units)
    assert len(kept) == 2, "disjoint units must be carried, not rewritten"
    assert len(after.data_units) == 3
    # carried units keep their stats; the new unit got fresh ones
    assert set(after.stats) == set(after.data_units)
    # semantics identical to a full merge
    assert t.read().count() == t.read(version=before.version).count()
    assert t.read().filter(F.col("o_totalprice") == -1.0).count() == 50


def test_selective_upsert_pure_insert_keeps_all_units(ranged_table):
    """Source keys beyond every unit's range → no unit rewritten, the
    batch lands as a new insert-only unit."""
    t, lo, hi, third = ranged_table
    before = t.latest_commit()
    src = t.read().limit(10).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10**9
    )
    t.upsert(src, ["o_orderkey"])
    after = t.latest_commit()
    assert set(before.data_units) <= set(after.data_units)
    assert len(after.data_units) == 4
    assert t.read().count() == t.read(version=before.version).count() + 10


def test_selective_upsert_matches_full_merge(ranged_table):
    """Differential: selective result == the plain merge operator's
    result on the full target (same rows, same values)."""
    from component_delta_lake_writer_spark.operators.merge import merge_upsert

    t, lo, hi, third = ranged_table
    before_df = t.read()
    src = (
        before_df.filter(
            (F.col("o_orderkey") % 7 == 0)
            & (F.col("o_orderkey") < lo + third)
        )
        .withColumn("o_totalprice", F.lit(-2.0))
        .unionByName(
            before_df.limit(5).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10**9
            )
        )
    )
    expect = merge_upsert(before_df, src, ["o_orderkey"])
    exp_rows = sorted(map(tuple, expect.collect()))
    t.upsert(src, ["o_orderkey"])
    got_rows = sorted(map(tuple, t.read().collect()))
    assert got_rows == exp_rows


def test_per_file_stats_and_file_level_pruning(spark, tmp_path_str):
    """A clustered single-unit table with many files: read_where must
    scan only the files whose range can match."""
    o = spark.read.parquet(os.path.join(SF_SMALL, "orders.parquet"))
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    t.write(o, mode="overwrite")
    t.optimize(target_file_rows=100, cluster_by=["o_orderkey"])
    c = t.latest_commit()
    detail = c.stats[c.data_units[0]].get("_files")
    assert detail and len(detail) > 3
    hi = max(v["o_orderkey"]["max"] for v in detail.values())
    cond = f"o_orderkey >= {hi}"
    df = t.read_where(cond)
    # plan scans exactly the one matching file
    scanned = df.inputFiles()
    assert len(scanned) == 1
    assert df.count() == t.read().filter(F.expr(cond)).count() > 0


def test_unit_per_file_optimize_enables_selective_merge(spark, tmp_path_str):
    """optimize(cluster_by, unit_per_file=True) → range-disjoint
    units → a narrow upsert rewrites one unit, not the snapshot."""
    o = spark.read.parquet(os.path.join(SF_SMALL, "orders.parquet"))
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    t.write(o, mode="overwrite", primary_key=["o_orderkey"])
    t.optimize(
        target_file_rows=200, cluster_by=["o_orderkey"], unit_per_file=True
    )
    before = t.latest_commit()
    assert len(before.data_units) > 3
    assert set(before.stats) == set(before.data_units)
    src = o.orderBy("o_orderkey").limit(50).withColumn(
        "o_totalprice", F.lit(-5.0)
    )
    t.upsert(src, ["o_orderkey"])
    after = t.latest_commit()
    carried = set(before.data_units) & set(after.data_units)
    assert len(carried) >= len(before.data_units) - 2
    assert t.read().count() == o.count()
    assert t.read().filter(F.col("o_totalprice") == -5.0).count() == 50


def test_unit_per_file_requires_clustering(spark, tmp_path_str):
    from component_delta_lake_writer_spark.errors import UserException

    o = spark.read.parquet(os.path.join(SF_SMALL, "orders.parquet"))
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    t.write(o, mode="overwrite")
    with pytest.raises(UserException, match="unit_per_file"):
        t.optimize(unit_per_file=True)


def test_delete_where_prunes_and_removes_rows(ranged_table):
    t, lo, hi, third = ranged_table
    before = t.latest_commit()
    cut = lo + 2 * third
    n_match = t.read().filter(F.col("o_orderkey") >= cut).count()
    c = t.delete_where(f"o_orderkey >= {cut}")
    # the two low-range units carried over; the matched unit vanished
    # entirely (every row deleted → no rewrite unit committed)
    assert set(c.data_units) < set(before.data_units)
    assert len(c.data_units) == 2
    assert t.read().count() == t.read(version=before.version).count() - n_match
    assert t.read().filter(F.col("o_orderkey") >= cut).count() == 0


def test_delete_where_null_condition_keeps_rows(spark, tmp_path_str):
    """SQL ternary: DELETE WHERE v > 5 keeps rows with v IS NULL."""
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(10).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 5, F.col("id")).cast("long").alias("v"),
    )
    t.write(df, mode="overwrite")
    t.delete_where("v > 2")
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [0, 1, 2, 5, 6, 7, 8, 9]


def test_update_where_rewrites_only_matching_units(ranged_table):
    t, lo, hi, third = ranged_table
    before = t.latest_commit()
    cut = lo + 2 * third
    c = t.update_where(
        f"o_orderkey >= {cut}", {"o_totalprice": "o_totalprice * 0 - 9"}
    )
    carried = set(before.data_units) & set(c.data_units)
    assert len(carried) == 2 and len(c.data_units) == 3
    upd = t.read().filter(F.col("o_totalprice") == -9.0)
    assert upd.count() == t.read().filter(F.col("o_orderkey") >= cut).count() > 0
    # untouched rows identical
    low = t.read().filter(F.col("o_orderkey") < cut)
    old_low = t.read(version=before.version).filter(F.col("o_orderkey") < cut)
    assert sorted(map(tuple, low.collect())) == sorted(map(tuple, old_low.collect()))


def test_update_where_unknown_column_raises(ranged_table):
    from component_delta_lake_writer_spark.errors import UserException

    t, *_ = ranged_table
    with pytest.raises(UserException, match="unknown column"):
        t.update_where("o_orderkey > 0", {"nope": "1"})


@pytest.mark.slow
def test_check_constraints_enforced(spark, tmp_path_str):
    from component_delta_lake_writer_spark.errors import UserException

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("v")
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    t.add_constraint("v_range", "v >= 0 AND v < 10")
    t.add_constraint("k_not_null", "k IS NOT NULL")
    # valid append passes
    t.write(df.withColumn("k", F.col("k") + 100), mode="append")
    # violating append refused, table unchanged
    with pytest.raises(UserException, match="v_range"):
        t.write(df.withColumn("v", F.lit(99).cast("long")), mode="append")
    assert t.read().count() == 200
    # violating upsert refused
    with pytest.raises(UserException, match="v_range"):
        t.upsert(df.withColumn("v", F.lit(-1).cast("long")), ["k"])
    # violating UPDATE refused
    with pytest.raises(UserException, match="v_range"):
        t.update_where("k < 5", {"v": "42"})
    # adding a constraint existing rows violate is refused
    with pytest.raises(UserException, match="v_small"):
        t.add_constraint("v_small", "v < 5")
    # drop then the formerly-violating write passes
    t.drop_constraint("v_range")
    t.write(df.withColumn("v", F.lit(99).cast("long")).withColumn(
        "k", F.col("k") + 500), mode="append")
    assert t.read().count() == 300
    with pytest.raises(UserException, match="No constraint"):
        t.drop_constraint("v_range")


def test_upsert_order_by_last_write_wins(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    base = spark.range(10).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("ver"),
        F.lit("base").alias("val"),
    )
    t.write(base, mode="overwrite", primary_key=["k"])
    src = spark.createDataFrame(
        [(3, 2, "new2"), (3, 5, "new5"), (3, 1, "new1"), (7, 9, "nine")],
        "k long, ver long, val string",
    )
    t.upsert(src, ["k"], order_by=["ver"])
    got = {r["k"]: (r["ver"], r["val"]) for r in t.read().collect()}
    assert got[3] == (5, "new5")  # greatest ver wins deterministically
    assert got[7] == (9, "nine")
    assert got[0] == (0, "base")


def test_upsert_schema_merge_evolves(spark, tmp_path_str):
    from component_delta_lake_writer_spark.errors import SchemaMismatchError

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    base = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v")
    )
    t.write(base, mode="overwrite", primary_key=["k"])
    src = spark.range(8, 12).select(
        F.col("id").alias("k"), F.lit(2.0).alias("v"),
        F.lit("x").alias("tag"),
    )
    # without schema_mode: refused
    with pytest.raises(SchemaMismatchError, match="autoMerge"):
        t.upsert(src, ["k"])
    # with merge: table evolves, old rows read tag as NULL
    t.upsert(src, ["k"], schema_mode="merge")
    out = t.read()
    assert set(out.columns) == {"k", "v", "tag"}
    assert out.count() == 12
    assert out.filter(F.col("tag").isNull()).count() == 8
    assert out.filter(F.col("tag") == "x").count() == 4
    # type change still rejected
    bad = spark.range(1).select(
        F.col("id").alias("k"), F.lit("s").alias("v")
    )
    with pytest.raises(SchemaMismatchError, match="change column types"):
        t.upsert(bad, ["k"], schema_mode="merge")


def test_vacuum_retention_preserves_time_travel(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(100).select(F.col("id").alias("k"))
    t.write(df, mode="overwrite")                       # v0
    t.write(df.withColumn("k", F.col("k") + 100), mode="append")  # v1
    t.optimize()                                        # v2 — v0/v1 units now stale
    # dry run deletes nothing
    n = t.vacuum(retention_hours=0, dry_run=True)
    assert n == 2
    assert t.read(version=0).count() == 100
    # generous retention keeps everything (all commits are recent)
    assert t.vacuum(retention_hours=24) == 0
    assert t.read(version=1).count() == 200
    # aggressive vacuum removes the stale units; time travel dies
    assert t.vacuum(retention_hours=0) == 2
    assert t.read().count() == 200
    with pytest.raises(Exception):
        t.read(version=0).count()


@pytest.mark.slow
def test_concurrent_appenders_never_lose_commits(spark, tmp_path_str):
    """Optimistic concurrency under contention: 8 threads × 5 appends
    with retry-on-conflict — every batch must land exactly once and
    versions must be contiguous."""
    import threading

    from component_delta_lake_writer_spark.errors import UserException

    path = os.path.join(tmp_path_str, "t")
    seed = ManagedTable(spark, path)
    seed.write(
        spark.range(1).select(
            F.lit(-1).cast("long").alias("k"), F.lit(-1).cast("long").alias("tag")
        ),
        mode="overwrite",
    )
    errors = []

    def worker(wid: int):
        t = ManagedTable(spark, path)
        for i in range(5):
            batch = spark.range(10).select(
                (F.col("id") + wid * 1000 + i * 100).alias("k"),
                F.lit(wid * 10 + i).cast("long").alias("tag"),
            )
            for _ in range(200):  # retry loop on commit conflicts
                try:
                    t.write(batch, mode="append")
                    break
                except UserException:
                    continue
            else:
                errors.append((wid, i, "retries exhausted"))

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    t = ManagedTable(spark, path)
    versions = t._versions()
    assert versions == list(range(41))  # seed + 40 appends, no gaps
    out = t.read()
    assert out.count() == 1 + 40 * 10
    assert out.select("tag").distinct().count() == 41  # every batch present


@pytest.mark.slow
def test_merge_on_read_delete_rewrites_nothing(ranged_table):
    t, lo, hi, third = ranged_table
    # ranged_table has no PK — set one via an upsert-free path: PK is
    # commit metadata, so re-commit with primary_key via write(append)
    # of 0 rows is awkward; instead build a fresh PK'd copy.
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        src = t.read()
        t2 = ManagedTable(t.spark, os.path.join(d, "t"))
        k = F.col("o_orderkey")
        cut = lo + 2 * third
        t2.write(src.filter(k < cut), mode="append", primary_key=["o_orderkey"])
        t2.write(src.filter(k >= cut), mode="append")
        before = t2.latest_commit()
        n_before = t2.read().count()
        n_match = t2.read().filter(k >= cut).count()
        c = t2.delete_where(
            f"o_orderkey >= {cut}", strategy="merge-on-read"
        )
        # no data rewritten: identical unit list, one DV file
        assert c.data_units == before.data_units
        assert c.deletion_vectors
        assert len(
            {d["pathOrInlineDv"] for d in c.deletion_vectors.values()}
        ) == 1
        assert t2.read().count() == n_before - n_match
        assert t2.read().filter(k >= cut).count() == 0
        # time travel unaffected
        assert t2.read(version=before.version).count() == n_before
        # read_where still correct under pending deletes
        assert t2.read_where(f"o_orderkey >= {lo}").count() == n_before - n_match
        # appends after the delete are NOT retro-deleted, even on the
        # same keys (deletion vectors mark positions in prior files)
        t2.write(src.filter(k >= cut).limit(7), mode="append")
        assert t2.read().count() == n_before - n_match + 7
        # optimize materializes the deletes away
        oc = t2.optimize()
        assert oc.deletion_vectors == {}
        assert t2.read().count() == n_before - n_match + 7
        # vacuum now reclaims the stale units
        assert t2.vacuum() >= 1
        assert t2.read().count() == n_before - n_match + 7


def test_merge_on_read_delete_then_upsert(spark, tmp_path_str):
    """Upserts over deletion vectors: touched units materialize the
    deletes; untouched units keep theirs."""
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t.write(df.filter(F.col("k") < 50), mode="append", primary_key=["k"])
    t.write(df.filter(F.col("k") >= 50), mode="append")
    t.delete_where("k >= 90", strategy="merge-on-read")
    assert t.read().count() == 90
    # upsert touches only the low unit
    t.upsert(
        df.filter(F.col("k") < 10).withColumn("v", F.lit(-1).cast("long")),
        ["k"],
    )
    c = t.latest_commit()
    # high unit untouched, keeps its DV
    assert c.deletion_vectors
    assert {r.split("/")[1] for r in c.deletion_vectors} <= set(c.data_units)
    assert sum(d["cardinality"] for d in c.deletion_vectors.values()) == 10
    assert t.read().count() == 90
    assert t.read().filter(F.col("v") == -1).count() == 10
    # upsert touching the high unit materializes the delete there
    t.upsert(
        df.filter((F.col("k") >= 50) & (F.col("k") < 60)).withColumn(
            "v", F.lit(-2).cast("long")
        ),
        ["k"],
    )
    c2 = t.latest_commit()
    assert c2.deletion_vectors == {}
    assert t.read().count() == 90
    assert t.read().filter(F.col("k") >= 90).count() == 0


def test_merge_on_read_delete_needs_no_primary_key(ranged_table):
    """Deletion vectors mark row positions, not keys: a merge-on-read
    DELETE on a table without a primary key succeeds and reads back
    exactly like the copy-on-write DELETE."""
    import tempfile

    t, lo, hi, third = ranged_table  # no PK on this table
    cond = f"o_orderkey >= {lo + third} AND o_orderstatus = 'F'"
    with tempfile.TemporaryDirectory() as d:
        out = {}
        for strategy in ("merge-on-read", "copy-on-write"):
            t2 = t.clone_to(os.path.join(d, strategy), shallow=True)
            c = t2.delete_where(cond, strategy=strategy)
            out[strategy] = (c, sorted(map(tuple, t2.read().collect())))
        (mor, mor_rows), (_cow, cow_rows) = out.values()
        assert not mor.primary_key and mor.deletion_vectors
        assert mor_rows == cow_rows
        assert len(mor_rows) < t.read().count()


@pytest.mark.slow
def test_zorder_prunes_every_listed_dimension(spark, tmp_path_str):
    """Z-ORDER vs lexicographic clustering: the trailing dimension
    must become file-prunable only under the interleaved layout."""
    from component_delta_lake_writer_spark.sinks.unit_stats import prune_units

    o = spark.read.parquet(os.path.join(SF_SMALL, "orders.parquet"))
    cmax = o.agg(F.max("o_custkey")).first()[0]
    trail_cond = f"o_custkey < {cmax // 20}"

    def files_surviving(**kw):
        t = ManagedTable(
            spark, os.path.join(tmp_path_str, "zx" + next(iter(kw)))
        )
        t.write(o, mode="overwrite")
        t.optimize(target_file_rows=500, **kw)
        c = t.latest_commit()
        det = c.stats[c.data_units[0]]["_files"]
        kept = prune_units(det, list(det), trail_cond)
        # pruning must never cost rows
        got = t.read_where(trail_cond).count()
        assert got == t.read().filter(F.expr(trail_cond)).count()
        return len(kept), len(det)

    lex_kept, lex_total = files_surviving(
        cluster_by=["o_orderkey", "o_custkey"]
    )
    z_kept, z_total = files_surviving(zorder_by=["o_orderkey", "o_custkey"])
    assert lex_kept == lex_total  # trailing dim: zero skipping
    assert z_kept < z_total / 2  # interleaved: most files skipped


def test_zorder_rejects_non_numeric(spark, tmp_path_str):
    from component_delta_lake_writer_spark.errors import UserException

    o = spark.read.parquet(os.path.join(SF_SMALL, "orders.parquet"))
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    t.write(o, mode="overwrite")
    with pytest.raises(UserException, match="numeric"):
        t.optimize(zorder_by=["o_orderstatus"])
    with pytest.raises(UserException, match="not both"):
        t.optimize(cluster_by=["o_orderkey"], zorder_by=["o_custkey"])


def test_parse_conjuncts_grammar():
    assert parse_conjuncts("a >= 3 AND b < 'x'") == [
        ("a", ">=", 3),
        ("b", "<", "x"),
    ]
    assert parse_conjuncts("a = 1.5") == [("a", "=", 1.5)]
    assert parse_conjuncts("a == 2") == [("a", "=", 2)]
    assert parse_conjuncts("a > 1 OR b < 2") == []
    assert parse_conjuncts("lower(a) = 'x'") == []
    assert parse_conjuncts("a + 1 > 2") == []


# ---------------------------------------------------------------------------
# merge-on-read UPSERT (deletion vectors on the source PKs + append)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_merge_on_read_upsert_rewrites_nothing(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    before = t.latest_commit()
    src = spark.range(90, 110).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    c = t.upsert(src, ["k"], strategy="merge-on-read")
    assert c.data_units[: len(before.data_units)] == list(before.data_units)
    assert len(c.data_units) == len(before.data_units) + 1
    # the 10 overlapping keys (90-99) are marked, in the prior unit only
    assert sum(d["cardinality"] for d in c.deletion_vectors.values()) == 10
    assert {r.split("/")[1] for r in c.deletion_vectors} <= set(
        before.data_units
    )
    out = t.read()
    assert out.count() == 110
    assert out.filter(F.col("v") == -1).count() == 20
    # time travel: pre-upsert snapshot intact
    assert t.read(version=before.version).count() == 100
    assert (
        t.read(version=before.version).filter(F.col("v") == -1).count() == 0
    )
    # stacking: a second MOR upsert over keys now living in the FIRST
    # MOR unit must override them too (its key match scopes to every
    # prior unit, including MOR appends)
    src2 = spark.range(95, 105).select(
        F.col("id").alias("k"), F.lit(-2).cast("long").alias("v")
    )
    t.upsert(src2, ["k"], strategy="merge-on-read")
    out2 = t.read()
    assert out2.count() == 110
    assert out2.filter(F.col("v") == -2).count() == 10
    assert out2.filter(F.col("v") == -1).count() == 10  # 90-94, 105-109
    # optimize materializes all pending deletes
    oc = t.optimize()
    assert oc.deletion_vectors == {}
    assert t.read().count() == 110
    assert t.read().filter(F.col("v") == -2).count() == 10


def test_merge_on_read_upsert_disjoint_batch_is_pure_append(
    spark, tmp_path_str
):
    """Source keys beyond every unit's recorded bounds: stats scoping
    drops every unit from the match, so the commit is a pure append
    with no deletion vector at all."""
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    src = spark.range(500, 520).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    c = t.upsert(src, ["k"], strategy="merge-on-read")
    assert c.deletion_vectors == {}
    assert t.read().count() == 120


def test_merge_on_read_upsert_order_by_last_write_wins(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("ver")
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    batches = [
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(v).cast("long").alias("ver")
        )
        for v in (3, 1, 2)
    ]
    src = batches[0].unionByName(batches[1]).unionByName(batches[2])
    t.upsert(src, ["k"], order_by=["ver"], strategy="merge-on-read")
    out = {r["k"]: r["ver"] for r in t.read().collect()}
    assert all(out[k] == 3 for k in range(5))
    assert all(out[k] == 0 for k in range(5, 10))


def test_merge_on_read_upsert_schema_merge(spark, tmp_path_str):
    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    src = spark.range(5, 15).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("long").alias("v"),
        F.lit("x").alias("tag"),
    )
    from component_delta_lake_writer_spark.errors import SchemaMismatchError

    with pytest.raises(SchemaMismatchError):
        t.upsert(src, ["k"], strategy="merge-on-read")
    t.upsert(src, ["k"], schema_mode="merge", strategy="merge-on-read")
    out = t.read()
    assert set(out.columns) == {"k", "v", "tag"}
    assert out.count() == 15
    assert out.filter(F.col("tag") == "x").count() == 10
    assert out.filter(F.col("tag").isNull()).count() == 5


def test_merge_on_read_upsert_rejects_update_condition(spark, tmp_path_str):
    from component_delta_lake_writer_spark.errors import UserException

    t = ManagedTable(spark, os.path.join(tmp_path_str, "t"))
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t.write(df, mode="overwrite", primary_key=["k"])
    with pytest.raises(UserException, match="update "):
        t.upsert(
            df,
            ["k"],
            strategy="merge-on-read",
            update_condition=lambda t_, s_: s_["v"] > t_["v"],
        )


def test_timestamp_stats_prune(spark, tmp_path_str):
    import datetime as dt

    from component_delta_lake_writer_spark.sinks.unit_stats import (
        collect_unit_stats,
        parse_conjuncts,
        prune_units,
    )

    df = spark.createDataFrame(
        [(i, dt.datetime(1995, 1, 1) + dt.timedelta(days=i)) for i in range(10)],
        "k int, ts timestamp",
    )
    a = os.path.join(tmp_path_str, "a")
    b = os.path.join(tmp_path_str, "b")
    df.filter("k < 5").write.parquet(a)
    df.filter("k >= 5").write.parquet(b)
    stats = {"a": collect_unit_stats(a), "b": collect_unit_stats(b)}
    assert stats["a"]["ts"]["t"] == "ts"
    assert stats["a"]["ts"]["min"] == "1995-01-01 00:00:00.000000"
    # TIMESTAMP literal window hits only unit b
    cond = ("ts >= TIMESTAMP '1995-01-08 00:00:00' AND "
            "ts < TIMESTAMP '1995-01-20 00:00:00'")
    assert prune_units(stats, ["a", "b"], cond) == ["b"]
    # plain ISO string literal (Spark coerces) prunes identically
    assert prune_units(stats, ["a", "b"], "ts >= '1995-01-08'") == ["b"]
    # boundary: midnight of a day inside unit a must keep a (<= match)
    assert prune_units(stats, ["a", "b"], "ts <= '1995-01-01'") == ["a"]
    # temporal literal vs a varchar column's stats: no pruning
    lit = parse_conjuncts("name >= TIMESTAMP '1995-01-08 00:00:00'")
    assert lit and prune_units(
        {"a": {"_rows": 1, "name": {"min": "x", "max": "y", "nulls": 0}}},
        ["a"], "name >= TIMESTAMP '1995-01-08 00:00:00'",
    ) == ["a"]


def test_date_stats_prune(spark, tmp_path_str):
    import datetime as dt

    from component_delta_lake_writer_spark.sinks.unit_stats import (
        collect_unit_stats,
        prune_units,
    )

    df = spark.createDataFrame(
        [(i, dt.date(2020, 1, 1) + dt.timedelta(days=i)) for i in range(10)],
        "k int, d date",
    )
    a = os.path.join(tmp_path_str, "da")
    b = os.path.join(tmp_path_str, "db")
    df.filter("k < 5").write.parquet(a)
    df.filter("k >= 5").write.parquet(b)
    stats = {"a": collect_unit_stats(a), "b": collect_unit_stats(b)}
    assert stats["b"]["d"]["t"] == "date"
    assert prune_units(stats, ["a", "b"], "d >= DATE '2020-01-06'") == ["b"]
    assert prune_units(stats, ["a", "b"], "d < '2020-01-03'") == ["a"]


def test_timestamp_pk_merge_prunes_units(spark, tmp_path_str):
    import datetime as dt

    from component_delta_lake_writer_spark.sinks import ManagedTable

    t = ManagedTable(spark, os.path.join(tmp_path_str, "tspk"))
    rows = [
        (dt.datetime(1995, 1, 1) + dt.timedelta(hours=i), float(i))
        for i in range(48)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    t.write(df.filter("ts < '1995-01-02'"), mode="overwrite",
            primary_key=["ts"])
    t.write(df.filter("ts >= '1995-01-02'"), mode="append")
    old_units = set(t.latest_commit().data_units)
    batch = spark.createDataFrame(
        [(dt.datetime(1995, 1, 2, 5), -1.0)], "ts timestamp, v double"
    )
    t.upsert(batch, ["ts"])
    c = t.latest_commit()
    # the day-1 unit is disjoint from the source key range → carried
    assert old_units & set(c.data_units), "timestamp PK bounds must prune"
    got = {r["v"] for r in t.read().collect()}
    assert -1.0 in got and len(got) == 48


def test_is_null_pruning(spark, tmp_path_str):
    from component_delta_lake_writer_spark.sinks.unit_stats import (
        collect_unit_stats,
        parse_conjuncts,
        prune_units,
    )

    full = spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "k int, v double"
    )
    nully = spark.createDataFrame(
        [(10, None), (11, None)],
        T.StructType.fromDDL("k int, v double"),
    )
    a = os.path.join(tmp_path_str, "na")
    b = os.path.join(tmp_path_str, "nb")
    full.write.parquet(a)
    nully.write.parquet(b)
    stats = {"a": collect_unit_stats(a), "b": collect_unit_stats(b)}
    assert parse_conjuncts("v IS NULL") == [("v", "isnull", None)]
    assert prune_units(stats, ["a", "b"], "v IS NULL") == ["b"]
    assert prune_units(stats, ["a", "b"], "v IS NOT NULL") == ["a"]
    # composes with range conjuncts
    assert prune_units(
        stats, ["a", "b"], "k >= 10 AND v IS NOT NULL"
    ) == []


def test_bloom_probe_type_soundness(spark, tmp_path):
    """Review finding: bloom probed str(literal) regardless of column
    type, while Spark's equality coerces — user_id = 5.0 on a bigint
    column probed '5.0' against bitmaps of '5' and pruned units whose
    rows genuinely match. Cross-type equality must not bloom-prune."""
    import os

    from component_delta_lake_writer_spark.sinks import ManagedTable

    t = ManagedTable(spark, os.path.join(str(tmp_path), "t"))
    t.write(
        spark.range(100).selectExpr("id AS user_id", "CAST(id AS STRING) AS s"),
        mode="overwrite",
        properties={"bloom_filter_columns": ["user_id", "s"]},
    )
    # float literal on a bigint column: Spark matches user_id=5
    assert t.read_where("user_id = 5.0").count() == 1
    # int-form match still prunes correctly and returns the row
    assert t.read_where("user_id = 5").count() == 1
    # int literal on a string column: Spark coerces '5' = 5
    assert t.read_where("s = 5").count() == 1


def test_reserved_stats_column_names_refused(spark, tmp_path):
    import os

    import pytest as _pytest

    from component_delta_lake_writer_spark.errors import UserException
    from component_delta_lake_writer_spark.sinks import ManagedTable

    t = ManagedTable(spark, os.path.join(str(tmp_path), "t"))
    with _pytest.raises(UserException, match="reserved"):
        t.write(
            spark.range(3).selectExpr("id AS k", "id AS _rows"),
            mode="overwrite",
        )


def test_temporal_stats_zero_padded_years():
    """strftime %Y unpads years < 1000, breaking lexicographic order
    ('999-…' > '2024-…'); the manual formatter pads."""
    import datetime as dt

    from component_delta_lake_writer_spark.sinks.unit_stats import (
        _temporal_to_str,
    )

    s, kind = _temporal_to_str(dt.datetime(999, 12, 31, 1, 2, 3))
    assert s == "0999-12-31 01:02:03.000000" and kind == "ts"
    assert s < "2024-01-01 00:00:00.000000"
    d, kind = _temporal_to_str(dt.date(50, 1, 2))
    assert d == "0050-01-02" and kind == "date"


@pytest.mark.slow
def test_incremental_mv_null_sum_and_midhistory_preimages(spark, tmp_path):
    """Review findings: a NULL delta sum must not null the stored
    aggregate, and enabling changeDataFeedPreImages mid-history must
    fall back to a full refresh for the pre-property commits."""
    import os

    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.sinks import ManagedTable
    from component_delta_lake_writer_spark.sinks.materialized import (
        IncrementalAggregate,
    )

    src = ManagedTable(spark, os.path.join(str(tmp_path), "src"))
    src.write(
        spark.createDataFrame(
            [(1, "g", 10.0), (2, "g", 5.0)], "k int, g string, v double"
        ),
        mode="overwrite", primary_key=["k"],
        properties={"enableChangeDataFeed": True},
    )
    mv = IncrementalAggregate(
        spark, os.path.join(str(tmp_path), "mv"), src,
        group_by=["g"], sums={"sum_v": "v"},
    )
    assert mv.refresh() == "full"
    # append a NULL-v row: the group's delta sum is NULL — the stored
    # sum must stay 15, not become NULL
    src.write(
        spark.createDataFrame([(3, "g", None)], "k int, g string, v double"),
        mode="append",
    )
    assert mv.refresh() == "incremental"
    [row] = mv.read().collect()
    assert float(row["sum_v"]) == 15.0
    # an UPDATE commit made while pre-images were OFF must force a
    # full refresh even after the property turns on
    src.upsert(
        spark.createDataFrame([(1, "g", 100.0)], "k int, g string, v double"),
        ["k"],
    )
    src.set_properties({"changeDataFeedPreImages": True})
    assert mv.refresh() == "full"
    [row] = mv.read().collect()
    assert float(row["sum_v"]) == 105.0


def test_data_skipping_num_indexed_cols(spark, tmp_path):
    """delta.dataSkippingNumIndexedCols: min/max stats collect for
    only the first N schema columns (Delta's rule) — row counts stay
    exact, read_where still prunes on indexed columns, and a predicate
    on a non-indexed column simply scans everything (correct, just
    unpruned)."""
    from component_delta_lake_writer_spark.sinks.managed_table import (
        ManagedTable,
    )

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(1000).selectExpr(
        "id AS a", "id * 2 AS b", "id * 3 AS c"
    )
    t.write(df.coalesce(2), mode="overwrite",
            properties={"delta.dataSkippingNumIndexedCols": "2"})
    st = next(iter(t.latest_commit().stats.values()))
    assert st["_rows"] == 1000
    assert "a" in st and "b" in st
    assert "c" not in st, "column past the index cap must carry no stats"
    # correctness unaffected either way
    assert t.read_where("a < 10").count() == 10
    assert t.read_where("c < 30").count() == 10
    assert t.row_count() == 1000


@pytest.mark.slow
def test_distributed_footer_pass_matches_driver_loop(spark, tmp_path):
    """VERDICT r7 task 3: past DISTRIBUTE_THRESHOLD files the footer
    pass must run as a Spark JOB over the file list (a 1 M-file
    CONVERT would serialize the driver for hours otherwise), and its
    fold must be byte-identical to the sequential driver loop's."""
    from component_delta_lake_writer_spark.sinks.unit_stats import (
        collect_unit_stats,
    )

    src = str(tmp_path / "many")
    # 80 files of disjoint ranges, with some nulls in a string column
    spark.range(8000).selectExpr(
        "id AS k",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('s', id) END AS s",
        "CAST(id AS DOUBLE) / 3 AS v",
    ).repartition(80, "k").write.parquet(src)

    sc = spark.sparkContext
    group = "footer-pass-distributed"
    sc.setJobGroup(group, group)
    try:
        dist = collect_unit_stats(src, per_file=True, spark=spark)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) >= 1, "large-N footer pass must dispatch a Spark job"

    seq = collect_unit_stats(src, per_file=True, spark=None)
    assert dist == seq

    # small-N stays a pure driver loop: zero jobs even with spark given
    small = str(tmp_path / "few")
    spark.range(100).selectExpr("id AS k").coalesce(2).write.parquet(small)
    group2 = "footer-pass-driver"
    sc.setJobGroup(group2, group2)
    try:
        got = collect_unit_stats(small, spark=spark)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group2) == []
    assert got["_rows"] == 100 and got["k"]["min"] == 0


@pytest.mark.slow
def test_no_statistics_row_counts_distributed_match(spark, tmp_path):
    """The NO STATISTICS CONVERT pass (row counts only: zero indexed
    columns) distributes past the same threshold and agrees with the
    sequential one, per unit and per file."""
    from component_delta_lake_writer_spark.sinks.unit_stats import (
        collect_unit_stats,
    )

    src = str(tmp_path / "many")
    spark.range(6400).repartition(70).write.parquet(src)
    sc = spark.sparkContext
    group = "rowcount-distributed"
    sc.setJobGroup(group, group)
    try:
        dist = collect_unit_stats(
            src, per_file=True, num_indexed_cols=0, spark=spark
        )
    finally:
        sc.setJobGroup(None, None)
    assert dist["_rows"] == 6400 and set(dist) == {"_rows", "_files"}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1
    assert dist == collect_unit_stats(src, per_file=True, num_indexed_cols=0)


def test_merge_stats_accs_semantics():
    """Driver-side combine of partial fold accumulators: bad sticky,
    unknown nulls poison, temporal-kind and cross-type conflicts mark
    the column unprunable — same outcomes as one sequential fold."""
    from component_delta_lake_writer_spark.sinks.unit_stats import (
        merge_stats_accs,
    )

    a = {"x": {"min": 1, "max": 5, "nulls": 2, "bad": False}}
    b = {"x": {"min": 0, "max": 9, "nulls": 1, "bad": False}}
    m = merge_stats_accs(dict(a), b)
    assert m["x"] == {"min": 0, "max": 9, "nulls": 3, "bad": False}

    # unknown null count poisons the total
    m = merge_stats_accs(
        {"x": {"min": 1, "max": 2, "nulls": 5, "bad": False}},
        {"x": {"min": 1, "max": 2, "nulls": None, "bad": False}},
    )
    assert m["x"]["nulls"] is None

    # temporal-kind conflict -> bad
    m = merge_stats_accs(
        {"x": {"min": "2024-01-01", "max": "2024-01-02", "nulls": 0,
               "bad": False, "t": "date"}},
        {"x": {"min": "2024-01-01 00:00:00.000000",
               "max": "2024-01-02 00:00:00.000000", "nulls": 0,
               "bad": False, "t": "ts"}},
    )
    assert m["x"]["bad"] is True

    # cross-type min/max (schema drift) -> bad, not a crash
    m = merge_stats_accs(
        {"x": {"min": 1, "max": 2, "nulls": 0, "bad": False}},
        {"x": {"min": "a", "max": "b", "nulls": 0, "bad": False}},
    )
    assert m["x"]["bad"] is True

    # disjoint columns union
    m = merge_stats_accs(
        {"x": {"min": 1, "max": 2, "nulls": 0, "bad": False}},
        {"y": {"min": "a", "max": "b", "nulls": 0, "bad": False}},
    )
    assert set(m) == {"x", "y"}


@pytest.mark.slow
def test_convert_distributed_stats_end_to_end(spark, tmp_path):
    """CONVERT of an 80-file lake (over DISTRIBUTE_THRESHOLD) must
    land the same commit stats the driver loop would: exact row
    count, prunable min/max (read_where actually skips), and ANALYZE
    over the same table stays consistent."""
    from pyspark.sql import functions as F

    from component_delta_lake_writer_spark.sinks import ManagedTable

    src = str(tmp_path / "lake")
    spark.range(8000).selectExpr(
        "id AS k", "id * 2 AS v"
    ).repartition(80, "k").write.parquet(src)

    t = ManagedTable(spark, str(tmp_path / "t"))
    t.convert_from_parquet(src)
    c = t.latest_commit()
    st = c.stats[c.data_units[0]]
    assert st["_rows"] == 8000
    assert st["k"]["min"] == 0 and st["k"]["max"] == 7999
    assert t.read_where("k >= 7990").count() == 10
    assert t.row_count() == 8000
    # ANALYZE re-collects through the same distributed pass
    t.recompute_stats()
    st2 = t.latest_commit().stats[c.data_units[0]]
    assert st2["_rows"] == 8000 and st2["k"]["max"] == 7999

    # NO STATISTICS path: distributed row count only
    t2 = ManagedTable(spark, str(tmp_path / "t2"))
    t2.convert_from_parquet(src, collect_stats=False)
    st3 = next(iter(t2.latest_commit().stats.values()))
    assert set(st3) == {"_rows", "_files"} and st3["_rows"] == 8000
    assert all(set(f) == {"_rows"} for f in st3["_files"].values())


def test_distributed_indexed_cols_consistent_under_schema_drift(
    spark, tmp_path
):
    """ADVICE r8 (medium): the indexed-column set (first
    num_indexed_cols SCHEMA columns) must be resolved ONCE from the
    globally first sorted file — never per fold slice.  Two files
    whose column ORDER drifted (the pre-existing-lake CONVERT
    scenario) would otherwise make each task fold a DIFFERENT column
    set, producing unit-level min/max that covers only a subset of
    files yet looks unit-wide to data skipping."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    unit = tmp_path / "drift"
    unit.mkdir()
    # a.parquet: (k, v); b.parquet: (v, k) — column order drifted
    papq.write_table(
        pa.table({"k": [0, 1, 2], "v": [100, 100, 100]}),
        str(unit / "a.parquet"),
    )
    papq.write_table(
        pa.table({"v": [5, 5, 5], "k": [7, 8, 9]}),
        str(unit / "b.parquet"),
    )

    seq = collect_unit_stats(str(unit), num_indexed_cols=1)
    dist = collect_unit_stats(
        str(unit), num_indexed_cols=1, spark=spark, distribute_threshold=2
    )
    # byte-identical to the driver loop, and only the globally-first
    # file's first column is indexed: k covers BOTH files
    assert dist == seq
    assert dist["k"] == {"min": 0, "max": 9, "nulls": 0}
    assert "v" not in dist
