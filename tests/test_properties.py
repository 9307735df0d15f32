"""Property-based tests (hypothesis) for the semantics that must hold
for ANY input, not just the fixtures: merge upsert algebra, cast
round-trips, and the managed-table mode laws."""

from __future__ import annotations

import contextlib
import os
import tempfile

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from conftest import FULL_TESTS


# Two-tier suite (see tests/conftest.py): the default tier runs every
# property with a REDUCED example budget; the full sample runs with
# SPARK_GRAFT_FULL_TESTS=1. Floor of 4 keeps shrinking and edge
# examples meaningful.
def _ex(n: int) -> int:
    return n if FULL_TESTS else max(4, n // 5)

KEYS = st.integers(min_value=0, max_value=30)
VALS = st.integers(min_value=-1000, max_value=1000)

rows_strategy = st.lists(st.tuples(KEYS, VALS), min_size=0, max_size=40)


@pytest.mark.slow
@settings(
    max_examples=_ex(20),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(target=rows_strategy, source=rows_strategy)
def test_merge_upsert_model(spark, target, source):
    """merge_upsert == the reference MERGE model: result keys =
    target ∪ source keys; source wins on matched keys; exactly one
    row per key when inputs are key-unique."""
    from component_delta_lake_writer_spark.operators.merge import merge_upsert

    # make inputs key-unique (MERGE requires unique source keys; O2
    # dedup handles violation separately)
    t = {k: v for k, v in target}
    s = {k: v for k, v in source}
    tdf = spark.createDataFrame(
        [(k, v) for k, v in t.items()] or [(None, None)], "k long, v long"
    ).filter("k IS NOT NULL")
    sdf = spark.createDataFrame(
        [(k, v) for k, v in s.items()] or [(None, None)], "k long, v long"
    ).filter("k IS NOT NULL")

    got = {r["k"]: r["v"] for r in merge_upsert(tdf, sdf, ["k"]).collect()}
    want = {**t, **s}
    assert got == want


@settings(
    max_examples=_ex(20),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.decimals(
            min_value=-10**8, max_value=10**8, places=2, allow_nan=False
        ),
        min_size=1,
        max_size=30,
    )
)
def test_cast_matrix_roundtrip(spark, vals):
    """string → DECIMAL(14,2) → string → DECIMAL(14,2) is the identity
    (the staging path's typing must be lossless)."""
    df = spark.createDataFrame([(str(v),) for v in vals], "s string")
    out = df.select(
        F.col("s").cast("decimal(14,2)").cast("string").cast("decimal(14,2)").alias("d")
    ).collect()
    assert [str(r["d"]) for r in out] == [f"{v:.2f}" for v in vals]


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(rows_strategy.filter(lambda r: len(r) > 0), min_size=1, max_size=4))
def test_append_commits_accumulate(spark, batches):
    """N appends == union of the batches, regardless of batch shapes
    (the reference's first-batch-mode-rest-append loop, W8, collapses
    to this law)."""
    from component_delta_lake_writer_spark.sinks import ManagedTable

    with tempfile.TemporaryDirectory() as d:
        t = ManagedTable(spark, d + "/t")
        expect = 0
        for batch in batches:
            df = spark.createDataFrame(batch, "k long, v long")
            t.write(df, mode="append")
            expect += len(batch)
        assert t.read().count() == expect
        # and time travel sees each prefix
        assert t.read(version=0).count() == len(batches[0])


@settings(max_examples=_ex(200), deadline=None)
@given(
    values=st.lists(
        st.one_of(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.text(min_size=0, max_size=40),
        ),
        min_size=0,
        max_size=300,
    ),
    probes=st.lists(
        st.one_of(st.integers(), st.text(max_size=40)), max_size=30
    ),
    m_exp=st.integers(min_value=13, max_value=16),
)
def test_bloom_never_false_negative(values, probes, m_exp):
    """The bloom contract that makes pruning SAFE: a value that was
    inserted can never test absent (false positives merely cost IO;
    a false negative would silently drop rows). Pure driver-side
    property of the bitmap math — the Spark twin shares the hash by
    construction (md5 of the CAST-to-string form)."""
    from component_delta_lake_writer_spark.sinks.bloom import (
        may_contain,
        positions_for_value,
    )

    m = 1 << m_exp
    bits = bytearray(m // 8)
    for v in values:
        for p in positions_for_value(v, m):
            bits[p >> 3] |= 1 << (p & 7)
    bm = bytes(bits)
    for v in values:
        assert may_contain(bm, m, v)
    # absent probes may be positive (fp) but the bitmap must never
    # claim certainty wrongly on inserted values — and an empty
    # filter rejects everything
    if not values:
        for q in probes:
            assert not may_contain(bm, m, q)


@pytest.mark.slow
@settings(
    max_examples=_ex(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=rows_strategy, seed=st.integers(min_value=0, max_value=5))
def test_shard_export_partition_invariance(spark, rows, seed):
    """shard_export's (rank, shard) assignment is a pure function of
    (ids, seed) — invariant to how the input happens to be
    partitioned, which is what makes the export reproducible across
    cluster layouts."""
    from component_delta_lake_writer_spark.operators.sampling import (
        shard_export,
    )

    ids = sorted({k for k, _ in rows})
    if not ids:
        return
    df1 = spark.createDataFrame([(i,) for i in ids], "id long")
    df2 = df1.repartition(7)
    a = {
        r["id"]: (r["shuffle_rank"], r["shard"])
        for r in shard_export(df1, "id", 4, seed=seed).collect()
    }
    b = {
        r["id"]: (r["shuffle_rank"], r["shard"])
        for r in shard_export(df2, "id", 4, seed=seed, range_partitions=3).collect()
    }
    assert a == b
    assert sorted(r for r, _ in a.values()) == list(range(len(ids)))


_asof_left = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100)),  # (key, t)
    min_size=1, max_size=15,
)
_asof_right = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100), VALS),
    min_size=0, max_size=15,
)


@settings(
    max_examples=_ex(20),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=_asof_left,
    right=_asof_right,
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    tolerance=st.one_of(st.none(), st.integers(0, 30)),
)
def test_merge_asof_matches_pandas(spark, left, right, direction, tolerance):
    """Differential: operators.timeseries.merge_asof ==
    pandas.merge_asof on the same frames, across directions and
    tolerances (pandas is the semantics reference the operator
    claims parity with). Right side deduped per (key, t) — the
    operator's documented uniqueness contract."""
    import pandas as pd

    from component_delta_lake_writer_spark.operators.timeseries import (
        merge_asof,
    )

    lpdf = pd.DataFrame(left, columns=["k", "t"]).drop_duplicates(
        ["k", "t"]
    )
    lpdf["lid"] = range(len(lpdf))
    rpdf = (
        pd.DataFrame(right, columns=["k", "t", "v"])
        .astype({"k": "int64", "t": "int64", "v": "int64"})
        .drop_duplicates(["k", "t"])
    )
    sl = spark.createDataFrame(lpdf[["lid", "k", "t"]])
    sr = (
        spark.createDataFrame(rpdf)
        if len(rpdf)
        else spark.createDataFrame([], "k bigint, t bigint, v bigint")
    )
    got = {
        r["lid"]: (r["t_r"], r["v_r"])
        for r in merge_asof(
            sl, sr, on="t", by=["k"], direction=direction,
            tolerance=tolerance,
        ).collect()
    }
    want_df = pd.merge_asof(
        lpdf.sort_values("t"),
        rpdf.sort_values("t").rename(columns={"t": "t_r", "v": "v_r"}),
        left_on="t", right_on="t_r", by="k",
        direction=direction,
        tolerance=tolerance,
    )
    want = {
        int(r.lid): (
            None if pd.isna(r.t_r) else int(r.t_r),
            None if pd.isna(r.v_r) else int(r.v_r),
        )
        for r in want_df.itertuples()
    }
    assert got == want


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=rows_strategy.filter(lambda r: len(r) > 0),
    batch=rows_strategy,
    cut=st.integers(0, 30),
)
def test_replace_where_model(spark, base, batch, cut):
    """replace_where == delete-matching ∪ batch, for an arbitrary
    range predicate and batches clamped into the predicate (the
    enforced contract)."""
    import tempfile

    from component_delta_lake_writer_spark.sinks import ManagedTable

    with tempfile.TemporaryDirectory() as d:
        t = ManagedTable(spark, d + "/t")
        bdf = spark.createDataFrame(base, "k int, v int")
        t.write(bdf, mode="overwrite")
        cond = f"k >= {cut}"
        in_scope = [(k, v) for k, v in batch if k >= cut]
        sdf = (
            spark.createDataFrame(in_scope, "k int, v int")
            if in_scope
            else spark.createDataFrame([], "k int, v int")
        )
        t.replace_where(sdf, cond)
        got = sorted((r["k"], r["v"]) for r in t.read().collect())
        want = sorted([(k, v) for k, v in base if k < cut] + in_scope)
        assert got == want


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["loader", "merger", "other"]),  # appId
            st.integers(1, 4),                               # txn version
            st.integers(0, 5),                               # batch tag
        ),
        min_size=1, max_size=8,
    )
)
def test_txn_watermarks_model(spark, ops):
    """Writer-transaction model: replaying any sequence of (appId,
    version) writes applies exactly the subsequence whose version is
    a NEW high-water mark for its app — everything else no-ops, in
    any interleaving."""
    import tempfile

    from component_delta_lake_writer_spark.sinks import ManagedTable

    with tempfile.TemporaryDirectory() as d:
        t = ManagedTable(spark, d + "/t")
        t.write(spark.createDataFrame([(0, -1, -1)],
                                      "row int, app int, tag int"),
                mode="overwrite")
        hwm: dict[str, int] = {}
        applied = []
        apps = {"loader": 0, "merger": 1, "other": 2}
        for i, (app, v, tag) in enumerate(ops):
            t.write(
                spark.createDataFrame([(i + 1, apps[app], tag)],
                                      "row int, app int, tag int"),
                mode="append", txn=(app, v),
            )
            if hwm.get(app, 0) < v:
                hwm[app] = v
                applied.append(i + 1)
        got = sorted(r["row"] for r in t.read().collect())
        assert got == [0] + applied
        assert (t.latest_commit().txns or {}) == hwm


@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    waves=st.lists(
        st.sets(st.integers(0, 5), max_size=6), min_size=1, max_size=4
    )
)
def test_copy_into_idempotence_model(spark, waves):
    """COPY INTO model: across arbitrary overlapping waves of landing
    files, every file's rows load EXACTLY once — the table equals the
    union of all distinct files ever matched."""
    import os
    import tempfile

    from component_delta_lake_writer_spark.sinks import ManagedTable
    from pyspark.sql import types as T

    with tempfile.TemporaryDirectory() as d:
        land = os.path.join(d, "land")
        os.makedirs(land)
        t = ManagedTable(spark, d + "/t")
        schema = T.StructType.fromDDL("f int, r int")
        seen: set[int] = set()
        for wave in waves:
            for f in wave:
                p = os.path.join(land, f"s{f}.csv")
                if not os.path.exists(p):
                    with open(p, "w") as fh:
                        for r in range(3):
                            fh.write(f"{f},{r}\n")
            if not os.listdir(land):
                continue
            t.copy_into(os.path.join(land, "*.csv"),
                        file_format="csv", schema=schema)
            seen |= wave
        if seen:
            got = sorted((r["f"], r["r"]) for r in t.read().collect())
            want = sorted((f, r) for f in seen for r in range(3))
            assert got == want


@pytest.mark.slow
@settings(
    max_examples=_ex(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.tuples(rows_strategy, st.booleans()), min_size=1, max_size=4
    )
)
def test_mor_upsert_model_with_footer_bounds(spark, batches):
    """Merge-on-read upsert (delete-set + append, bounds derived from
    the delete file's parquet FOOTERS) must equal the plain dict-merge
    model across arbitrary batch sequences — including batches fully
    disjoint from the table (pure-append degeneration), overlapping
    batches, and interleaved copy-on-write upserts (the bool flag
    picks the strategy per batch), with commits stacking MOR delete
    sets on top of COW rewrites."""
    import os
    import tempfile

    from component_delta_lake_writer_spark.sinks import ManagedTable

    with tempfile.TemporaryDirectory() as d:
        t = ManagedTable(spark, os.path.join(d, "t"))
        model: dict = {}
        for i, (rows, use_mor) in enumerate(batches):
            batch = {k: v for k, v in rows}
            # shift half the batches far away so some are provably
            # disjoint from every prior unit's key range
            if i % 2 == 1:
                batch = {k + 1000: v for k, v in batch.items()}
            if not batch:
                continue
            df = spark.createDataFrame(
                list(batch.items()), "k long, v long"
            )
            if not t.exists():
                t.write(df, mode="overwrite", primary_key=["k"])
            else:
                t.upsert(
                    df, ["k"],
                    strategy="merge-on-read" if use_mor else "copy-on-write",
                )
            model.update(batch)
        if t.exists():
            got = {r["k"]: r["v"] for r in t.read().collect()}
            assert got == model


_LIFECYCLE_OP = st.one_of(
    st.tuples(st.just("append"), rows_strategy.filter(len)),
    st.tuples(st.just("upsert_cow"), rows_strategy.filter(len)),
    st.tuples(st.just("upsert_mor"), rows_strategy.filter(len)),
    st.tuples(st.just("delete_mod"), st.integers(min_value=2, max_value=7)),
    st.tuples(st.just("delete_mor"), st.integers(min_value=2, max_value=7)),
    st.tuples(st.just("optimize"), st.just(None)),
    st.tuples(st.just("restore_back"), st.integers(min_value=1, max_value=3)),
    st.tuples(st.just("update_mod"), st.integers(min_value=2, max_value=7)),
    st.tuples(st.just("replace_from"), st.tuples(KEYS, rows_strategy)),
    st.tuples(st.just("full_sync_from"), st.tuples(KEYS, rows_strategy)),
    st.tuples(st.just("delete_keys"), st.lists(KEYS, max_size=8)),
    st.tuples(st.just("compact"), st.just(None)),
    st.tuples(st.just("add_column"), st.just(None)),
)


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_LIFECYCLE_OP, min_size=1, max_size=6))
def test_table_lifecycle_model(spark, ops):
    """Model-based lifecycle law: an ARBITRARY interleaving of append /
    COW upsert / MOR upsert / COW and MOR DELETE WHERE / UPDATE /
    replaceWhere / scoped full-sync MERGE / DELETE by keys / OPTIMIZE /
    small-unit compaction / ADD COLUMN / RESTORE must keep ``read()``
    equal to a plain Python dict-model
    replaying the same commands, and every historical version must
    stay readable (time travel over mixed COW / MOR / compacted /
    restored history). After EVERY commit the external Delta reader
    (the ``_delta_log`` alone) must equal the model too, a fresh
    instance's replay of the log must equal the memoised snapshot
    field by field, and ``commit_at(v)`` must still return the
    snapshot recorded at every earlier version. This is the strongest
    single invariant the table layer offers — any interaction bug
    between deletion vectors, compaction rewrites, restore's snapshot
    semantics and the log replay falsifies it."""
    from dataclasses import fields
    import os
    import tempfile

    from component_delta_lake_writer_spark.sinks import ManagedTable
    from delta_verifier import read_delta_table

    with tempfile.TemporaryDirectory() as d:
        t = ManagedTable(spark, os.path.join(d, "t"))
        model: dict = {}
        history: list[dict] = []  # model snapshot per committed version
        commits: list = []  # memoised snapshot per committed version

        def same(a, b, where):
            for f in fields(a):
                assert getattr(a, f.name) == getattr(b, f.name), (
                    f"{f.name} differs at {where}"
                )

        def commit_model():
            history.append(dict(model))
            ext = {
                r["k"]: r["v"]
                for r in read_delta_table(spark, t.path).collect()
            }
            assert ext == model, f"log lags at v{len(history) - 1}"
            memo = t.latest_commit()
            commits.append(memo)
            fresh = ManagedTable(spark, t.path)
            same(fresh.latest_commit(), memo, f"head v{memo.version}")
            for c in commits[:-1]:
                same(fresh.commit_at(c.version), c, f"v{c.version}")

        for op, arg in ops:
            if op in ("append", "upsert_cow", "upsert_mor"):
                batch = {k: v for k, v in arg}
                df = spark.createDataFrame(
                    list(batch.items()), "k long, v long"
                )
                if not t.exists():
                    t.write(df, mode="overwrite", primary_key=["k"])
                    model.clear()
                    model.update(batch)
                elif op == "append":
                    # append may duplicate keys; keep the model a
                    # multiset-free law by upserting disjoint keys only
                    fresh = {k: v for k, v in batch.items()
                             if k not in model}
                    if not fresh:
                        continue
                    t.write(
                        spark.createDataFrame(
                            list(fresh.items()), "k long, v long"
                        ),
                        mode="append",
                    )
                    model.update(fresh)
                else:
                    t.upsert(
                        df, ["k"],
                        strategy=(
                            "merge-on-read" if op == "upsert_mor"
                            else "copy-on-write"
                        ),
                    )
                    model.update(batch)
                commit_model()
            elif op == "delete_mod":
                if not t.exists():
                    continue
                t.delete_where(f"k % {arg} = 0")
                for k in [k for k in model if k % arg == 0]:
                    del model[k]
                commit_model()
            elif op == "delete_mor":
                # non-key predicate: needs no primary key, marks rows
                # by position in deletion vectors
                if not t.exists():
                    continue
                t.delete_where(f"v % {arg} = 0", strategy="merge-on-read")
                for k in [k for k, v in model.items()
                          if v is not None and v % arg == 0]:
                    del model[k]
                commit_model()
            elif op == "optimize":
                if not t.exists():
                    continue
                t.optimize()
                commit_model()
            elif op == "restore_back":
                if not t.exists() or len(history) <= arg:
                    continue
                target_version = len(history) - 1 - arg
                t.restore(version=target_version)
                model.clear()
                model.update(history[target_version])
                commit_model()
            elif not t.exists():
                continue
            elif op == "update_mod":
                t.update_where(f"k % {arg} = 0", {"v": "v + 1"})
                for k in [k for k in model if k % arg == 0]:
                    model[k] += 1
                commit_model()
            elif op in ("replace_from", "full_sync_from"):
                lo, rows = arg
                batch = {k: v for k, v in rows}
                if op == "replace_from":
                    # every incoming row must satisfy the predicate
                    batch = {k: v for k, v in batch.items() if k >= lo}
                df = spark.createDataFrame(
                    list(batch.items()), "k long, v long"
                )
                if op == "replace_from":
                    t.replace_where(df, f"k >= {lo}")
                else:
                    t.upsert_full_sync(df, ["k"], delete_scope=f"k >= {lo}")
                for k in [k for k in model if k >= lo and k not in batch]:
                    del model[k]
                model.update(batch)
                commit_model()
            elif op == "delete_keys":
                t.delete_keys(
                    spark.createDataFrame([(k,) for k in arg], "k long")
                )
                for k in arg:
                    model.pop(k, None)
                commit_model()
            elif op == "compact":
                if t.compact_small_units() is None:
                    continue  # fewer than two small units: no commit
                commit_model()
            elif op == "add_column":
                t.add_column(f"c{len(history)}", "string")
                commit_model()

        if not t.exists():
            return
        got = {r["k"]: r["v"] for r in t.read().collect()}
        assert got == model, f"live read diverged after {ops}"
        # every committed version time-travels to its model snapshot
        for v, snap in enumerate(history):
            tv = {r["k"]: r["v"] for r in t.read(version=v).collect()}
            assert tv == snap, f"version {v} diverged after {ops}"


@settings(max_examples=_ex(200), deadline=None)
@given(
    values=st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=1 << 20),
            st.integers(min_value=0, max_value=(1 << 34)),
        ),
        min_size=0,
        max_size=3000,
    )
)
def test_dv_bitmap_roundtrip_property(values):
    """RoaringBitmapArray codec: serialize∘deserialize is the sorted
    de-duplicated identity for ANY 64-bit index set (array and bitmap
    containers, multi-high-word, empties)."""
    from component_delta_lake_writer_spark.sinks.deletion_vectors import (
        deserialize_bitmap,
        serialize_bitmap,
    )

    assert deserialize_bitmap(serialize_bitmap(values)) == sorted(
        set(values)
    )


@settings(max_examples=_ex(50), deadline=None)
@given(
    sets=st.dictionaries(
        st.sampled_from(["a.parquet", "b.parquet", "c/d.parquet"]),
        st.lists(
            st.integers(min_value=0, max_value=1 << 22),
            min_size=1, max_size=500,
        ),
        min_size=1,
        max_size=3,
    )
)
def test_dv_file_roundtrip_property(sets):
    """Multi-DV file framing: every descriptor written by
    write_dv_file reads back its exact index set (offsets, sizes,
    checksums, cardinalities all consistent)."""
    import tempfile

    from component_delta_lake_writer_spark.sinks.deletion_vectors import (
        read_dv,
        write_dv_file,
    )

    with tempfile.TemporaryDirectory() as d:
        descs = write_dv_file(d, sets)
        assert set(descs) == set(sets)
        for path, desc in descs.items():
            assert read_dv(d, desc) == sorted(set(sets[path]))


# Random op sequences against a MODEL of row identity: whatever the
# sequence (append / upsert MOR / delete / optimize / restore), live
# row ids stay UNIQUE, and every row that survives an op keeps the id
# it had before (ids may only appear/disappear with their rows —
# optimize in particular must be identity-preserving end to end).
_OPS = st.lists(
    st.sampled_from(["append", "upsert", "delete", "optimize", "restore"]),
    min_size=1,
    max_size=6,
)


@pytest.mark.slow
@settings(
    max_examples=_ex(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS, seed=st.integers(min_value=0, max_value=9))
def test_row_id_invariants_random_sequences(spark, ops, seed):
    from component_delta_lake_writer_spark.sinks import ManagedTable

    with tempfile.TemporaryDirectory() as d:
        t = ManagedTable(spark, d + "/t")

        def rows(lo, hi):
            return spark.range(lo, hi).select(
                F.col("id").alias("k"), (F.col("id") * 7).alias("v")
            )

        t.write(
            rows(0, 8).repartition(1), mode="overwrite",
            primary_key=["k"],
            properties={"delta.enableRowTracking": "true"},
        )

        def snapshot():
            return {
                r.k: r._row_id
                for r in t.read(with_row_ids=True).collect()
            }

        prev = snapshot()
        nxt = 100 * (seed + 1)
        for i, op in enumerate(ops):
            if op == "append":
                t.write(rows(nxt, nxt + 3).repartition(1), mode="append")
                nxt += 3
            elif op == "upsert":
                t.upsert(
                    rows(seed + i, seed + i + 4), ["k"],
                    strategy="merge-on-read",
                )
            elif op == "delete":
                t.delete_where(f"k % 5 = {(seed + i) % 5}")
            elif op == "optimize":
                t.optimize()
            elif op == "restore":
                t.restore(version=max(0, t.latest_commit().version - 2))
            cur = snapshot()
            ids = list(cur.values())
            assert len(ids) == len(set(ids)), f"dup ids after {op}"
            if op in ("append", "optimize"):
                # these never change surviving rows: every pre-op
                # (key -> id) binding must hold verbatim
                for k, rid in prev.items():
                    assert cur.get(k) == rid, (
                        f"{op} moved row id of k={k}: {rid} -> {cur.get(k)}"
                    )
            else:
                # upsert/delete/restore may replace or drop rows, but
                # an id can never JUMP to a different surviving key
                prev_by_id = {rid: k for k, rid in prev.items()}
                for k, rid in cur.items():
                    if rid in prev_by_id:
                        assert prev_by_id[rid] == k, (
                            f"id {rid} moved {prev_by_id[rid]} -> {k}"
                        )
            prev = cur


@pytest.mark.slow
@settings(
    max_examples=_ex(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    snaps=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),    # key
            st.integers(min_value=0, max_value=4),    # effective day
            st.sampled_from(["a", "b", "c"]),         # attr state
        ),
        min_size=1,
        max_size=20,
    )
)
def test_scd2_delta_stream_model(spark, snaps):
    """SCD2 incremental-apply model (r9 semantic contract): feed a
    random sequence of per-key snapshots — NON-decreasing effective
    times per key, INCLUDING same-timestamp corrections — through
    scd2_delta + ManagedTable upserts, and check the invariants the
    operator promises for ANY input:

    - at most one CURRENT row per key, and its attrs equal the key's
      last applied state;
    - every delta batch is (key, valid_from)-unique (the merge-key
      contract the same-ts close-out drop exists for);
    - per key, historical ranges never overlap: each close-out's
      valid_to equals some later row's valid_from (tiling), and
      valid_from <= valid_to strictly for closed rows.
    """
    import datetime as _dt

    from component_delta_lake_writer_spark.operators.scd import (
        scd2_build,
        scd2_delta,
    )
    from component_delta_lake_writer_spark.sinks import ManagedTable

    # per-key monotone NON-decreasing effective times: sort the drawn
    # rows by day within key, then replay one snapshot row at a time
    by_key: dict = {}
    for k, day, attr in snaps:
        by_key.setdefault(k, []).append((day, attr))
    ordered = []
    for k in sorted(by_key):
        for day, attr in sorted(by_key[k], key=lambda t: t[0]):
            ordered.append((k, day, attr))

    def ts(day: int):
        return _dt.datetime(2024, 1, 1 + day)

    with tempfile.TemporaryDirectory() as d:
        t = ManagedTable(spark, d + "/dim")
        last_state: dict = {}
        for k, day, attr in ordered:
            snap = spark.createDataFrame(
                [(k, attr, ts(day))], "k int, attr string, ts timestamp_ntz"
            )
            if not t.exists():
                t.write(
                    scd2_build(snap, "k", "ts", ["attr"]),
                    mode="overwrite", primary_key=["k", "valid_from"],
                )
            else:
                delta = scd2_delta(t.read(), snap, "k", ["attr"], "ts")
                drows = delta.collect()
                seen = set()
                for r in drows:
                    mk = (r["k"], r["valid_from"])
                    assert mk not in seen, f"merge-key collision {mk}"
                    seen.add(mk)
                t.upsert(delta, ["k", "valid_from"])
            last_state[k] = attr

        rows = t.read().collect()
        cur = {}
        for r in rows:
            if r["is_current"]:
                assert r["k"] not in cur, f"two current rows for {r['k']}"
                cur[r["k"]] = r["attr"]
                assert r["valid_to"] is None
            else:
                assert r["valid_from"] <= r["valid_to"]
        assert cur == last_state
        # tiling: every closed row's valid_to is some row's valid_from
        for r in rows:
            if not r["is_current"]:
                assert any(
                    o["k"] == r["k"] and o["valid_from"] == r["valid_to"]
                    for o in rows
                ), f"gap after close-out {r}"


# strategy for small event logs: (user, step_idx 0-3 incl. noise, ts)
_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),     # user
        st.integers(min_value=0, max_value=3),      # event kind
        st.integers(min_value=0, max_value=20),     # ts (collisions!)
    ),
    min_size=0,
    max_size=40,
)


@pytest.mark.slow
@settings(
    max_examples=_ex(20),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_EVENTS, within=st.one_of(st.none(), st.integers(1, 8)))
def test_funnel_matches_bruteforce_model(spark, rows, within):
    """The r10 flat array_min(filter) chain == the greedy sequential
    model for ANY log, equal timestamps and time-boxed horizons
    included: per user, step i is credited at the MIN event time
    strictly after (and, with `within`, not more than `within` past)
    the credited step i-1 time."""
    from component_delta_lake_writer_spark.operators.sessions import (
        funnel,
    )

    steps = ["a", "b", "c"]
    kinds = ["a", "b", "c", "noise"]

    # brute-force greedy model in plain python
    per_user: dict = {}
    for u, k, ts in rows:
        per_user.setdefault(u, []).append((kinds[k], float(ts)))
    counts = [0, 0, 0]
    for evs in per_user.values():
        prev_t = None
        for i, s in enumerate(steps):
            cand = [
                t for e, t in evs
                if e == s
                and (i == 0
                     or (prev_t is not None and t > prev_t
                         and (within is None or t <= prev_t + within)))
            ]
            if i > 0 and prev_t is None:
                cand = []
            if not cand:
                break
            prev_t = min(cand)
            counts[i] += 1

    df = spark.createDataFrame(
        [(u, kinds[k], float(ts)) for u, k, ts in rows]
        or [(None, None, None)],
        "user_id long, event_type string, ts double",
    ).filter("user_id IS NOT NULL")
    got = {
        r["step"]: r["n_users"]
        for r in funnel(df, steps, within=within).collect()
    }
    assert [got[1], got[2], got[3]] == counts


_GRAPH_EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),
        st.integers(min_value=0, max_value=7),
    ),
    min_size=0,
    max_size=15,
)


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_GRAPH_EDGES)
def test_triangle_count_matches_bruteforce(spark, edges):
    """Degree-oriented triangle counting == naive triple enumeration
    for ANY multigraph, self-loops and duplicate/reversed edges
    included."""
    import itertools

    from component_delta_lake_writer_spark.operators.graph import (
        triangle_count,
    )

    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = {n for e in canon for n in e}
    deg = {n: sum(1 for e in canon if n in e) for n in nodes}
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    tri = sum(
        1
        for a, b, c in itertools.combinations(sorted(nodes), 3)
        if (a, b) in canon and (a, c) in canon and (b, c) in canon
    )

    df = spark.createDataFrame(
        edges or [(None, None)], "src long, dst long"
    )
    r = triangle_count(df).collect()[0]
    assert r.n_nodes == len(nodes)
    assert r.n_edges == len(canon)
    assert r.n_wedges == wedges
    assert r.n_triangles == tri
    if wedges > 0:
        assert abs(r.global_clustering - 3.0 * tri / wedges) < 1e-6
    else:
        assert r.global_clustering is None


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=_GRAPH_EDGES,
    hops=st.integers(min_value=1, max_value=3),
)
def test_bfs_matches_bruteforce(spark, edges, hops):
    """Level-synchronous BFS == plain-python BFS for ANY graph and
    horizon; the seed holds dist 0 even when isolated."""
    from component_delta_lake_writer_spark.operators.graph import (
        bfs_distances,
    )

    adj: dict = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    model = {0: 0}
    frontier = [0]
    for h in range(1, hops + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in model:
                    model[v] = h
                    nxt.append(v)
        frontier = nxt

    df = spark.createDataFrame(
        edges or [(None, None)], "src long, dst long"
    )
    got = {
        r.node: r.dist
        for r in bfs_distances(df, [0], max_hops=hops).collect()
    }
    assert got == model


_SERIES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10),   # hour bucket
        st.integers(min_value=-50, max_value=50),  # value
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_SERIES)
def test_cusum_matches_bruteforce(spark, rows):
    """The integer-scaled CUSUM argmax == the exact-arithmetic python
    model for ANY series (all-integer values keep the model exact)."""
    import datetime as dt

    from component_delta_lake_writer_spark.operators.timeseries import (
        cusum_changepoint,
    )

    sums: dict = {}
    for h, v in rows:
        sums[h] = sums.get(h, 0) + v
    hours = sorted(sums)
    n = len(hours)
    total = sum(sums.values())
    best = None  # (absd, hour)
    pre = 0
    for i, h in enumerate(hours, start=1):
        pre += sums[h]
        absd = abs(n * pre - i * total)
        if best is None or absd > best[0] or (
            absd == best[0] and h < best[1]
        ):
            best = (absd, h, i, pre)

    df = spark.createDataFrame(
        [(dt.datetime(2026, 1, 1, h), float(v)) for h, v in rows],
        "ts timestamp, value double",
    )
    r = cusum_changepoint(df, "ts", "value").collect()[0]
    assert r.changepoint_ts == dt.datetime(2026, 1, 1, best[1])
    assert r.n_buckets == n
    assert abs(r.cusum_abs - best[0] / n) < 1e-6


_BASKETS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),  # basket
        st.integers(min_value=0, max_value=5),  # item
    ),
    min_size=0,
    max_size=25,
)


@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_BASKETS)
def test_basket_lift_matches_bruteforce(spark, rows):
    """Array-generated pairs == naive per-basket pair enumeration for
    ANY relation (k large enough to keep every pair in view)."""
    import itertools

    from component_delta_lake_writer_spark.operators.affinity import (
        basket_lift,
    )

    bi = sorted({(b, i) for b, i in rows})
    by_basket: dict = {}
    for b, i in bi:
        by_basket.setdefault(b, []).append(i)
    model: dict = {}
    for items in by_basket.values():
        for a, b in itertools.combinations(sorted(items), 2):
            model[(a, b)] = model.get((a, b), 0) + 1
    item_n: dict = {}
    for _, i in bi:
        item_n[i] = item_n.get(i, 0) + 1
    n_baskets = len(by_basket)

    df = spark.createDataFrame(
        rows or [(None, None)], "basket long, item long"
    )
    got = {
        (r.item_a, r.item_b): r
        for r in basket_lift(df, "basket", "item", k=100).collect()
    }
    assert set(got) == set(model)
    for (a, b), r in got.items():
        assert r.n_pair == model[(a, b)]
        assert r.n_a == item_n[a] and r.n_b == item_n[b]
        assert r.n_baskets == n_baskets
        want_lift = model[(a, b)] * n_baskets / (item_n[a] * item_n[b])
        assert abs(r.lift - want_lift) < 1e-6


_MW_ROWS = st.lists(
    st.tuples(
        st.booleans(),                            # arm
        st.integers(min_value=0, max_value=6),    # value (ties!)
    ),
    min_size=4,
    max_size=30,
)


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_MW_ROWS)
def test_mann_whitney_matches_bruteforce(spark, rows):
    """Distributed midrank U == the textbook midrank model for ANY
    two-arm sample with ties."""
    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.experiments import (
        mann_whitney_u,
    )

    arms = {a for a, _ in rows}
    assume(len(arms) == 2)
    vals = sorted(v for _, v in rows)
    # textbook midranks: 1-based average rank per tied value
    midrank = {}
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        midrank[vals[i]] = (i + 1 + j) / 2
        i = j
    a_vals = [v for a, v in rows if not a]   # arm "false" sorts first
    n_a, n_b = len(a_vals), len(rows) - len(a_vals)
    r_a = sum(midrank[v] for v in a_vals)
    u_a = r_a - n_a * (n_a + 1) / 2

    df = spark.createDataFrame(
        [(str(a).lower(), float(v)) for a, v in rows],
        "grp string, v double",
    )
    r = mann_whitney_u(df, "grp", "v").collect()[0]
    assert (r.group_a, r.n_a, r.n_b) == ("false", n_a, n_b)
    assert r.u_a == u_a
    assert r.u_b == n_a * n_b - u_a


_QN_ROWS = st.lists(
    st.integers(min_value=-20, max_value=20), min_size=1, max_size=25
)


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(a_vals=_QN_ROWS, b_vals=_QN_ROWS)
def test_quantile_normalize_matches_bruteforce(spark, a_vals, b_vals):
    """Distributed-rank + anchor-array mapping == the plain-python
    step-function model for ANY pair of samples (anchors ≥ |B| so no
    anchor subsampling hides a rank bug)."""
    from component_delta_lake_writer_spark.operators.features import (
        quantile_normalize,
    )

    n_a, n_b = len(a_vals), len(b_vals)
    a_sorted = sorted(enumerate(a_vals), key=lambda t: (t[1], t[0]))
    b_sorted = sorted(b_vals)
    anchors = max(n_b, 2)
    anchor_ranks = sorted(
        {i * (n_b - 1) // (anchors - 1) for i in range(anchors)}
    )
    anchor_prs = [
        (r / (n_b - 1) if n_b > 1 else 0.0, float(b_sorted[r]))
        for r in anchor_ranks
    ]
    model = {}
    for rank, (idx, v) in enumerate(a_sorted):
        pr = rank / (n_a - 1) if n_a > 1 else 0.0
        best = max(
            (p for p in anchor_prs if p[0] <= pr),
            key=lambda p: p[0],
        )
        model[idx] = best[1]

    a_df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(a_vals)],
        "id long, v double",
    )
    b_df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(b_vals)],
        "rid long, rv double",
    )
    got = {
        r.id: r.normalized
        for r in quantile_normalize(
            a_df, "v", "id", b_df, "rv", "rid", anchors=anchors
        ).collect()
    }
    assert got == model


@pytest.mark.slow
@settings(
    max_examples=_ex(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(st.tuples(KEYS, VALS, VALS), min_size=2, max_size=30))
def test_spearman_bounds_and_monotone_invariance(spark, rows):
    """Spearman laws for ANY input: rho ∈ [−1, 1] (or NULL on a
    constant column); applying a strictly monotone transform to y
    leaves rho unchanged (it only sees ranks)."""
    from component_delta_lake_writer_spark.operators.experiments import (
        spearman_corr,
    )

    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (_, x, y) in enumerate(rows)],
        "id long, x double, y double",
    )
    r = spearman_corr(df, "x", "y").collect()[0]
    assert r.n_rows == len(rows)
    if r.rho is not None:
        assert -1.0 <= r.rho <= 1.0
    # strictly monotone transform of y: ranks identical -> same rho
    df2 = df.withColumn("y", F.col("y") * 3 + 7)
    r2 = spearman_corr(df2, "x", "y").collect()[0]
    assert r2.rho == r.rho


@pytest.mark.slow
@settings(
    max_examples=_ex(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    a=st.lists(VALS, min_size=1, max_size=25),
    b=st.lists(VALS, min_size=1, max_size=25),
)
def test_ks_bounds_and_identity(spark, a, b):
    """KS laws: D ∈ [0, 1] for any two samples; D = 0 when both arms
    are the identical sample."""
    from component_delta_lake_writer_spark.operators.experiments import (
        ks_test_2sample,
    )

    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_test_2sample(df, "g", "v").collect()[0]
    assert 0.0 <= r.d_stat <= 1.0
    same = spark.createDataFrame(
        [("a", float(v)) for v in a] + [("b", float(v)) for v in a],
        "g string, v double",
    )
    assert ks_test_2sample(same, "g", "v").collect()[0].d_stat == 0.0


@pytest.mark.slow
@settings(
    max_examples=_ex(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(VALS, min_size=1, max_size=30))
def test_winsorize_bounds_and_interior_identity(spark, rows):
    """Winsorize laws: output is within [v_lo, v_hi] ⊆ [min, max] of
    the input; values already inside the bounds pass through
    unchanged; row count preserved."""
    from component_delta_lake_writer_spark.operators.features import (
        winsorize,
    )

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(rows)],
        "id long, v double",
    )
    out = winsorize(df, "v", "id", 10, 100, 90, 100).collect()
    assert len(out) == len(rows)
    lo, hi = min(float(v) for v in rows), max(float(v) for v in rows)
    by_id = {r.id: r for r in out}
    for i, v in enumerate(rows):
        w = by_id[i].winsorized
        assert lo <= w <= hi
        assert by_id[i].value == float(v)
    s = sorted(float(v) for v in rows)
    k_lo = ((len(s) - 1) * 10) // 100
    k_hi = ((len(s) - 1) * 90) // 100
    for i, v in enumerate(rows):
        if s[k_lo] <= float(v) <= s[k_hi]:
            assert by_id[i].winsorized == float(v)


@pytest.mark.slow
@settings(
    max_examples=_ex(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ps=st.lists(
        st.integers(min_value=0, max_value=1000),
        min_size=1,
        max_size=25,
    ),
    alpha_pct=st.sampled_from([1, 5, 10]),
)
def test_benjamini_hochberg_matches_bruteforce(spark, ps, alpha_pct):
    """benjamini_hochberg == the textbook step-up model on ANY
    p-value multiset: q_i = min(1, min_{j>=i} m*p_j/j) computed by a
    brute double loop, and the reject set is exactly {p_i <= alpha *
    i / m for the largest crossing i} — plus the two standing
    invariants: q is monotone non-decreasing in p-rank, and tied
    p-values share a q."""
    from component_delta_lake_writer_spark.operators.experiments import (
        benjamini_hochberg,
    )

    alpha = alpha_pct / 100.0
    rows = [(f"t{i}", p / 1000.0) for i, p in enumerate(ps)]
    df = spark.createDataFrame(rows, "t string, p double")
    got = {
        r.test_id: r
        for r in benjamini_hochberg(df, "t", "p", alpha=alpha).collect()
    }
    # brute-force model over the same total order (p, test_id)
    m = len(rows)
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    s = [m * p / (i + 1) for i, (_, p) in enumerate(order)]
    q = [min(1.0, min(s[i:])) for i in range(m)]
    # the classic step-up boundary
    k_star = max(
        (i + 1 for i, (_, p) in enumerate(order)
         if p <= alpha * (i + 1) / m),
        default=0,
    )
    def spark_round6(x: float) -> float:
        # Spark's round(double, 6) quantizes the SHORTEST decimal
        # repr (BigDecimal.valueOf → Double.toString) HALF_UP, while
        # Python's round works on the exact binary value half-even —
        # they disagree exactly on repr-boundary values like
        # 17·0.599/16 = '0.6364375' (binary ...74999): hypothesis
        # r13 shrink.  The DuckDB oracle agrees with Spark (the
        # differential gate holds); the brute model must replicate
        # the engines' semantics, not Python's.
        import decimal

        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("1e-6"),
                rounding=decimal.ROUND_HALF_UP,
            )
        )

    prev_q = None
    for i, (tid, p) in enumerate(order):
        r = got[tid]
        assert r.p_rank == i + 1
        assert r.q_value == spark_round6(q[i])
        assert r.reject == (1 if i + 1 <= k_star else 0)
        if prev_q is not None:
            assert r.q_value >= prev_q  # q monotone in rank
        prev_q = r.q_value
    # ties share a q
    by_p: dict = {}
    for tid, p in rows:
        by_p.setdefault(p, set()).add(got[tid].q_value)
    assert all(len(v) == 1 for v in by_p.values())


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    users=st.lists(
        st.tuples(
            st.booleans(),                      # arm
            st.integers(min_value=0, max_value=9),   # lifetime days
        ),
        min_size=4,
        max_size=25,
    ),
)
def test_logrank_matches_bruteforce(spark, users):
    """logrank_test == the textbook hypergeometric fold on ANY
    two-arm lifetime multiset (every user censored or dead exactly
    as the operator's horizon rule dictates): O, E, V and z match a
    brute per-time loop computed straight from the definition."""
    import datetime as dtm
    import math

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.sessions import (
        logrank_test,
    )

    assume(len({a for a, _ in users}) == 2)
    d0 = dtm.datetime(2026, 3, 1, 9, 0)
    horizon = max(t for _, t in users)
    rows = []
    for i, (arm, t) in enumerate(users):
        uid = f"u{i}"
        a = "A" if arm else "B"
        rows += [(uid, a, d0), (uid, a, d0 + dtm.timedelta(days=t))]
    df = spark.createDataFrame(rows, "u string, arm string, ts timestamp")
    r = logrank_test(df, "u", "ts", "arm", censor_days=1).collect()[0]

    # brute model: censored iff lifetime == horizon (censor_days=1)
    lifetimes = [("A" if a else "B", t, t == horizon) for a, t in users]
    death_times = sorted({t for _, t, cen in lifetimes if not cen})
    o = e = v = 0.0
    for t in death_times:
        na = sum(1 for a, lt, _ in lifetimes if a == "A" and lt >= t)
        nb = sum(1 for a, lt, _ in lifetimes if a == "B" and lt >= t)
        nt = na + nb
        dt_ = sum(1 for _, lt, cen in lifetimes if lt == t and not cen)
        da = sum(
            1 for a, lt, cen in lifetimes
            if a == "A" and lt == t and not cen
        )
        o += da
        e += round(dt_ * na / nt, 9)
        if nt > 1:
            v += round(
                dt_ * na / nt * (nt - na) / nt * (nt - dt_) / (nt - 1),
                9,
            )
    assert (r.arm_a, r.arm_b) == ("A", "B")
    assert r.o_a == int(o)
    if death_times:
        assert r.e_a == round(e, 6)
    else:
        # no deaths at all: the E/Var decimal sums are over an empty
        # relation -> NULL by the documented degenerate contract
        assert r.e_a is None
    assert r.n_times == len(death_times)
    if v > 0:
        assert r.z == round((o - e) / math.sqrt(v), 6)
        assert r.chi2 == round(r.z * r.z, 6)
    else:
        assert r.z is None


@pytest.mark.slow
@settings(
    max_examples=_ex(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    users=st.lists(
        st.tuples(
            st.booleans(),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=4,
        max_size=20,
    ),
)
def test_cox_ph_matches_bruteforce(spark, users):
    """cox_ph_two_arm == the brute fixed-step Newton fold (identical
    9dp rounding at every stage) on ANY two-arm lifetime multiset —
    including the degenerate no-deaths / zero-information cases,
    which must yield NULLs on both sides."""
    import datetime as dtm
    import math

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.sessions import (
        cox_ph_two_arm,
    )
    from tests.test_analytics_extras import _brute_cox

    assume(len({a for a, _ in users}) == 2)
    d0 = dtm.datetime(2026, 4, 1, 8, 0)
    horizon = max(t for _, t in users)
    rows = []
    for i, (arm, t) in enumerate(users):
        uid, a = f"u{i}", ("B" if arm else "A")
        rows += [(uid, a, d0), (uid, a, d0 + dtm.timedelta(days=t))]
    df = spark.createDataFrame(rows, "u string, arm string, ts timestamp")
    r = cox_ph_two_arm(
        df, "u", "ts", "arm", censor_days=1, iterations=2
    ).collect()[0]
    lifetimes = [
        ("B" if a else "A", t, t == horizon) for a, t in users
    ]
    n_times, o, b, se = _brute_cox(lifetimes, iterations=2)
    assert (r.n_times, r.o_b) == (n_times, o)
    if b is None or se is None:
        assert r.beta is None or r.se is None
    else:
        assert r.beta == round(b, 6)
        assert r.hazard_ratio == round(math.exp(b), 6)
        assert r.se == round(se, 6)


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    units=st.lists(
        st.tuples(
            st.booleans(),                       # arm
            st.integers(min_value=0, max_value=50),   # x (pre)
            st.integers(min_value=0, max_value=50),   # y (post)
        ),
        min_size=4,
        max_size=25,
    ),
)
def test_cuped_matches_bruteforce(spark, units):
    """cuped_ztest == the textbook estimator on ANY two-arm
    (pre, post) multiset: pooled theta = cov/var, adjusted means,
    and the z from per-arm sample variances — including the
    var(X)=0 fallback (theta = 0, z_adj == z_raw)."""
    import math
    import statistics as _s

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.experiments import (
        cuped_ztest,
    )

    assume(len({a for a, _, _ in units}) == 2)
    rows = []
    for i, (arm, x, y) in enumerate(units):
        g = "B" if arm else "A"
        rows.append((f"u{i}", g, float(x), True))
        rows.append((f"u{i}", g, float(y), False))
    df = spark.createDataFrame(
        rows, "u string, arm string, value double, pre boolean"
    )
    r = cuped_ztest(df, "u", "arm", "value", "pre").collect()[0]

    xs = [x for _, x, _ in units]
    ys = [y for _, _, y in units]
    n = len(units)
    varx = sum(x * x for x in xs) - sum(xs) ** 2 / n
    cov = sum(x * y for _, x, y in units) - sum(xs) * sum(ys) / n
    theta = round(cov / varx, 9) if varx > 0 else 0.0
    assert r.theta == round(theta, 6)
    xbar = sum(xs) / n
    out = {}
    for g in ("A", "B"):
        sub = [(x, y) for a, x, y in units if (a and g == "B")
               or (not a and g == "A")]
        adj = [y - theta * (x - xbar) for x, y in sub]
        out[g] = (sum(adj) / len(adj),
                  _s.variance(adj) if len(adj) > 1 else None,
                  len(adj))
    (ma, va, na), (mb, vb, nb) = out["A"], out["B"]
    assert abs(r.mean_adj_a - ma) < 1e-6
    assert abs(r.mean_adj_b - mb) < 1e-6
    if va is None or vb is None or va / na + vb / nb <= 0:
        assert r.z_adj is None
    else:
        z = (mb - ma) / math.sqrt(va / na + vb / nb)
        assert abs(r.z_adj - z) < 1e-4
    if varx == 0:
        assert r.theta == 0.0 and r.z_adj == r.z_raw


_BPE_WORDS = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=5),
    min_size=0,
    max_size=12,
)


def _ref_bpe(texts, n):
    """Textbook greedy BPE (Sennrich et al. 2016) on a word-count
    dict: per round, count adjacent symbol pairs weighted by word
    frequency, take the (count desc, pair lexicographic asc) argmax,
    and apply the merge left-to-right greedily in every word."""
    import collections
    import re

    wc: collections.Counter = collections.Counter()
    for t in texts:
        for w in re.split("[^a-z]+", t.lower()):
            if w:
                wc[w[:16]] += 1
    words = {w: list(w) for w in wc}
    out = []
    for r in range(n):
        pc: collections.Counter = collections.Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wc[w]
        if not pc:
            break
        (left, right), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0])
        )
        out.append((r + 1, left, right, c))
        for w, syms in words.items():
            acc: list = []
            for s in syms:
                if acc and acc[-1] == left and s == right:
                    acc[-1] = left + right
                else:
                    acc.append(s)
            words[w] = acc
    return out


@pytest.mark.slow
@settings(
    max_examples=_ex(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(words=_BPE_WORDS)
def test_bpe_train_matches_textbook_model(spark, words):
    """bpe_train_merges == the textbook greedy-BPE model for ANY
    word multiset: same merges, same order, same weighted pair
    counts — including the all-identical-symbol runs where greedy
    left-to-right pairing and the total-order tiebreak are the
    entire semantics."""
    from component_delta_lake_writer_spark.operators.text import (
        bpe_train_merges,
    )

    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    got = [
        tuple(r)
        for r in bpe_train_merges(df, n_merges=4)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == _ref_bpe([text], 4)


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    users=st.lists(
        st.tuples(
            st.booleans(),                      # arm
            st.integers(min_value=0, max_value=9),   # lifetime days
        ),
        min_size=4,
        max_size=25,
    ),
)
def test_gehan_wilcoxon_matches_bruteforce(spark, users):
    """gehan_wilcoxon_test == the Breslow-weighted brute fold on ANY
    two-arm lifetime multiset: U = Σ n_t(d_a − d_t·n_a/n_t),
    V = Σ n_t²·Var_t with the operator's exact 9dp-round-then-sum
    staging — the early-death n_t weights are the entire difference
    from the plain log-rank and the thing this pins down."""
    import datetime as dtm
    import math

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.sessions import (
        gehan_wilcoxon_test,
    )

    assume(len({a for a, _ in users}) == 2)
    d0 = dtm.datetime(2026, 3, 1, 9, 0)
    horizon = max(t for _, t in users)
    rows = []
    for i, (arm, t) in enumerate(users):
        uid = f"u{i}"
        a = "A" if arm else "B"
        rows += [(uid, a, d0), (uid, a, d0 + dtm.timedelta(days=t))]
    df = spark.createDataFrame(rows, "u string, arm string, ts timestamp")
    r = gehan_wilcoxon_test(
        df, "u", "ts", "arm", censor_days=1
    ).collect()[0]

    lifetimes = [("A" if a else "B", t, t == horizon) for a, t in users]
    death_times = sorted({t for _, t, cen in lifetimes if not cen})
    u = v = 0.0
    for t in death_times:
        na = sum(1 for a, lt, _ in lifetimes if a == "A" and lt >= t)
        nb = sum(1 for a, lt, _ in lifetimes if a == "B" and lt >= t)
        nt = na + nb
        dt_ = sum(1 for _, lt, cen in lifetimes if lt == t and not cen)
        da = sum(
            1 for a, lt, cen in lifetimes
            if a == "A" and lt == t and not cen
        )
        u += round(nt * (da - dt_ * na / nt), 9)
        if nt > 1:
            v += round(
                nt * nt * (
                    dt_ * na / nt * (nt - na) / nt
                    * (nt - dt_) / (nt - 1)
                ),
                9,
            )
    assert (r.arm_a, r.arm_b) == ("A", "B")
    assert r.n_times == len(death_times)
    if death_times:
        assert r.w_diff == round(u, 6)
    else:
        assert r.w_diff is None
    if v > 0:
        assert r.z == round(u / math.sqrt(v), 6)
        assert r.chi2 == round(r.z * r.z, 6)
        assert r.significant == (1 if abs(r.z) > 1.959964 else 0)
    else:
        assert r.z is None and r.significant == 0


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    users=st.lists(
        st.tuples(
            st.booleans(),                      # arm
            st.integers(min_value=0, max_value=2),   # stratum
            st.integers(min_value=0, max_value=7),   # lifetime days
        ),
        min_size=4,
        max_size=25,
    ),
)
def test_stratified_logrank_matches_bruteforce(spark, users):
    """stratified_logrank_test == the per-stratum hypergeometric
    fold pooled across strata on ANY (arm, stratum, lifetime)
    multiset: each stratum contributes O−E and Var over its OWN
    time grid and at-risk sets (the global horizon censors), and
    one-arm strata contribute zero — the confounder-cancelling
    behavior this operator exists for."""
    import datetime as dtm
    import math

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.sessions import (
        stratified_logrank_test,
    )

    assume(len({a for a, _, _ in users}) == 2)
    d0 = dtm.datetime(2026, 3, 1, 9, 0)
    horizon = max(t for _, _, t in users)
    rows = []
    for i, (arm, s, t) in enumerate(users):
        uid = f"u{i}"
        a = "A" if arm else "B"
        rows += [
            (uid, a, f"s{s}", d0),
            (uid, a, f"s{s}", d0 + dtm.timedelta(days=t)),
        ]
    df = spark.createDataFrame(
        rows, "u string, arm string, st string, ts timestamp"
    )
    r = stratified_logrank_test(
        df, "u", "ts", "arm", "st", censor_days=1
    ).collect()[0]

    lifetimes = [
        ("A" if a else "B", f"s{s}", t, t == horizon)
        for a, s, t in users
    ]
    strata = sorted({s for _, s, _, _ in lifetimes})
    o = e = v = 0.0
    n_cells = 0
    for stx in strata:
        in_s = [x for x in lifetimes if x[1] == stx]
        death_times = sorted({t for _, _, t, cen in in_s if not cen})
        for t in death_times:
            na = sum(1 for a, _, lt, _ in in_s if a == "A" and lt >= t)
            nb = sum(1 for a, _, lt, _ in in_s if a == "B" and lt >= t)
            nt = na + nb
            dt_ = sum(1 for _, _, lt, cen in in_s if lt == t and not cen)
            da = sum(
                1 for a, _, lt, cen in in_s
                if a == "A" and lt == t and not cen
            )
            n_cells += 1
            o += da
            e += round(dt_ * na / nt, 9)
            if nt > 1:
                v += round(
                    dt_ * na / nt * (nt - na) / nt
                    * (nt - dt_) / (nt - 1),
                    9,
                )
    assert (r.arm_a, r.arm_b) == ("A", "B")
    assert r.n_strata == len(strata)
    assert r.n_times == n_cells
    assert r.o_a == int(o)
    if n_cells:
        assert r.e_a == round(e, 6)
    else:
        assert r.e_a is None
    if v > 0:
        assert r.z == round((o - e) / math.sqrt(v), 6)
        assert r.chi2 == round(r.z * r.z, 6)
    else:
        assert r.z is None


@pytest.mark.slow
@settings(
    max_examples=_ex(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.booleans(),                          # label
            st.integers(min_value=0, max_value=6),  # score (ties!)
        ),
        min_size=1,
        max_size=30,
    ),
)
def test_auc_matches_bruteforce(spark, pts):
    """auc_roc == brute pair counting on ANY labeled multiset:
    (#correctly ordered pairs + half the ties) / (n+ · n−), NULL
    when a class is empty."""
    from component_delta_lake_writer_spark.operators.experiments import (
        auc_roc,
    )

    df = spark.createDataFrame(
        [(int(y), float(s)) for y, s in pts], "y int, s double"
    )
    r = auc_roc(df, "y", "s").collect()[0]
    pos = [s for y, s in pts if y]
    neg = [s for y, s in pts if not y]
    assert (r.n_pos, r.n_neg) == (len(pos), len(neg))
    if not pos or not neg:
        assert r.auc is None and r.gini is None
        return
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    expected = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert r.auc == round(expected, 9)
    assert r.gini == round(2.0 * r.auc - 1.0, 9)


@pytest.mark.slow
@settings(
    max_examples=_ex(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # group
            st.integers(min_value=0, max_value=5),  # value (ties!)
        ),
        min_size=2,
        max_size=30,
    ),
)
def test_kruskal_wallis_matches_bruteforce(spark, pts):
    """kruskal_wallis == the shared floored-decimal model on ANY
    grouped multiset: exact-integer doubled rank sums, SG floored
    per group, tie-corrected H rounded 6dp — NULL on degenerate
    k/N/correction exactly as documented."""
    from component_delta_lake_writer_spark.operators.experiments import (
        kruskal_wallis,
    )

    df = spark.createDataFrame(
        [(str(g), float(v)) for g, v in pts], "g string, v double"
    )
    r = kruskal_wallis(df, "g", "v").collect()[0]
    n_total = len(pts)
    groups = sorted({g for g, _ in pts})
    k = len(groups)
    assert (r.k_groups, r.n_rows) == (k, n_total)
    # brute midranks: 2·mr(v) = 2·(#strictly smaller) + t_v + 1
    from collections import Counter

    tie = Counter(v for _, v in pts)
    smaller = {
        v: sum(c for w, c in tie.items() if w < v) for v in tie
    }
    mr2 = {v: 2 * smaller[v] + tie[v] + 1 for v in tie}
    sg = 0
    for g in groups:
        vals = [v for gg, v in pts if gg == g]
        r2 = sum(mr2[v] for v in vals)          # = 2·R_g, exact int
        sg += (r2 * r2) // (4 * len(vals))      # floored term
    ties_sum = sum(c**3 - c for c in tie.values())
    corr = 1.0 - ties_sum / (
        float(n_total) * n_total * n_total - n_total
    )
    if k < 2 or n_total <= k or corr <= 0:
        assert r.h is None and r.significant == 0
        return
    h_raw = 12.0 / (float(n_total) * (n_total + 1)) * sg - 3.0 * (
        float(n_total) + 1
    )
    assert r.h == round(h_raw / corr, 6)


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    users=st.lists(
        st.tuples(
            st.booleans(),                           # arm
            st.integers(min_value=0, max_value=9),   # lifetime days
        ),
        min_size=4,
        max_size=25,
    ),
    tau=st.integers(min_value=1, max_value=12),
)
def test_rmst_matches_bruteforce(spark, users, tau):
    """rmst_two_arm == the brute step-function integral of each
    arm's KM curve (the operator's exact recipe: 9dp ln terms, 6dp
    survival, carried last value, dead-arm zero) on ANY two-arm
    lifetime multiset."""
    import datetime as dtm
    import math

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.sessions import (
        rmst_two_arm,
    )

    assume(len({a for a, _ in users}) == 2)
    d0 = dtm.datetime(2026, 3, 1, 9, 0)
    horizon = max(t for _, t in users)
    rows = []
    for i, (arm, t) in enumerate(users):
        uid = f"u{i}"
        a = "A" if arm else "B"
        rows += [(uid, a, d0), (uid, a, d0 + dtm.timedelta(days=t))]
    df = spark.createDataFrame(
        rows, "u string, arm string, ts timestamp"
    )
    r = rmst_two_arm(
        df, "u", "ts", "arm", tau_days=tau, censor_days=1
    ).collect()[0]

    lifetimes = [("A" if a else "B", t, t == horizon) for a, t in users]
    times = sorted({t for _, t, _ in lifetimes})

    def brute(arm):
        lnsum, dead, surv = 0.0, False, []
        for t in times:
            n = sum(1 for a, lt, _ in lifetimes if a == arm and lt >= t)
            d = sum(
                1 for a, lt, cen in lifetimes
                if a == arm and lt == t and not cen
            )
            if n > 0 and d == n:
                dead = True
            if n > 0 and d < n:
                lnsum += round(math.log(1.0 - d / n), 9)
            surv.append(0.0 if dead else round(math.exp(lnsum), 6))
        total = float(min(times[0], tau))
        for i, t in enumerate(times):
            nxt = times[i + 1] if i + 1 < len(times) else tau
            total += surv[i] * max(0, min(nxt, tau) - min(t, tau))
        return total

    assert (r.arm_a, r.arm_b) == ("A", "B")
    assert r.tau_days == tau
    assert r.rmst_a == pytest.approx(brute("A"), abs=1e-5)
    assert r.rmst_b == pytest.approx(brute("B"), abs=1e-5)
    assert r.rmst_diff == pytest.approx(
        r.rmst_a - r.rmst_b, abs=1e-9
    )


@pytest.mark.slow
@settings(
    max_examples=_ex(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cells=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # stratum
            st.booleans(),                           # arm
            st.integers(min_value=0, max_value=6),   # successes
            st.integers(min_value=0, max_value=6),   # failures
        ),
        min_size=2,
        max_size=10,
    ),
)
def test_mantel_haenszel_matches_bruteforce(spark, cells):
    """mantel_haenszel == the textbook stratified fold on ANY
    per-(stratum, arm) count table: OR_MH, the RBG interval and the
    CMH chi-square match a brute per-stratum loop (9dp term
    rounding replicated)."""
    import math

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.experiments import (
        mantel_haenszel,
    )

    # a (succ=0, fail=0) cell expands to no rows — require both arms
    # present AFTER expansion, or the operator rightly refuses
    present = {
        "A" if arm else "B"
        for _, arm, s_, f_ in cells
        if s_ + f_ > 0
    }
    assume(present == {"A", "B"})
    rows = []
    for st_, arm, succ, fail in cells:
        g = "A" if arm else "B"
        rows += [(str(st_), g, 1)] * succ + [(str(st_), g, 0)] * fail
    df = spark.createDataFrame(rows, "st string, g string, y int")
    r = mantel_haenszel(df, "st", "g", "y").collect()[0]

    # brute per-stratum 2x2 (orientation: arm 'A' on top)
    from collections import defaultdict

    t = defaultdict(lambda: [0, 0, 0, 0])
    for st_, g, y in rows:
        i = (0 if g == "A" else 2) + (0 if y else 1)
        t[st_][i] += 1
    R = S = PR = PSQR = QS = E = V = 0.0
    oa = N = 0
    k = 0
    for a, b, c, d in t.values():
        n = a + b + c + d
        if n == 0:
            continue
        k += 1
        N += n
        oa += a
        R += round(a * d / n, 9)
        S += round(b * c / n, 9)
        p, q = (a + d) / n, (b + c) / n
        PR += round(p * (a * d / n), 9)
        PSQR += round(p * (b * c / n) + q * (a * d / n), 9)
        QS += round(q * (b * c / n), 9)
        E += round((a + b) * (a + c) / n, 9)
        V += round(
            (a + b) * (c + d) * (a + c) * (b + d)
            / (n * n * (n - 1)),
            9,
        ) if n > 1 else 0.0
    assert (r.n_strata, r.n_rows) == (k, N)
    if R > 0 and S > 0:
        assert r.or_mh == pytest.approx(R / S, abs=1e-5)
        se = math.sqrt(
            PR / (2 * R * R) + PSQR / (2 * R * S) + QS / (2 * S * S)
        )
        lo = math.exp(math.log(R / S) - 1.959964 * se)
        hi = math.exp(math.log(R / S) + 1.959964 * se)
        assert r.ci_lo == pytest.approx(lo, abs=1e-4)
        assert r.ci_hi == pytest.approx(hi, abs=1e-4)
    else:
        assert r.or_mh is None
    if V > 0:
        assert r.cmh_chi2 == pytest.approx(
            (oa - E) ** 2 / V, abs=1e-4
        )
    else:
        assert r.cmh_chi2 is None and r.significant == 0


@pytest.mark.slow
@settings(
    max_examples=_ex(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # ordered group
            st.integers(min_value=0, max_value=4),  # value (ties!)
        ),
        min_size=2,
        max_size=25,
    ),
)
def test_jonckheere_matches_bruteforce(spark, pts):
    """jonckheere_terpstra == brute cross-group pair counting with
    half-weighted ties, and the Hollander-Wolfe tie-corrected null
    moments, on ANY ordered grouped multiset."""
    import math

    from component_delta_lake_writer_spark.operators.experiments import (
        jonckheere_terpstra,
    )

    df = spark.createDataFrame(
        [(str(g), float(v)) for g, v in pts], "g string, v double"
    )
    r = jonckheere_terpstra(
        df, "g", "v", ["0", "1", "2"]
    ).collect()[0]
    n_total = len(pts)
    j = 0.0
    for gi, vi in pts:
        for gj, vj in pts:
            if gi < gj:
                j += 1.0 if vi < vj else (0.5 if vi == vj else 0.0)
    assert r.j_stat == j
    from collections import Counter

    gn = Counter(g for g, _ in pts)
    tv = Counter(v for _, v in pts)
    e = (n_total**2 - sum(n * n for n in gn.values())) / 4.0
    assert r.e_j == e
    na = sum(n * (n - 1) * (2 * n + 5) for n in gn.values())
    ta = sum(t * (t - 1) * (2 * t + 5) for t in tv.values())
    var = (n_total * (n_total - 1) * (2 * n_total + 5) - na - ta) / 72.0
    if n_total > 2:
        var += (
            sum(n * (n - 1) * (n - 2) for n in gn.values())
            * sum(t * (t - 1) * (t - 2) for t in tv.values())
            / (36.0 * n_total * (n_total - 1) * (n_total - 2))
        )
    if n_total > 1:
        var += (
            sum(n * (n - 1) for n in gn.values())
            * sum(t * (t - 1) for t in tv.values())
            / (8.0 * n_total * (n_total - 1))
        )
    if var > 0:
        assert r.z == pytest.approx(
            (j - e) / math.sqrt(var), abs=1e-5
        )
    else:
        assert r.z is None and r.significant == 0


@pytest.mark.slow
@settings(
    max_examples=_ex(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.booleans(),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=30,
    ),
)
def test_pr_auc_matches_bruteforce(spark, pts):
    """pr_auc == the brute descending-block average precision (the
    sklearn tie convention) with the shared 9dp term rounding, on
    ANY labeled multiset."""
    from component_delta_lake_writer_spark.operators.experiments import (
        pr_auc,
    )

    df = spark.createDataFrame(
        [(int(y), float(s)) for y, s in pts], "y int, s double"
    )
    r = pr_auc(df, "y", "s").collect()[0]
    pos = sum(1 for y, _ in pts if y)
    if pos == 0:
        assert r.pr_auc is None
        return
    from collections import Counter

    t = Counter(s for _, s in pts)
    tp = Counter(s for y, s in pts if y)
    cum_t = cum_tp = 0
    total = 0.0
    for s in sorted(t, reverse=True):
        cum_t += t[s]
        cum_tp += tp.get(s, 0)
        total += round(tp.get(s, 0) * cum_tp / cum_t, 9)
    assert r.pr_auc == pytest.approx(total / pos, abs=2e-9)
    assert (r.n_pos, r.n_neg) == (pos, len(pts) - pos)


@pytest.mark.slow
@settings(
    max_examples=_ex(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cells=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # stratum
            st.booleans(),                           # arm
            st.integers(min_value=1, max_value=6),   # successes
            st.integers(min_value=1, max_value=6),   # failures
        ),
        min_size=4,
        max_size=10,
    ),
)
def test_breslow_day_matches_bruteforce(spark, cells):
    """breslow_day == the closed-form quadratic fit replicated in
    Python on ANY stratified table — AND the fitted counts satisfy
    the defining invariant ã·d̃/(b̃·c̃) = ψ̂ (the root-selection
    check no shared-formula replay can fake)."""
    import math

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.experiments import (
        breslow_day,
    )

    present = {
        "A" if arm else "B" for _, arm, _, _ in cells
    }
    assume(present == {"A", "B"})
    rows = []
    for st_, arm, succ, fail in cells:
        g = "A" if arm else "B"
        rows += [(str(st_), g, 1)] * succ + [(str(st_), g, 0)] * fail
    df = spark.createDataFrame(rows, "st string, g string, y int")
    r = breslow_day(df, "st", "g", "y").collect()[0]

    from collections import defaultdict

    t = defaultdict(lambda: [0, 0, 0, 0])
    for st_, g, y in rows:
        t[st_][(0 if g == "A" else 2) + (0 if y else 1)] += 1
    R = S = 0.0
    for a, b, c, d in t.values():
        n = a + b + c + d
        R += round(a * d / n, 9)
        S += round(b * c / n, 9)
    if S == 0 or R == 0:
        assert r.chi2 is None or r.df == 0
        return
    psi = R / S
    chi = dev = vs = 0.0
    k_inf = 0
    for a, b, c, d in t.values():
        n = a + b + c + d
        r1, c1 = a + b, a + c
        if not (0 < r1 < n and 0 < c1 < n):
            continue
        k_inf += 1
        tt = psi * (r1 + c1) + (n - r1 - c1)
        if abs(psi - 1) < 1e-12:
            af = psi * r1 * c1 / tt
        else:
            af = (
                tt
                - math.sqrt(
                    max(tt * tt - 4.0 * (psi - 1) * psi * r1 * c1, 0)
                )
            ) / (2.0 * (psi - 1))
        # root-selection invariant: the fitted table reproduces psi
        bf, cf, df_ = r1 - af, c1 - af, n - r1 - c1 + af
        assert 0 < af < min(r1, c1) + 1e-9
        assert abs(af * df_ / (bf * cf) - psi) < 1e-6 * max(psi, 1)
        vf = 1.0 / (1 / af + 1 / bf + 1 / cf + 1 / df_)
        chi += round((a - af) ** 2 / vf, 9)
        dev += round(a - af, 9)
        vs += round(vf, 9)
    if k_inf < 2:
        assert r.chi2 is None and r.significant == 0
        return
    expected = chi - (dev * dev / vs if vs > 0 else 0.0)
    assert r.chi2 == pytest.approx(expected, abs=1e-4)
    assert r.df == k_inf - 1


@pytest.mark.slow
@settings(
    max_examples=_ex(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    diffs=st.lists(
        st.integers(min_value=-4, max_value=4),
        min_size=1,
        max_size=30,
    ),
)
def test_wilcoxon_signed_matches_bruteforce(spark, diffs):
    """wilcoxon_signed_rank == the brute |d|-midrank fold with the
    standard zero-drop and tie correction, on ANY paired diff
    multiset."""
    import math

    from component_delta_lake_writer_spark.operators.experiments import (
        wilcoxon_signed_rank,
    )

    df = spark.createDataFrame(
        [(float(d), 0.0) for d in diffs], "x double, y double"
    )
    r = wilcoxon_signed_rank(df, "x", "y").collect()[0]
    nz = [d for d in diffs if d != 0]
    assert (r.n_pairs, r.n_nonzero) == (len(diffs), len(nz))
    if not nz:
        assert r.z is None and r.w_plus is None
        return
    from collections import Counter

    tie = Counter(abs(d) for d in nz)
    smaller = {
        v: sum(c for w, c in tie.items() if w < v) for v in tie
    }
    wp = sum(
        (2 * smaller[abs(d)] + tie[abs(d)] + 1) / 2.0
        for d in nz
        if d > 0
    )
    assert r.w_plus == wp
    m = len(nz)
    var = m * (m + 1) * (2 * m + 1) / 24.0 - sum(
        c**3 - c for c in tie.values()
    ) / 48.0
    if var > 0:
        mu = m * (m + 1) / 4.0
        assert r.z == pytest.approx(
            (wp - mu) / math.sqrt(var), abs=1e-5
        )
    else:
        assert r.z is None


@pytest.mark.slow
@settings(
    max_examples=_ex(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # group
            st.integers(min_value=0, max_value=6),  # value (ties!)
        ),
        min_size=3,
        max_size=30,
    ),
)
def test_brown_forsythe_matches_bruteforce(spark, pts):
    """brown_forsythe == the shared floored-decimal model on ANY
    grouped multiset: exact interpolated per-group medians, |z|
    deviations, the anova grand-sum floor rule."""
    import math

    from component_delta_lake_writer_spark.operators.experiments import (
        brown_forsythe,
    )

    df = spark.createDataFrame(
        [(str(g), float(v)) for g, v in pts], "g string, v double"
    )
    r = brown_forsythe(df, "g", "v").collect()[0]
    groups = sorted({g for g, _ in pts})
    k = len(groups)
    n_total = len(pts)
    assert (r.k_groups, r.n_rows) == (k, n_total)
    S = SS = SG = 0.0
    for g in groups:
        vals = sorted(v for gg, v in pts if gg == g)
        n = len(vals)
        med = (
            vals[(n + 1) // 2 - 1] + vals[(n + 2) // 2 - 1]
        ) / 2.0
        zs = [abs(v - med) for v in vals]
        s_g = sum(zs)                      # multiples of 0.5: exact
        ss_g = sum(z * z for z in zs)      # multiples of 0.25
        S += s_g
        SS += math.floor(ss_g)
        SG += math.floor(s_g * s_g / n)
    ssb = SG - S * S / n_total
    ssw = SS - SG
    if k < 2 or n_total <= k or ssw <= 0:
        assert r.f is None and r.significant == 0
        return
    expected = (ssb / (k - 1)) / (ssw / (n_total - k))
    assert r.f == pytest.approx(expected, abs=1e-4)


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    blocks=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=2,
        max_size=25,
    ),
)
def test_friedman_matches_bruteforce(spark, blocks):
    """friedman_test == the textbook tie-corrected statistic
    computed with sorted-midrank ranks in plain Python on ANY
    k=3 score multiset (heavy ties by construction):
    Q = (k−1)·Σ(R_j − n(k+1)/2)² / (Σr² − nk(k+1)²/4)."""
    from component_delta_lake_writer_spark.operators.experiments import (
        friedman_test,
    )

    df = spark.createDataFrame(
        blocks, "s1 long, s2 long, s3 long"
    )
    r = friedman_test(df, ["s1", "s2", "s3"]).collect()[0]

    k, n = 3, len(blocks)
    col_sums = [0.0, 0.0, 0.0]
    a = 0.0
    for row in blocks:
        ranks = []
        for i, v in enumerate(row):
            less = sum(1 for w in row if w < v)
            eq = sum(1 for w in row if w == v)
            ranks.append(less + (eq + 1) / 2.0)
        for j, rk in enumerate(ranks):
            col_sums[j] += rk
            a += rk * rk
    c = n * k * (k + 1) ** 2 / 4.0
    den = a - c
    assert r.k_treatments == k and r.n_blocks == n
    if den <= 0:
        assert r.chi2 is None and r.significant == 0
    else:
        num = sum((rj - n * (k + 1) / 2.0) ** 2 for rj in col_sums)
        expect = (k - 1) * num / den
        assert r.chi2 == pytest.approx(expect, abs=2e-6)
        assert r.significant == int(r.chi2 > 5.991464547)


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    subjects=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),   # time
            st.booleans(),                           # event
            st.integers(min_value=0, max_value=4),   # risk score
        ),
        min_size=2,
        max_size=30,
    ),
)
def test_concordance_index_matches_bruteforce(spark, subjects):
    """concordance_index == the O(n²) pair walk on ANY small
    (time, event, score) multiset: usable = t_i<t_j with i's event
    observed; concordant = shorter-lived scored higher; score ties
    half-weighted."""
    from component_delta_lake_writer_spark.operators.sessions import (
        concordance_index,
    )

    rows = [(t, int(e), s) for t, e, s in subjects]
    df = spark.createDataFrame(rows, "t long, e long, s long")
    r = concordance_index(df, "t", "e", "s").collect()[0]

    pairs = conc2 = 0
    for i, (ti, ei, si) in enumerate(rows):
        if not ei:
            continue
        for j, (tj, _ej, sj) in enumerate(rows):
            if tj > ti:
                pairs += 1
                if si > sj:
                    conc2 += 2
                elif si == sj:
                    conc2 += 1
    assert r.n_subjects == len(rows)
    assert r.n_events == sum(e for _, e, _ in rows)
    assert r.n_pairs == pairs
    if pairs == 0:
        assert r.c_index is None
    else:
        assert r.c_index == pytest.approx(
            conc2 / (2.0 * pairs), abs=1e-6
        )


@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    subjects=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),        # time
            st.sampled_from([None, "a", "b"]),            # cause
        ),
        min_size=2,
        max_size=30,
    ),
)
def test_cumulative_incidence_matches_bruteforce(spark, subjects):
    """cumulative_incidence == the textbook Aalen–Johansen fold in
    plain Python on ANY (time, cause) multiset: all-cause KM as the
    discount, CIF_k(t) = Σ_{s≤t} S(s−)·d_k(s)/n(s) — and the
    curves partition: Σ_k CIF_k at the horizon ≈ 1 − S."""
    import math

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.sessions import (
        cumulative_incidence,
    )

    assume(any(c is not None for _, c in subjects))
    df = spark.createDataFrame(
        [(t, c) for t, c in subjects], "t long, cause string"
    )
    got = {
        (r.cause, r.t_days): r
        for r in cumulative_incidence(df, "t", "cause").collect()
    }

    times = sorted({t for t, _ in subjects})
    cif = {}
    s_run = 0.0   # Σ rounded ln terms, the operator's staging
    for t in times:
        n = sum(1 for tt, _ in subjects if tt >= t)
        d = sum(1 for tt, c in subjects if tt == t and c is not None)
        s_minus = math.exp(s_run)
        for k in ("a", "b"):
            dk = sum(
                1 for tt, c in subjects if tt == t and c == k
            )
            if dk:
                inc = round(s_minus * dk / n, 9)
                cif[k] = cif.get(k, 0.0) + inc
                r = got[(k, t)]
                assert r.n_at_risk == n and r.n_deaths == dk
                assert r.cif == pytest.approx(cif[k], abs=2e-6)
        if d < n:
            s_run += round(math.log(1.0 - d / n), 9)
        else:
            s_run = float("-inf")
    expect_rows = {
        (c, t) for t, c in subjects if c is not None
    }
    assert set(got) == expect_rows
    # partition property at the horizon
    total = sum(cif.values())
    s_end = 0.0 if s_run == float("-inf") else math.exp(s_run)
    assert total + s_end == pytest.approx(1.0, abs=1e-5)


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    users=st.lists(
        st.tuples(
            st.booleans(),                           # arm
            st.integers(min_value=0, max_value=9),   # lifetime days
        ),
        min_size=4,
        max_size=25,
    ),
)
def test_fleming_harrington_matches_bruteforce(spark, users):
    """fleming_harrington_test(1,1) == the FH-weighted brute fold
    on ANY two-arm lifetime multiset with the operator's exact
    staging: pooled-KM S(t−) from 9dp-rounded ln terms, w =
    S(1−S) rounded 9dp, per-time U/V terms rounded then summed."""
    import datetime as dtm
    import math

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.sessions import (
        fleming_harrington_test,
    )

    assume(len({a for a, _ in users}) == 2)
    d0 = dtm.datetime(2026, 3, 1, 9, 0)
    horizon = max(t for _, t in users)
    rows = []
    for i, (arm, t) in enumerate(users):
        uid = f"u{i}"
        a = "A" if arm else "B"
        rows += [(uid, a, d0), (uid, a, d0 + dtm.timedelta(days=t))]
    df = spark.createDataFrame(rows, "u string, arm string, ts timestamp")
    r = fleming_harrington_test(
        df, "u", "ts", "arm", rho=1, gamma=1, censor_days=1
    ).collect()[0]

    lifetimes = [("A" if a else "B", t, t == horizon) for a, t in users]
    all_times = sorted({t for _, t, _ in lifetimes})
    u = v = 0.0
    lnsum = 0.0
    n_times = 0
    for t in all_times:
        na = sum(1 for a, lt, _ in lifetimes if a == "A" and lt >= t)
        nb = sum(1 for a, lt, _ in lifetimes if a == "B" and lt >= t)
        nt = na + nb
        dt_ = sum(1 for _, lt, cen in lifetimes if lt == t and not cen)
        da = sum(
            1 for a, lt, cen in lifetimes
            if a == "A" and lt == t and not cen
        )
        sm = math.exp(lnsum)
        wt = round(1.0 * sm * (1.0 - sm), 9)
        if dt_ > 0:
            n_times += 1
            u += round(wt * (da - dt_ * na / nt), 9)
            if nt > 1:
                v += round(
                    wt * wt * dt_ * na / nt * (nt - na) / nt
                    * (nt - dt_) / (nt - 1.0),
                    9,
                )
        if dt_ < nt:
            lnsum += round(math.log(1.0 - dt_ / nt), 9)
    assert r.n_times == n_times
    if n_times == 0:
        # no death time at all: U is an empty sum — NULL on both
        # engines (the logrank e_a convention), not 0
        assert r.u_stat is None
    else:
        assert r.u_stat == pytest.approx(round(u, 6), abs=2e-6)
    if v > 0:
        assert r.z == pytest.approx(u / math.sqrt(v), abs=2e-6)
    else:
        assert r.z is None


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    blocks=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=2,
        max_size=25,
    ),
)
def test_page_trend_matches_bruteforce(spark, blocks):
    """page_trend_test == the permutation-form linear rank
    statistic in plain Python on ANY k=3 multiset: L = Σ j·R_j
    over sorted midranks, E = nk(k+1)²/4, tie-exact
    Var = k(k+1)/12·(A−C) — which reduces to the textbook
    n·k²(k+1)(k²−1)/144 when no block has ties."""
    import math

    from component_delta_lake_writer_spark.operators.experiments import (
        page_trend_test,
    )

    df = spark.createDataFrame(blocks, "s1 long, s2 long, s3 long")
    r = page_trend_test(df, ["s1", "s2", "s3"]).collect()[0]

    k, n = 3, len(blocks)
    l_stat = a = 0.0
    for row in blocks:
        for j, v in enumerate(row):
            less = sum(1 for w in row if w < v)
            eq = sum(1 for w in row if w == v)
            rk = less + (eq + 1) / 2.0
            l_stat += (j + 1) * rk
            a += rk * rk
    c = n * k * (k + 1) ** 2 / 4.0
    den = a - c
    assert r.k_treatments == k and r.n_blocks == n
    assert r.l_stat == pytest.approx(l_stat, abs=1e-9)
    if den <= 0:
        assert r.z is None and r.significant == 0
    else:
        e = n * k * (k + 1) ** 2 / 4.0
        var = k * (k + 1) / 12.0 * den
        assert r.z == pytest.approx(
            (l_stat - e) / math.sqrt(var), abs=2e-6
        )
        if all(len({*row}) == 3 for row in blocks):
            assert var == pytest.approx(
                n * k * k * (k + 1) * (k * k - 1) / 144.0
            )


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.booleans(),                           # arm
            st.integers(min_value=0, max_value=5),   # value
        ),
        min_size=2,
        max_size=30,
    ),
)
def test_cliffs_delta_matches_bruteforce(spark, rows):
    """cliffs_delta == the O(n²) pair walk on ANY two-arm value
    multiset: δ = (#{a>b} − #{a<b})/(n_a·n_b), ties counted."""
    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.experiments import (
        cliffs_delta,
    )

    assume(len({a for a, _ in rows}) == 2)
    data = [("0" if not a else "1", v) for a, v in rows]
    df = spark.createDataFrame(data, "g string, v long")
    r = cliffs_delta(df, "g", "v").collect()[0]

    avals = [v for g, v in data if g == "0"]
    bvals = [v for g, v in data if g == "1"]
    gt = sum(1 for x in avals for y in bvals if x > y)
    lt = sum(1 for x in avals for y in bvals if x < y)
    tie = sum(1 for x in avals for y in bvals if x == y)
    assert r.n_a == len(avals) and r.n_b == len(bvals)
    assert r.n_tied_pairs == tie
    expect = (gt - lt) / (len(avals) * len(bvals))
    assert r.delta == pytest.approx(expect, abs=1e-6)
    cuts = [(0.147, "negligible"), (0.33, "small"),
            (0.474, "medium")]
    mag = next(
        (m for c, m in cuts if abs(r.delta) < c), "large"
    )
    assert r.magnitude == mag


@pytest.mark.slow
@settings(
    max_examples=_ex(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    counts=st.lists(
        st.integers(min_value=0, max_value=4),
        min_size=2,
        max_size=12,
    ),
)
def test_mann_kendall_matches_bruteforce(spark, counts):
    """mann_kendall_hourly == the textbook statistic in plain
    Python on ANY small hourly series: S = Σ sgn pairs, tie-
    corrected variance, ±1 continuity correction."""
    import datetime as dtm
    import math

    from component_delta_lake_writer_spark.operators.timeseries import (
        mann_kendall_hourly,
    )

    t0 = dtm.datetime(2026, 4, 1, 0, 0)
    rows = []
    eid = 0
    for h, c in enumerate(counts):
        # one sentinel event pins every bucket; c extra on top
        for _ in range(c + 1):
            rows.append((eid, t0 + dtm.timedelta(hours=h)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    r = mann_kendall_hourly(df, "ts").collect()[0]

    ys = [c + 1 for c in counts]
    n = len(ys)
    s = sum(
        (ys[j] > ys[i]) - (ys[j] < ys[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    tie = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(ys).values()
    )
    var = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
    assert r.n_buckets == n and r.s_stat == s
    assert r.trending == (s > 0) - (s < 0)
    if var <= 0:
        assert r.z is None
    else:
        zz = (
            (s - 1) / math.sqrt(var)
            if s > 0
            else (s + 1) / math.sqrt(var) if s < 0 else 0.0
        )
        assert r.z == pytest.approx(zz, abs=2e-6)


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=2,
        max_size=30,
    ),
)
def test_kendall_tau_matches_bruteforce(spark, rows):
    """kendall_tau == the O(n²) pair walk on ANY bucketed (x, y)
    multiset: P/Q concordant-discordant counts, tie-corrected
    τ-b denominator."""
    import math

    from component_delta_lake_writer_spark.operators.experiments import (
        kendall_tau,
    )

    df = spark.createDataFrame(rows, "x long, y long")
    r = kendall_tau(df, "x", "y").collect()[0]

    n = len(rows)
    p = q = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = rows[j][0] - rows[i][0]
            dy = rows[j][1] - rows[i][1]
            s = dx * dy
            if s > 0:
                p += 1
            elif s < 0:
                q += 1
    from collections import Counter

    n0 = n * (n - 1) / 2
    n1 = sum(
        t * (t - 1) / 2
        for t in Counter(x for x, _ in rows).values()
    )
    n2 = sum(
        t * (t - 1) / 2
        for t in Counter(y for _, y in rows).values()
    )
    assert r.n_rows == n
    assert r.n_concordant == p and r.n_discordant == q
    den = (n0 - n1) * (n0 - n2)
    if den <= 0:
        assert r.tau_b is None and r.significant == 0
    else:
        tau = (p - q) / math.sqrt(den)
        assert r.tau_b == pytest.approx(tau, abs=2e-6)
        var_a = 2 * (2 * n + 5) / (9 * n * (n - 1))
        assert r.z == pytest.approx(
            tau / math.sqrt(var_a), abs=2e-5
        )


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ps=st.lists(
        st.integers(min_value=0, max_value=1000),
        min_size=1,
        max_size=25,
    ),
)
def test_benjamini_yekutieli_matches_bruteforce(spark, ps):
    """benjamini_yekutieli == the textbook step-up with the
    harmonic factor on ANY p-multiset — and it is uniformly at
    least as conservative as BH on the same inputs."""
    from component_delta_lake_writer_spark.operators.experiments import (
        benjamini_hochberg,
        benjamini_yekutieli,
    )

    rows = [(str(i), p / 1000.0) for i, p in enumerate(ps)]
    df = spark.createDataFrame(rows, "t string, p double")
    got = {
        r.test_id: r
        for r in benjamini_yekutieli(df, "t", "p").collect()
    }
    bh = {
        r.test_id: r
        for r in benjamini_hochberg(df, "t", "p").collect()
    }

    m = len(rows)
    c = 0.0
    for j in range(1, m + 1):
        c += 1.0 / j
    mc = float(m) * c
    from decimal import ROUND_HALF_UP, Decimal

    def round_half_up(x, nd):
        # the engines' ROUND on doubles: HALF_UP on the shortest
        # decimal repr — Python's round() is half-even and differs
        # at exact .5 boundaries (the harmonic factor makes them
        # reachable here)
        return float(
            Decimal(repr(x)).quantize(
                Decimal(f"1e-{nd}"), ROUND_HALF_UP
            )
        )

    order = sorted(rows, key=lambda r: (r[1], r[0]))
    s = [mc * p / (i + 1) for i, (_, p) in enumerate(order)]
    suffix = [0.0] * m
    run = None
    for i in range(m - 1, -1, -1):
        run = s[i] if run is None else min(run, s[i])
        suffix[i] = min(1.0, run)
    for i, (tid, _p) in enumerate(order):
        assert got[tid].p_rank == i + 1
        assert got[tid].q_value == pytest.approx(
            round_half_up(suffix[i], 6), abs=1e-9
        )
        assert got[tid].q_value >= bh[tid].q_value - 1e-9
        assert got[tid].reject == int(
            round_half_up(suffix[i], 9) <= 0.05
        )
        # BY rejecting implies BH rejecting (monotone conservatism)
        if got[tid].reject:
            assert bh[tid].reject == 1


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ps=st.lists(
        st.integers(min_value=0, max_value=1000),
        min_size=1,
        max_size=25,
    ),
)
def test_holm_bonferroni_matches_bruteforce(spark, ps):
    """holm_bonferroni == the textbook step-down adjusted p on ANY
    p-multiset — and FWER control is at least as strict as BH's
    FDR on the same inputs (holm rejections ⊆ BH rejections)."""
    from component_delta_lake_writer_spark.operators.experiments import (
        benjamini_hochberg,
        holm_bonferroni,
    )

    rows = [(str(i), p / 1000.0) for i, p in enumerate(ps)]
    df = spark.createDataFrame(rows, "t string, p double")
    got = {
        r.test_id: r for r in holm_bonferroni(df, "t", "p").collect()
    }
    bh = {
        r.test_id: r
        for r in benjamini_hochberg(df, "t", "p").collect()
    }

    m = len(rows)
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    s = [(m - i) * p for i, (_, p) in enumerate(order)]
    run = 0.0
    for i, (tid, p) in enumerate(order):
        run = max(run, s[i])
        adj = min(1.0, run)
        assert got[tid].p_rank == i + 1
        assert got[tid].p_adjusted == pytest.approx(
            round(adj, 6), abs=1e-9
        )
        assert got[tid].reject == int(round(adj, 9) <= 0.05)
        if got[tid].reject:
            assert bh[tid].reject == 1


@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.booleans(),                            # arm
            st.integers(min_value=0, max_value=10),   # value
        ),
        min_size=2,
        max_size=30,
    ),
)
def test_wasserstein_matches_bruteforce(spark, rows):
    """wasserstein_1d == the CDF-area integral computed in plain
    Python on ANY two-arm value multiset — and it equals the mean
    absolute difference of sorted quantile functions when the
    arms are equal-sized (the transport identity)."""
    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.experiments import (
        wasserstein_1d,
    )

    assume(len({a for a, _ in rows}) == 2)
    data = [("0" if not a else "1", v) for a, v in rows]
    df = spark.createDataFrame(data, "g string, v long")
    r = wasserstein_1d(df, "g", "v").collect()[0]

    avals = sorted(v for g, v in data if g == "0")
    bvals = sorted(v for g, v in data if g == "1")
    na, nb = len(avals), len(bvals)
    vals = sorted({v for _, v in data})
    w = 0.0
    for k in range(len(vals) - 1):
        gap = vals[k + 1] - vals[k]
        fa = sum(1 for x in avals if x <= vals[k])
        fb = sum(1 for x in bvals if x <= vals[k])
        w += gap * abs(fa * nb - fb * na)
    w /= na * nb
    assert r.n_a == na and r.n_b == nb
    assert r.wasserstein == pytest.approx(round(w, 6), abs=1e-9)
    if na == nb:
        transport = sum(
            abs(x - y) for x, y in zip(avals, bvals)
        ) / na
        assert r.wasserstein == pytest.approx(
            transport, abs=1e-6
        )


@pytest.mark.slow
@settings(
    max_examples=_ex(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # group
            st.integers(min_value=0, max_value=4),   # value
        ),
        min_size=6,
        max_size=30,
    ),
)
def test_dunn_posthoc_matches_bruteforce(spark, rows):
    """dunn_posthoc == the textbook pooled-midrank pairwise z on
    ANY small k-group multiset (ties everywhere), with the
    tie-corrected variance."""
    import math

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.experiments import (
        dunn_posthoc,
        inv_normal_upper,
    )

    groups = sorted({g for g, _ in rows})
    assume(len(groups) >= 2)
    data = [(str(g), v) for g, v in rows]
    df = spark.createDataFrame(data, "g string, v long")
    got = {
        (r.group_a, r.group_b): r
        for r in dunn_posthoc(df, "g", "v").collect()
    }

    n = len(data)
    pooled = sorted(v for _, v in data)
    rk = {}
    for v in set(pooled):
        lo = sum(1 for x in pooled if x < v)
        t = sum(1 for x in pooled if x == v)
        rk[v] = lo + (t + 1) / 2.0
    from collections import Counter

    tcnt = Counter(pooled)
    tt = sum(t ** 3 - t for t in tcnt.values())
    vc = n * (n + 1) / 12.0 - tt / (12.0 * (n - 1))
    k = len(groups)
    m = k * (k - 1) // 2
    zc = inv_normal_upper(0.05 / 2.0 / m)
    for i, gi in enumerate(groups):
        for gj in groups[i + 1:]:
            vi = [v for g, v in data if g == str(gi)]
            vj = [v for g, v in data if g == str(gj)]
            r = got[(str(gi), str(gj))]
            ri = sum(rk[v] for v in vi) / len(vi)
            rj = sum(rk[v] for v in vj) / len(vj)
            assert r.mean_rank_a == pytest.approx(ri, abs=1e-6)
            assert r.mean_rank_b == pytest.approx(rj, abs=1e-6)
            if vc <= 0:
                assert r.z is None
            else:
                z = (ri - rj) / math.sqrt(
                    vc * (1 / len(vi) + 1 / len(vj))
                )
                assert r.z == pytest.approx(z, abs=2e-6)
                assert r.significant == int(abs(r.z) > zc)


@pytest.mark.slow
@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.booleans(),                           # arm
            st.integers(min_value=0, max_value=5),   # value
        ),
        min_size=6,
        max_size=30,
    ),
)
def test_brunner_munzel_matches_bruteforce(spark, rows):
    """brunner_munzel == the lawstat-style direct computation on
    ANY two-arm multiset: pooled/within midranks per observation,
    per-arm rank variances, Satterthwaite df."""
    import math

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.experiments import (
        brunner_munzel,
    )

    assume(len({a for a, _ in rows}) == 2)
    assume(sum(1 for a, _ in rows if not a) >= 2)
    assume(sum(1 for a, _ in rows if a) >= 2)
    data = [("0" if not a else "1", v) for a, v in rows]
    df = spark.createDataFrame(data, "g string, v long")
    r = brunner_munzel(df, "g", "v").collect()[0]

    x = [v for g, v in data if g == "0"]
    y = [v for g, v in data if g == "1"]
    n1, n2 = len(x), len(y)
    pooled = x + y

    def midranks(vals, within):
        return [
            sum(1 for u in within if u < v)
            + (sum(1 for u in within if u == v) + 1) / 2.0
            for v in vals
        ]

    rx = midranks(x, pooled)
    ry = midranks(y, pooled)
    rxx = midranks(x, x)
    ryy = midranks(y, y)
    rbar1 = sum(rx) / n1
    rbar2 = sum(ry) / n2
    s1 = sum(
        (rx[k] - rxx[k] - rbar1 + (n1 + 1) / 2.0) ** 2
        for k in range(n1)
    ) / (n1 - 1)
    s2 = sum(
        (ry[k] - ryy[k] - rbar2 + (n2 + 1) / 2.0) ** 2
        for k in range(n2)
    ) / (n2 - 1)
    assert r.n_a == n1 and r.n_b == n2
    assert r.p_hat == pytest.approx(
        (rbar2 - (n2 + 1) / 2.0) / n1, abs=1e-6
    )
    den = n1 * s1 + n2 * s2
    if den <= 0:
        assert r.w is None
    else:
        w = (
            n1 * n2 * (rbar2 - rbar1)
            / ((n1 + n2) * math.sqrt(den))
        )
        assert r.w == pytest.approx(w, abs=2e-6)
        dof = den ** 2 / (
            (n1 * s1) ** 2 / (n1 - 1) + (n2 * s2) ** 2 / (n2 - 1)
        )
        assert r.df == pytest.approx(dof, abs=0.02)


@pytest.mark.slow
@settings(
    max_examples=_ex(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    users=st.lists(
        st.tuples(
            st.booleans(),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=6,
        max_size=25,
    ),
)
def test_ph_assumption_matches_bruteforce(spark, users):
    """ph_assumption_check == the brute two-half score fold on ANY
    two-arm lifetime multiset: median-split, per-half
    (O−E)/V ln-HR estimates, interaction z."""
    import datetime as dtm
    import math

    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.sessions import (
        ph_assumption_check,
    )

    assume(len({a for a, _ in users}) == 2)
    horizon = max(t for _, t in users)
    assume(any(t < horizon for _, t in users))
    d0 = dtm.datetime(2026, 3, 1, 9, 0)
    rows = []
    for i, (arm, t) in enumerate(users):
        uid = f"u{i}"
        a = "A" if arm else "B"
        rows += [(uid, a, d0), (uid, a, d0 + dtm.timedelta(days=t))]
    df = spark.createDataFrame(
        rows, "u string, arm string, ts timestamp"
    )
    r = ph_assumption_check(
        df, "u", "ts", "arm", censor_days=1
    ).collect()[0]

    lifetimes = [("A" if a else "B", t, t == horizon) for a, t in users]
    death_times = sorted({t for _, t, c in lifetimes if not c})
    dmass = {
        t: sum(
            1 for _, lt, c in lifetimes if lt == t and not c
        )
        for t in death_times
    }
    tot = sum(dmass.values())
    cum = 0
    st = None
    for t in death_times:
        cum += dmass[t]
        if 2 * cum >= tot:
            st = t
            break
    assert r.split_t_days == st
    halves = {1: [0, 0.0, 0.0], 2: [0, 0.0, 0.0]}
    for t in death_times:
        na = sum(1 for a, lt, _ in lifetimes if a == "A" and lt >= t)
        nb = sum(1 for a, lt, _ in lifetimes if a == "B" and lt >= t)
        nt = na + nb
        dt_ = dmass[t]
        da = sum(
            1 for a, lt, c in lifetimes
            if a == "A" and lt == t and not c
        )
        h = 1 if t <= st else 2
        halves[h][0] += da
        halves[h][1] += round(dt_ * na / nt, 9)
        if nt > 1:
            halves[h][2] += round(
                dt_ * na / nt * (nt - na) / nt * (nt - dt_)
                / (nt - 1.0),
                9,
            )
    v1, v2 = halves[1][2], halves[2][2]
    if v1 <= 0 or v2 <= 0:
        assert r.z is None
    else:
        b1 = (halves[1][0] - halves[1][1]) / v1
        b2 = (halves[2][0] - halves[2][1]) / v2
        z = (b1 - b2) / math.sqrt(1 / v1 + 1 / v2)
        assert r.lnhr_early == pytest.approx(b1, abs=2e-6)
        assert r.lnhr_late == pytest.approx(b2, abs=2e-6)
        assert r.z == pytest.approx(z, abs=2e-6)


@settings(
    max_examples=_ex(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # group
            st.integers(min_value=0, max_value=50),   # value
        ),
        min_size=6,
        max_size=30,
    ),
)
def test_welch_anova_matches_bruteforce(spark, rows):
    """welch_anova == the textbook Welch F* and Satterthwaite df
    computed in plain Python on ANY small k-group multiset."""
    from hypothesis import assume

    from component_delta_lake_writer_spark.operators.experiments import (
        welch_anova,
    )

    groups = sorted({g for g, _ in rows})
    assume(len(groups) >= 2)
    by_g = {
        str(g): [float(v) for gg, v in rows if gg == g]
        for g in groups
    }
    assume(all(len(v) >= 2 for v in by_g.values()))
    data = [(str(g), float(v)) for g, v in rows]
    df = spark.createDataFrame(data, "g string, v double")
    r = welch_anova(df, "g", "v").collect()[0]

    k = len(by_g)
    assert r.k_groups == k and r.n_rows == len(data)
    means = {g: sum(v) / len(v) for g, v in by_g.items()}
    varis = {
        g: sum((x - means[g]) ** 2 for x in v) / (len(v) - 1)
        for g, v in by_g.items()
    }
    if min(varis.values()) <= 0:
        assert r.f_star is None
        return
    ws = {g: len(by_g[g]) / varis[g] for g in by_g}
    w_tot = sum(ws[g] for g in sorted(ws))
    xw = sum(ws[g] * means[g] for g in sorted(ws)) / w_tot
    a = sum(
        ws[g] * (means[g] - xw) ** 2 for g in sorted(ws)
    ) / (k - 1)
    c = sum(
        (1 - ws[g] / w_tot) ** 2 / (len(by_g[g]) - 1)
        for g in sorted(ws)
    )
    f = a / (1 + 2 * (k - 2) / (k * k - 1) * c)
    df2 = (k * k - 1) / (3 * c)
    # abs=5.1e-7: the engine rounds f_star to 6 decimals, so for tiny
    # F values the quantization step (±5e-7) exceeds any pure-relative
    # band — approx takes the larger of rel/abs, covering both regimes
    assert r.f_star == pytest.approx(f, rel=1e-5, abs=5.1e-7)
    assert r.df1 == k - 1
    assert r.df2 == pytest.approx(df2, abs=0.02)


@contextlib.contextmanager
def _conf(spark, conf: dict[str, str]):
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Split-plan confs for the preserve-order scan: "whole" gives every
# file its own partition (the open cost alone overflows a split),
# "packed" puts every file in one split, "split" cuts every file
# longer than 16 bytes.
_SCAN_CONFS = {
    "whole": {"spark.sql.files.openCostInBytes": str(1 << 30)},
    "packed": {
        "spark.sql.files.openCostInBytes": "0",
        "spark.sql.files.minPartitionNum": "1",
    },
    "split": {"spark.sql.files.maxPartitionBytes": "16"},
}
_SLICE_NAMES = ["s {}.csv", "s%{}.csv", "s+{}.csv"]


@settings(
    max_examples=_ex(20),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(0, 30), min_size=1, max_size=6),
    header=st.booleans(),
    other=st.sampled_from(["packed", "split"]),
)
@example(sizes=[5, 7, 3, 9], header=False, other="packed")
@example(sizes=[4, 0, 6], header=False, other="split")
@example(sizes=[3, 8], header=True, other="split")
# 21 bytes cut in two 16-byte splits, beside a zero-byte slice: as
# many partitions as slices, each with one file, but not whole ones
@example(sizes=[3, 0], header=False, other="split")
def test_preserve_order_one_pass_equals_split_offsets(spark, sizes, header, other):
    """The one-pass preserve-order plan and the split-offset plan give
    the same (columns, _slice_idx, _row_in_slice) rows, equal to the
    CSV files' own order. The one pass is taken exactly when every
    slice is one whole, non-empty partition; a zero-byte slice gets no
    partition and takes the split-offset plan without shifting the
    slice index of later slices."""
    from component_delta_lake_writer_spark.config import ColumnSpec
    from component_delta_lake_writer_spark.runner import TableInput, plan_table_scan

    d = tempfile.mkdtemp()
    paths, want = [], []
    for i, n in enumerate(sizes):
        p = os.path.join(d, _SLICE_NAMES[i % 3].format(i))
        rows = [(100 * i + j, f"v{i}_{j}") for j in range(n)]
        with open(p, "w") as f:
            if n:  # an empty slice is a zero-byte file, header or not
                f.write("k,v\n" if header else "")
                f.writelines(f"{k},{v}\n" for k, v in rows)
        paths.append(p)
        want += [(k, v, i, j) for j, (k, v) in enumerate(rows)]
    tbl = TableInput(
        slice_paths=paths,
        columns=[ColumnSpec("k", "INTEGER"), ColumnSpec("v", "STRING")],
        has_header=header,
    )

    def scan(layout: str) -> tuple[bool, list]:
        with _conf(spark, _SCAN_CONFS[layout]):
            df = plan_table_scan(spark, tbl, preserve_order=True)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            rows = sorted(
                (r["k"], r["v"], r["_slice_idx"], r["_row_in_slice"])
                for r in df.collect()
            )
        return "Aggregate" not in plan, rows

    sizes_b = [os.path.getsize(p) for p in paths]
    one_pass, got = scan("whole")
    assert one_pass == all(sizes_b)
    fell_back = {
        "packed": len(paths) > 1 or not all(sizes_b),
        "split": not all(0 < b <= 16 for b in sizes_b),
    }[other]
    other_one_pass, got_other = scan(other)
    assert other_one_pass == (not fell_back)
    assert got == got_other == sorted(want)
