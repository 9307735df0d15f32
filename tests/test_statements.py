"""StatementExecutor: the reference's SQL statement surface executed
against managed tables (statements.py; reference component.py:135-260)."""

from __future__ import annotations

import os
import tempfile

import pytest

from component_delta_lake_writer_spark.errors import (
    TableExistsError,
    UserException,
)
from component_delta_lake_writer_spark.statements import StatementExecutor


@pytest.fixture()
def ex(spark):
    with tempfile.TemporaryDirectory() as d:
        yield StatementExecutor(spark, d)


def _seed(ex):
    ex.execute(
        "CREATE OR REPLACE TABLE t (k BIGINT, s STRING, v DOUBLE, "
        "PRIMARY KEY (k)) USING DELTA"
    )
    ex.spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "k long, s string, v double",
    ).createOrReplaceTempView("seed")
    ex.execute("INSERT INTO t SELECT k, s, v FROM seed")
    return ex.table("t")


def test_create_insert_select(ex):
    t = _seed(ex)
    assert t.read().count() == 3
    got = ex.execute("SELECT s FROM t WHERE k = 2").collect()
    assert [r["s"] for r in got] == ["b"]
    # CREATE bare on existing raises; IF NOT EXISTS no-ops
    with pytest.raises(TableExistsError):
        ex.execute("CREATE TABLE t (k BIGINT) USING DELTA")
    ex.execute("CREATE TABLE IF NOT EXISTS t (k BIGINT) USING DELTA")
    assert t.read().count() == 3


def test_dml_and_maintenance(ex):
    t = _seed(ex)
    ex.execute("UPDATE t SET v = v + 10.0 WHERE s = 'b'")
    assert {r["v"] for r in t.read().filter("k=2").collect()} == {12.0}
    ex.execute("DELETE FROM t WHERE k = 3")
    assert t.read().count() == 2
    ex.execute("RESTORE TABLE t TO VERSION AS OF 1")
    assert t.read().count() == 3
    ex.execute("OPTIMIZE t")
    ex.execute("VACUUM t")  # time travel before the vacuum cutoff dies
    hist = ex.execute("DESCRIBE HISTORY t").collect()
    assert len(hist) >= 5
    det = ex.execute("DESCRIBE DETAIL t").collect()[0]
    assert det["num_rows"] == 3


def test_alter_show_and_errors(ex):
    t = _seed(ex)
    ex.execute("ALTER TABLE t ADD COLUMN tag STRING DEFAULT 'x'")
    ex.spark.createDataFrame([(9, "z", 9.0)], "k long, s string, v double")\
        .createOrReplaceTempView("more")
    ex.execute("INSERT INTO t SELECT k, s, v FROM more")
    vals = {r["k"]: r["tag"] for r in t.read().collect()}
    assert vals[9] == "x" and vals[1] is None
    ex.execute("ALTER TABLE t SET TBLPROPERTIES ('enableChangeDataFeed' = 'on')")
    assert t.latest_commit().properties["enableChangeDataFeed"] == "on"
    # partitioned create + SHOW PARTITIONS
    ex.execute(
        "CREATE OR REPLACE TABLE p (k BIGINT, r STRING) USING DELTA "
        "PARTITIONED BY (r)"
    )
    ex.spark.createDataFrame([(1, "x"), (2, "y")], "k long, r string")\
        .createOrReplaceTempView("pv")
    ex.execute("INSERT INTO p SELECT k, r FROM pv")
    parts = {r["r"] for r in ex.execute("SHOW PARTITIONS p").collect()}
    assert parts == {"x", "y"}
    with pytest.raises(UserException, match="Unsupported statement"):
        ex.execute("GRANT ALL ON t TO someone")
    with pytest.raises(UserException, match="Unsupported MERGE"):
        ex.execute("MERGE INTO t USING u ON 1=1 WHEN MATCHED THEN DELETE")
    with pytest.raises(UserException, match="Bad table identifier"):
        ex.table("../escape")


def test_ctas_truncate_table_changes(ex):
    t = _seed(ex)
    # CTAS from a managed table
    ex.execute(
        "CREATE OR REPLACE TABLE t2 USING DELTA AS "
        "SELECT k, v * 2.0 AS v2 FROM t WHERE k <= 2"
    )
    got = {r["k"]: r["v2"] for r in ex.execute("SELECT * FROM t2").collect()}
    assert got == {1: 2.0, 2: 4.0}
    with pytest.raises(TableExistsError):
        ex.execute("CREATE TABLE t2 USING DELTA AS SELECT k FROM t")
    ex.execute("CREATE TABLE IF NOT EXISTS t2 AS SELECT k FROM t")  # no-op
    assert ex.table("t2").read().columns == ["k", "v2"]
    # CDF TVF over a CDF-enabled table
    ex.execute(
        "ALTER TABLE t SET TBLPROPERTIES ('enableChangeDataFeed' = 'true')"
    )
    ex.spark.createDataFrame([(2, "B", -2.0), (9, "z", 9.0)],
                             "k long, s string, v double")\
        .createOrReplaceTempView("delta_batch")
    v_before = ex.table("t").latest_commit().version
    ex.execute(
        "MERGE INTO t AS target USING t2 AS source "
        "ON target.k = CAST(source.k AS BIGINT) "
        "WHEN MATCHED THEN UPDATE SET target.k = CAST(source.k AS BIGINT), "
        "target.s = 'M', target.v = source.v2 "
        "WHEN NOT MATCHED THEN INSERT (k, s, v) "
        "VALUES (CAST(source.k AS BIGINT), 'M', source.v2)"
    )
    v_after = ex.table("t").latest_commit().version
    changes = ex.execute(
        f"SELECT k, _change_type FROM table_changes('t', {v_after}, {v_after})"
    ).collect()
    kinds = {(r["k"], r["_change_type"]) for r in changes}
    assert kinds == {(1, "update_postimage"), (2, "update_postimage")}
    assert v_after == v_before + 1
    # TRUNCATE keeps schema, empties data
    ex.execute("TRUNCATE TABLE t2")
    assert ex.table("t2").read().count() == 0
    assert ex.table("t2").read().columns == ["k", "v2"]


def test_version_as_of_and_explain(ex):
    t = _seed(ex)
    ex.execute("DELETE FROM t WHERE k = 1")
    now = {r["k"] for r in ex.execute("SELECT k FROM t").collect()}
    assert now == {2, 3}
    v1 = {
        r["k"]
        for r in ex.execute("SELECT k FROM t VERSION AS OF 1").collect()
    }
    assert v1 == {1, 2, 3}
    # join current against historical snapshot
    joined = ex.execute(
        "SELECT old.k FROM t VERSION AS OF 1 old "
        "LEFT ANTI JOIN t ON old.k = t.k"
    ).collect()
    assert [r["k"] for r in joined] == [1]
    plan = ex.execute("EXPLAIN SELECT k FROM t WHERE k = 2").collect()[0]
    assert "Scan parquet" in plan["plan"] or "FileScan" in plan["plan"]


def test_show_tables_generate_restore_timestamp(ex):
    import datetime as dt
    import os

    t = _seed(ex)
    ex.execute("CREATE OR REPLACE TABLE sub.nested (x INT) USING DELTA")
    names = {r["table"] for r in ex.execute("SHOW TABLES").collect()}
    assert names == {"t", "sub.nested"}
    # GENERATE symlink manifest: listed files read back as the snapshot
    ex.execute("GENERATE symlink_format_manifest FOR TABLE t")
    man = os.path.join(ex.table("t").path,
                       "_symlink_format_manifest", "manifest")
    with open(man) as fh:
        paths = [ln for ln in fh.read().splitlines() if ln]
    assert paths and all(p.endswith(".parquet") for p in paths)
    back = ex.spark.read.parquet(*paths)
    assert back.count() == 3
    # refused under pending MOR delete sets
    ex.table("t").delete_where("k = 1", strategy="merge-on-read")
    with pytest.raises(UserException, match="resurrect"):
        ex.execute("GENERATE symlink_format_manifest FOR TABLE t")
    ex.table("t").optimize()
    ex.execute("GENERATE symlink_format_manifest FOR TABLE t")
    # RESTORE TO TIMESTAMP AS OF: travel back before the delete
    v1 = ex.table("t").commit_at(1)
    ts = dt.datetime.fromtimestamp(
        (v1.timestamp_ms + 1) / 1000, dt.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S.%f")
    ex.execute(f"RESTORE TABLE t TO TIMESTAMP AS OF '{ts}'")
    assert ex.table("t").read().count() == 3


def test_review_fixes_statements(ex):
    t = _seed(ex)
    # MERGE with divergent UPDATE SET must refuse, not mis-execute
    with pytest.raises(UserException, match="full-row update"):
        ex.execute(
            "MERGE INTO t AS target USING t AS source "
            "ON target.k = source.k "
            "WHEN MATCHED THEN UPDATE SET target.v = 0.0 "
            "WHEN NOT MATCHED THEN INSERT (k, s, v) "
            "VALUES (source.k, source.s, source.v)"
        )
    # string literals survive the qualified-name rewrite
    ex.execute(
        "CREATE OR REPLACE TABLE wh.orders AS "
        "SELECT k, 'wh.orders' AS src_tag FROM t"
    )
    got = ex.execute(
        "SELECT COUNT(*) AS n FROM wh.orders "
        "WHERE src_tag = 'wh.orders'"
    ).collect()[0]["n"]
    assert got == 3
    # TRUNCATE preserves the partition layout
    ex.execute(
        "CREATE OR REPLACE TABLE pt (k BIGINT, r STRING) USING DELTA "
        "PARTITIONED BY (r)"
    )
    ex.spark.createDataFrame([(1, "x")], "k long, r string")\
        .createOrReplaceTempView("ptv")
    ex.execute("INSERT INTO pt SELECT k, r FROM ptv")
    ex.execute("TRUNCATE TABLE pt")
    assert ex.table("pt").latest_commit().partition_by == ["r"]


def test_insert_overwrite_and_views(ex):
    t = _seed(ex)
    # INSERT OVERWRITE truncates-and-loads, keeping PK metadata
    ex.spark.createDataFrame([(7, "z", 7.0)], "k long, s string, v double")\
        .createOrReplaceTempView("ow")
    ex.execute("INSERT OVERWRITE t SELECT k, s, v FROM ow")
    assert {r["k"] for r in t.read().collect()} == {7}
    assert t.latest_commit().primary_key == ["k"]
    # persisted view over the live table: always-fresh expansion
    ex.execute("CREATE OR REPLACE VIEW big_v AS SELECT k, v FROM t WHERE v > 5.0")
    assert [r["k"] for r in ex.execute("SELECT k FROM big_v").collect()] == [7]
    ex.execute("INSERT INTO t SELECT k + 1 AS k, s, v + 10.0 AS v FROM ow")
    got = {r["k"] for r in ex.execute(
        "SELECT k FROM big_v ORDER BY k").collect()}
    assert got == {7, 8}  # the view tracked the new row


def test_view_fixes_nested_and_backslash(ex):
    _seed(ex)
    # a view body containing regex backslashes must expand verbatim
    ex.execute(
        "CREATE OR REPLACE VIEW digits AS "
        "SELECT k FROM t WHERE s RLIKE '[a-c]\\\\w*'"
    )
    assert {r["k"] for r in ex.execute("SELECT k FROM digits").collect()} \
        == {1, 2, 3}
    # nested views in unfavorable alphabetical order (a_base < z_top)
    ex.execute("CREATE VIEW a_base AS SELECT k, v FROM t WHERE k <= 2")
    ex.execute("CREATE VIEW z_top AS SELECT k FROM a_base WHERE v >= 2.0")
    assert [r["k"] for r in ex.execute(
        "SELECT k FROM z_top ORDER BY k").collect()] == [2]


def test_tblproperties_false_disables_cdf(ex):
    """Boolean property semantics: the SQL surface hands 'false' over
    as a string; it must disable the feature, not truthily enable it."""
    t = _seed(ex)
    ex.execute(
        "ALTER TABLE t SET TBLPROPERTIES ('enableChangeDataFeed' = 'true')"
    )
    assert t.latest_commit().properties["enableChangeDataFeed"] is True
    ex.execute(
        "ALTER TABLE t SET TBLPROPERTIES ('enableChangeDataFeed' = 'false')"
    )
    assert t.latest_commit().properties["enableChangeDataFeed"] is False
    # and the engine does NOT persist a change set for a mutation
    ex.spark.createDataFrame([(2, "B", -2.0)], "k long, s string, v double")\
        .createOrReplaceTempView("u_false")
    ex.execute(
        "CREATE OR REPLACE TABLE uf USING DELTA AS SELECT * FROM u_false"
    )
    ex.execute(
        "MERGE INTO t AS tg USING uf AS s ON tg.k = s.k "
        "WHEN MATCHED THEN UPDATE SET tg.k = s.k, tg.s = s.s, tg.v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, s.s, s.v)"
    )
    import os as _os
    assert t.latest_commit().cdc_files == []
    assert not _os.path.isdir(_os.path.join(t.path, "_change_data"))


def test_merge_on_clause_must_match_insert_expression(ex):
    """The executor upserts the INSERT projection; an ON clause whose
    source side is NOT the insert expression for that PK would silently
    mis-join — it must refuse instead."""
    _seed(ex)
    ex.spark.createDataFrame([(1, "A", -1.0)], "k long, s string, v double")\
        .createOrReplaceTempView("u")
    ex.execute("CREATE OR REPLACE TABLE u2 USING DELTA AS SELECT * FROM u")
    # faithful shape passes (qualified and bare source refs both fine)
    ex.execute(
        "MERGE INTO t AS tg USING u2 AS s ON tg.k = s.k "
        "WHEN MATCHED THEN UPDATE SET tg.k = s.k, tg.s = s.s, tg.v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, s.s, s.v)"
    )
    assert {r["s"] for r in ex.table("t").read().filter("k=1").collect()} \
        == {"A"}
    # ON joins on an expression that is NOT the INSERT projection
    with pytest.raises(UserException, match="ON-clause"):
        ex.execute(
            "MERGE INTO t AS tg USING u2 AS s ON tg.k = s.k + 1 "
            "WHEN MATCHED THEN UPDATE SET tg.k = s.k, tg.s = s.s, "
            "tg.v = s.v "
            "WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, s.s, s.v)"
        )
    # ON names a column that is not an INSERT column
    with pytest.raises(UserException, match="not an INSERT column"):
        ex.execute(
            "MERGE INTO t AS tg USING u2 AS s ON tg.zz = s.k "
            "WHEN MATCHED THEN UPDATE SET tg.k = s.k, tg.s = s.s, "
            "tg.v = s.v "
            "WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, s.s, s.v)"
        )


def test_reorg_apply_purge_materializes_dvs(ex):
    """REORG TABLE t APPLY (PURGE) (Delta DML): pending merge-on-read
    deletes — mirrored as deletion vectors — are rewritten into plain
    files; the mirror's live adds carry no descriptors afterwards."""
    from component_delta_lake_writer_spark.sinks.delta_log import (
        live_dv_descriptors,
    )

    ex.execute(
        "CREATE OR REPLACE TABLE r (k INT, v DOUBLE, PRIMARY KEY (k)) "
        "USING DELTA"
    )
    t = ex.table("r")
    t.write(
        ex.spark.createDataFrame(
            [(i, float(i * 2)) for i in range(20)], "k int, v double"
        ),
        mode="append",
    )
    t.delete_where("k >= 15", strategy="merge-on-read")
    assert len(live_dv_descriptors(t.path)) >= 1
    ex.execute("REORG TABLE r APPLY (PURGE)")
    assert live_dv_descriptors(t.path) == {}
    assert t.read().count() == 15
    with pytest.raises(UserException, match="REORG"):
        ex.execute("REORG TABLE r APPLY (SOMETHING)")


def test_convert_clone_analyze_statements(ex, tmp_path):
    """CONVERT TO DELTA adopts a parquet dir zero-copy; SHALLOW/DEEP
    CLONE create independent tables; ANALYZE refreshes stats
    metadata-only."""
    raw = str(tmp_path / "raw")
    ex.spark.range(100).selectExpr("id AS k", "id * 2 AS v").write.parquet(
        raw
    )
    ex.execute(f"CONVERT TO DELTA parquet.`{raw}` AS conv")
    t = ex.table("conv")
    assert t.read().count() == 100
    assert t.latest_commit().action == "convert"
    # adopted files share inodes with the source (no rewrite)
    src_ino = {
        os.stat(os.path.join(dp, f)).st_ino
        for dp, _d, fs in os.walk(raw)
        for f in fs
        if f.endswith(".parquet")
    }
    got_ino = {
        os.stat(os.path.join(dp, f)).st_ino
        for dp, _d, fs in os.walk(os.path.join(t.path, "_data"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert got_ino and got_ino <= src_ino

    # NO STATISTICS + ANALYZE re-arms stats
    ex.execute(f"CONVERT TO DELTA parquet.`{raw}` NO STATISTICS AS conv2")
    t2 = ex.table("conv2")
    st = next(iter(t2.latest_commit().stats.values()))
    assert set(st) == {"_rows", "_files"}  # row counts only, per file too
    assert all(set(f) == {"_rows"} for f in st["_files"].values())
    ex.execute("ANALYZE TABLE conv2 COMPUTE STATISTICS FOR ALL COLUMNS")
    c = t2.latest_commit()
    assert c.action == "analyze"
    assert "k" in next(iter(c.stats.values()))

    # clones
    ex.execute("CREATE TABLE conv_s SHALLOW CLONE conv")
    ex.execute("CREATE TABLE conv_d DEEP CLONE conv")
    assert ex.table("conv_s").read().count() == 100
    assert ex.table("conv_d").read().count() == 100
    # IF NOT EXISTS no-op; plain re-create refuses
    ex.execute("CREATE TABLE IF NOT EXISTS conv_s SHALLOW CLONE conv")
    with pytest.raises(TableExistsError):
        ex.execute("CREATE TABLE conv_s SHALLOW CLONE conv")
    # OR REPLACE replaces
    ex.execute("CREATE OR REPLACE TABLE conv_s SHALLOW CLONE conv2")
    assert ex.table("conv_s").read().count() == 100

    # bad shapes
    with pytest.raises(UserException):
        ex.execute("CONVERT TO DELTA csv.`/nope` AS x")
    with pytest.raises(UserException):
        ex.execute("ANALYZE TABLE conv2 COMPUTE NOTHING")


def test_convert_partitioned_external_mirror(ex, tmp_path):
    """A hive-partitioned convert keeps the layout, infers partition
    columns, and the Delta mirror serves external readers
    immediately."""
    from delta_verifier import read_delta_table

    raw = str(tmp_path / "rawp")
    ex.spark.range(200).selectExpr(
        "id AS k", "id % 4 AS p", "id * 3 AS v"
    ).write.partitionBy("p").parquet(raw)
    ex.execute(f"CONVERT TO DELTA parquet.`{raw}` AS pc")
    t = ex.table("pc")
    assert t.latest_commit().partition_by == ["p"]
    eng = sorted((r["k"], r["p"], r["v"]) for r in t.read().collect())
    extr = sorted(
        (r["k"], r["p"], r["v"])
        for r in read_delta_table(ex.spark, t.path).collect()
    )
    assert eng == extr
    # declared partitioning must match the layout
    with pytest.raises(UserException):
        ex.table("pc2").convert_from_parquet(raw, partition_by=["k"])


def test_show_tblproperties_and_columns(ex):
    t = _seed(ex)
    t.set_properties({"delta.appendOnly": "false", "custom.tag": "x"})
    rows = {
        r["key"]: r["value"]
        for r in ex.execute("SHOW TBLPROPERTIES t").collect()
    }
    assert rows.get("custom.tag") == "x"
    one = ex.execute("SHOW TBLPROPERTIES t ('custom.tag')").collect()
    assert [(r["key"], r["value"]) for r in one] == [("custom.tag", "x")]
    cols = [r["col_name"] for r in ex.execute("SHOW COLUMNS IN t").collect()]
    assert cols == ["k", "s", "v"]
    cols2 = [
        r["col_name"] for r in ex.execute("SHOW COLUMNS FROM t").collect()
    ]
    assert cols2 == cols
    with pytest.raises(UserException):
        ex.execute("SHOW GRANTS ON t")


def test_merge_not_matched_by_source_statement(ex):
    """The full-sync MERGE statement shape: WHEN NOT MATCHED BY SOURCE
    [AND scope] THEN DELETE routes to upsert_full_sync — matched rows
    update, new rows insert, target rows absent from the source
    delete (everywhere, or only inside the scope)."""
    _seed(ex)  # t = {1:a, 2:b, 3:c}
    ex.spark.createDataFrame(
        [(2, "B", 20.0), (4, "d", 4.0)], "k long, s string, v double"
    ).createOrReplaceTempView("sync_src")
    ex.execute("CREATE TABLE u (k BIGINT, s STRING, v DOUBLE) USING DELTA")
    ex.execute("INSERT INTO u SELECT k, s, v FROM sync_src")
    ex.execute(
        "MERGE INTO t AS target USING u AS source "
        "ON target.k = source.k "
        "WHEN MATCHED THEN UPDATE SET k = source.k, s = source.s, "
        "v = source.v "
        "WHEN NOT MATCHED THEN INSERT (k, s, v) "
        "VALUES (source.k, source.s, source.v) "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    got = sorted(
        (r["k"], r["s"], r["v"]) for r in ex.table("t").read().collect()
    )
    assert got == [(2, "B", 20.0), (4, "d", 4.0)]

    # scoped variant: only rows inside the scope are deleted
    t2 = ex.execute(
        "CREATE TABLE t2 (k BIGINT, s STRING, v DOUBLE) USING DELTA"
    )
    ex.spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "k long, s string, v double",
    ).createOrReplaceTempView("seed2")
    ex.execute("INSERT INTO t2 SELECT k, s, v FROM seed2")
    ex.execute(
        "MERGE INTO t2 AS target USING u AS source "
        "ON target.k = source.k "
        "WHEN MATCHED THEN UPDATE SET k = source.k, s = source.s, "
        "v = source.v "
        "WHEN NOT MATCHED THEN INSERT (k, s, v) "
        "VALUES (source.k, source.s, source.v) "
        "WHEN NOT MATCHED BY SOURCE AND target.k < 2 THEN DELETE"
    )
    got2 = sorted((r["k"], r["s"]) for r in ex.table("t2").read().collect())
    # k=1 deleted (absent + in scope), k=3 kept (absent, out of scope)
    assert got2 == [(2, "B"), (3, "c"), (4, "d")]


def test_delete_statement_uses_dvs_when_enabled(ex):
    """With delta.enableDeletionVectors=true, the DELETE statement
    takes the merge-on-read path: no data unit rewritten, a deletion
    vector committed, correct read-back. Without the property: copy-on-write
    as before."""
    t = _seed(ex)
    t.set_properties({"delta.enableDeletionVectors": "true"})
    before_units = list(t.latest_commit().data_units)
    ex.execute("DELETE FROM t WHERE k = 2")
    c = t.latest_commit()
    assert c.data_units == before_units, "DV delete must rewrite nothing"
    assert c.deletion_vectors
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3]
    # plain table: copy-on-write (no deletion vectors)
    ex.execute(
        "CREATE OR REPLACE TABLE t3 (k BIGINT, v DOUBLE) USING DELTA"
    )
    ex.spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "k long, v double"
    ).createOrReplaceTempView("cw_seed")
    ex.execute("INSERT INTO t3 SELECT k, v FROM cw_seed")
    ex.execute("DELETE FROM t3 WHERE k = 1")
    c3 = ex.table("t3").latest_commit()
    assert not c3.deletion_vectors
    assert [r["k"] for r in ex.table("t3").read().collect()] == [2]
