"""Adversarial corpus for the SQL statement executor (VERDICT r3 task
7). The executor's contract is REFUSE-DON'T-MISEXECUTE: conservative
regexes accept exactly the reference's generated shapes and raise
UserException on everything else. These tests throw hostile input at
the dispatch/parse layer and assert three invariants:

1. CONTAINMENT — no identifier ever resolves outside the warehouse
   root (path traversal via dots, slashes, backslashes, backticks).
2. NO MIS-DISPATCH — a statement either fully executes its stated
   semantics or raises; a refused statement leaves table state
   byte-identical (version unchanged).
3. QUOTE SAFETY — keywords/';'/identifier syntax inside string
   literals never change dispatch or the script splitter's statement
   boundaries.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from component_delta_lake_writer_spark.errors import UserException
from component_delta_lake_writer_spark.statements import StatementExecutor

_SETTINGS = dict(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # CI-stable corpus
)


@pytest.fixture()
def ex(spark):
    with tempfile.TemporaryDirectory() as d:
        x = StatementExecutor(spark, d)
        x.execute(
            "CREATE OR REPLACE TABLE t (k BIGINT, s STRING, v DOUBLE, "
            "PRIMARY KEY (k)) USING DELTA"
        )
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "k long, s string, v double"
        ).createOrReplaceTempView("fuzz_seed")
        x.execute("INSERT INTO t SELECT k, s, v FROM fuzz_seed")
        yield x


def _state(ex):
    t = ex.table("t")
    c = t.latest_commit()
    return (c.version, tuple(sorted(c.data_units)))


# --- 1. containment: hostile identifiers -------------------------------

_TRAVERSAL = [
    "../escape", "..", ".", "a/../../b", "a/b", "a\\b", "`..`",
    "`a`.`..`.`b`", "x/../t", "....", "a..b/..", "./t", "/etc/passwd",
    "`/etc`.`passwd`", "a.b/../../c",
]


@pytest.mark.parametrize("ident", _TRAVERSAL)
def test_traversal_identifiers_refused(ex, ident):
    for stmt in (
        f"DROP TABLE {ident}",
        f"DELETE FROM {ident} WHERE k = 1",
        f"DESCRIBE DETAIL {ident}",
    ):
        with pytest.raises(UserException):
            ex.execute(stmt)


@given(
    ident=st.text(
        alphabet=list("abz._/\\`$-"), min_size=1, max_size=12
    ).filter(lambda s: ("/" in s or "\\" in s or ".." in s))
)
@settings(**_SETTINGS)
def test_generated_traversal_never_resolves(spark, ident):
    with tempfile.TemporaryDirectory() as d:
        x = StatementExecutor(spark, d)
        try:
            t = x.table(ident)
        except UserException:
            return
        # if accepted, the resolved path MUST stay under the root
        root = os.path.realpath(d)
        assert os.path.realpath(t.path).startswith(root + os.sep)


# --- 2. refuse-don't-misexecute: malformed statements are no-ops -------

_MALFORMED = [
    "GRANT ALL ON t TO someone",
    "CREATE INDEX idx ON t (k)",
    "UPDATE t SET k",
    "DELETE FROM t",                      # no WHERE: refuse, not truncate
    "INSERT INTO t VALUES (1, 'x', 2.0)",  # literal VALUES unsupported
    "MERGE INTO t USING u ON 1=1 WHEN MATCHED THEN DELETE",
    "ALTER TABLE t DROP COLUMN s",
    "ALTER TABLE t SET TBLPROPERTIES broken",
    "RESTORE TABLE t",
    "COPY INTO t FROM somewhere",
    "TRUNCATE",
    "VACUUM t RETAIN nonsense HOURS",
    "SHOW GRANTS ON t",
    "DESCRIBE EXTENDED t",
    "EXPLAIN ANALYZE broken (((",
    "WITH x AS (SELECT 1) DELETE FROM t",
    "CREATE TABLE (k BIGINT)",
    "INSERT INTO SELECT * FROM t",
    "OPTIMIZE t ZORDER BY",
]


@pytest.mark.parametrize("stmt", _MALFORMED)
def test_malformed_statements_are_stateless_refusals(ex, stmt):
    before = _state(ex)
    with pytest.raises(UserException):
        ex.execute(stmt)
    assert _state(ex) == before, f"{stmt!r} mutated state despite refusing"


@pytest.mark.slow
@given(
    head=st.sampled_from(
        ["CREATE", "INSERT", "MERGE", "DELETE", "UPDATE", "ALTER",
         "RESTORE", "COPY", "OPTIMIZE", "VACUUM", "TRUNCATE", "DROP"]
    ),
    garbage=st.text(
        alphabet=list("abct ()'=.,;*%/\\`\n\t-"), min_size=0, max_size=60
    ),
)
@settings(**_SETTINGS)
def test_garbage_after_verb_never_mutates_silently(spark, head, garbage):
    """Any statement the executor accepts must be one it fully
    understands; everything else raises with state intact."""
    with tempfile.TemporaryDirectory() as d:
        x = StatementExecutor(spark, d)
        x.execute("CREATE OR REPLACE TABLE g (k BIGINT) USING DELTA")
        before_v = x.table("g").latest_commit().version
        stmt = f"{head} {garbage}"
        try:
            x.execute(stmt)
        except UserException:
            assert x.table("g").latest_commit().version == before_v
        except Exception as exc:  # noqa: BLE001
            pytest.fail(
                f"{stmt!r} escaped the failure taxonomy: "
                f"{type(exc).__name__}: {exc}"
            )


# --- 3. quote safety ---------------------------------------------------

_HOSTILE_LITERALS = [
    "DROP TABLE t",
    "'; DROP TABLE t; --",
    "WHEN MATCHED THEN DELETE",
    "t`.`..",
    "a;b;c",
    "USING DELTA",
    "NOT MATCHED",
]


@pytest.mark.parametrize("lit", _HOSTILE_LITERALS)
def test_keywords_inside_literals_do_not_redispatch(ex, lit):
    esc = lit.replace("'", "''")
    before = _state(ex)
    got = ex.execute(f"SELECT s FROM t WHERE s = '{esc}'")
    assert got.count() == 0
    assert _state(ex) == before
    # UPDATE writes the hostile literal as DATA, nothing else happens
    ex.execute(f"UPDATE t SET s = '{esc}' WHERE k = 1")
    t = ex.table("t")
    [row] = t.read().filter("k = 1").collect()
    assert row["s"] == lit
    assert t.read().count() == 2  # no row lost to a phantom statement


def test_script_splitter_ignores_semicolons_in_literals(ex):
    res = ex.execute_script(
        "UPDATE t SET s = 'a;b;c' WHERE k = 1; SELECT s FROM t WHERE k = 1"
    )
    assert [r["s"] for r in res[-1].collect()] == ["a;b;c"]
    # a doubled quote inside a literal does not flip the splitter state
    res2 = ex.execute_script(
        "UPDATE t SET s = 'it''s; fine' WHERE k = 2; "
        "SELECT s FROM t WHERE k = 2"
    )
    assert [r["s"] for r in res2[-1].collect()] == ["it's; fine"]


def test_merge_on_predicate_edge_cases_refused(ex):
    ex.execute("CREATE OR REPLACE TABLE u USING DELTA AS SELECT * FROM t")
    base = (
        "WHEN MATCHED THEN UPDATE SET tg.k = s.k, tg.s = s.s, tg.v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, s.s, s.v)"
    )
    for on in [
        "tg.k = s.k OR tg.s = s.s",      # disjunctive ON
        "tg.k < s.k",                     # non-equality
        "tg.k = s.k + 1",                 # expr != INSERT projection
        "tg.v = s.v AND tg.k = s.k + 1",  # one good + one bad conjunct
        "1 = 1",                          # no target column at all
    ]:
        before = _state(ex)
        with pytest.raises(UserException):
            ex.execute(f"MERGE INTO t AS tg USING u AS s ON {on} {base}")
        assert _state(ex) == before


def test_dml_verbs_in_double_quotes_and_comments_pass(ex):
    """Review finding: Spark's default mode treats double quotes as
    string literals, and -- starts a comment; DML verbs inside either
    must NOT trip the SELECT path's mis-dispatch guard."""
    got = ex.execute('SELECT s FROM t WHERE s = "delete"')
    assert got.count() == 0
    got = ex.execute("SELECT k FROM t -- delete stale rows later\nWHERE k = 1")
    assert [r["k"] for r in got.collect()] == [1]
    # backslash-escaped quote inside a literal keeps parity
    got = ex.execute(r"SELECT s FROM t WHERE s = 'don\'t DELETE'")
    assert got.count() == 0
    # the guard still fires on REAL embedded DML
    with pytest.raises(UserException, match="embedded DML"):
        ex.execute("WITH x AS (SELECT 1 AS a) DELETE FROM t")


def test_freeform_string_property_roundtrips_verbatim(ex):
    """Review finding: only the engine's boolean feature flags
    normalize 'true'/'false'; a free-form property whose VALUE happens
    to be 'true' must come back as the string the user set."""
    ex.execute("ALTER TABLE t SET TBLPROPERTIES ('note' = 'true')")
    props = ex.table("t").latest_commit().properties
    assert props["note"] == "true" and props["note"] is not True
    ex.execute(
        "ALTER TABLE t SET TBLPROPERTIES ('enableChangeDataFeed' = 'TRUE')"
    )
    assert ex.table("t").latest_commit().properties[
        "enableChangeDataFeed"
    ] is True


def test_dml_verb_in_block_comment_passes(ex):
    got = ex.execute("SELECT /* delete nothing */ k FROM t WHERE k = 2")
    assert [r["k"] for r in got.collect()] == [2]


def test_dml_verb_as_backticked_identifier_passes(ex):
    """ADVICE r4: the guard didn't blank backtick-quoted identifiers,
    so a column literally NAMED `update` was spuriously refused."""
    got = ex.execute("SELECT k AS `update` FROM t WHERE k = 1")
    assert [r["update"] for r in got.collect()] == [1]
    # doubled-backtick escape stays inside the identifier
    got = ex.execute("SELECT k AS `de``lete merge` FROM t WHERE k = 2")
    assert got.count() == 1
    # the guard still fires on real DML after a backticked identifier
    with pytest.raises(UserException, match="embedded DML"):
        ex.execute("WITH `x` AS (SELECT 1 AS a) DELETE FROM t")


# --- round 7: CONVERT / CLONE / ANALYZE / SHOW shapes -------------------

_MALFORMED_R7 = [
    "CONVERT TO DELTA t",                       # must be parquet.`dir`
    "CONVERT TO DELTA csv.`/tmp/x`",            # wrong format
    "CONVERT TO DELTA parquet.`/nonexistent-dir-xyz` AS t2",
    "CONVERT TO DELTA parquet.`/tmp` INTO t",   # bad trailing clause
    "ANALYZE TABLE t",                          # missing COMPUTE
    "ANALYZE TABLE t COMPUTE NOTHING",
    "ANALYZE t COMPUTE STATISTICS",
    "CREATE TABLE c CLONE t",                   # depth keyword required
    "CREATE TABLE c SHALLOW CLONE",             # missing source
    "CREATE TABLE c LATERAL CLONE t",
    "SHOW TBLPROPERTIES",                       # missing table
    "SHOW COLUMNS t",                           # missing IN/FROM
]


@pytest.mark.parametrize("stmt", _MALFORMED_R7)
def test_r7_malformed_statements_are_noops(ex, stmt):
    before = _state(ex)
    with pytest.raises(UserException):
        ex.execute(stmt)
    assert _state(ex) == before


@pytest.mark.parametrize("ident", _TRAVERSAL)
def test_r7_traversal_identifiers_refused(ex, ident):
    for stmt in (
        f"CREATE TABLE {ident} SHALLOW CLONE t",
        f"CREATE TABLE c2 DEEP CLONE {ident}",
        f"ANALYZE TABLE {ident} COMPUTE STATISTICS",
        f"SHOW TBLPROPERTIES {ident}",
        f"SHOW COLUMNS IN {ident}",
        f"CONVERT TO DELTA parquet.`/tmp/nope` AS {ident}",
    ):
        with pytest.raises(UserException):
            ex.execute(stmt)


def test_clone_source_must_exist_and_quote_safety(ex):
    before = _state(ex)
    with pytest.raises(UserException):
        ex.execute("CREATE TABLE c SHALLOW CLONE missing_table")
    assert _state(ex) == before
    # keywords inside literals never change dispatch: the script
    # splitter must treat this as ONE statement and refuse it whole
    with pytest.raises(UserException):
        ex.execute(
            "ANALYZE TABLE t COMPUTE STATISTICS FOR ALL COLUMNS extra"
        )
    assert _state(ex) == before
