"""The portable hash (``functions/hashing.py``): Spark, driver and the
DuckDB oracle agree on fixed vectors, the bloom positions tables
persist stay pinned, and no module outside ``functions/`` spells the
md5-prefix idiom itself."""

from __future__ import annotations

import ast
import os

import duckdb
from pyspark.sql import types as T

from component_delta_lake_writer_spark.functions.hashing import (
    portable_hash,
    portable_hash_of,
)
from component_delta_lake_writer_spark.sinks.bloom import (
    positions_expr,
    positions_for_value,
)
from conftest import REPO

PKG = REPO / "component_delta_lake_writer_spark"

#: (string, its portable hash as a literal).
PINNED = [("", 3558706393), ("abc", 2416005272), ("héllo", 3192973383)]
VECTORS = [s for s, _ in PINNED] + [
    "".join(chr(32 + i % 95) for i in range(10_000)),
    "🙂 naïve 🚀 東京",
]


def test_spark_driver_and_duckdb_agree(spark):
    rows = [(s,) for s in VECTORS] + [(None,)]
    df = spark.createDataFrame(rows, "x string")
    got = df.select(
        "x", *[portable_hash("x", w).alias(f"w{w}") for w in range(4)]
    ).collect()
    spark_by = {r["x"]: [r[f"w{w}"] for w in range(4)] for r in got}
    assert spark_by[None] == [None] * 4
    con = duckdb.connect()
    con.execute("CREATE TABLE v (x VARCHAR)")
    con.executemany("INSERT INTO v VALUES (?)", rows)
    oracle = dict(
        con.execute(
            "SELECT x, ('0x' || substr(md5(x), 1, 8))::BIGINT FROM v"
        ).fetchall()
    )
    assert oracle[None] is None
    for s in VECTORS:
        words = [portable_hash_of(s, w) for w in range(4)]
        assert spark_by[s] == words, s[:20]
        assert oracle[s] == words[0], s[:20]
        assert 0 <= words[0] < 2**32
    assert [portable_hash_of(s) for s, _ in PINNED] == [h for _, h in PINNED]


#: Bloom positions at m = 8192: tables persist bitmaps of them, and a
#: probe must find the same positions for as long as such tables exist.
BLOOM_8192 = {
    0: [132, 1519, 8185, 1242],
    1: [568, 898, 4250, 1179],
    42: [1768, 4903, 4195, 6310],
    -7: [6674, 7484, 4527, 981],
    2**40: [2273, 3192, 6203, 1710],
    "abc": [4248, 4016, 8061, 8050],
    "": [3289, 4612, 2456, 638],
    "héllo": [2119, 4083, 1840, 6992],
}


def test_bloom_positions_are_pinned(spark):
    assert {v: positions_for_value(v, 8192) for v in BLOOM_8192} == BLOOM_8192
    ints = [v for v in BLOOM_8192 if isinstance(v, int)]
    strs = [v for v in BLOOM_8192 if isinstance(v, str)]
    for values, typ in ((ints, T.LongType()), (strs, T.StringType())):
        df = spark.createDataFrame(
            [(v,) for v in values], T.StructType([T.StructField("v", typ)])
        )
        got = df.select("v", positions_expr("v", 8192).alias("p")).collect()
        assert {r["v"]: r["p"] for r in got} == {v: BLOOM_8192[v] for v in values}


def _name(f: ast.expr) -> str:
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")


def _portable_hash_sites(path) -> set[tuple[int, str]]:
    """(line, spelling) of each md5-prefix hash spelled in ``path``:
    a string containing ``conv(substring(md5`` ("sql"), a ``conv`` call
    over ``md5`` ("conv"), or an 8-character or computed slice of a
    ``hexdigest()`` ("hexdigest")."""
    sites = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "conv(substring(md5" in node.value
        ):
            sites.add((node.lineno, "sql"))
        elif (
            isinstance(node, ast.Call)
            and _name(node.func) == "conv"
            and node.args
            and any(
                isinstance(n, ast.Call) and _name(n.func) == "md5"
                for n in ast.walk(node.args[0])
            )
        ):
            sites.add((node.lineno, "conv"))
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.value, ast.Call)
            and _name(node.value.func) == "hexdigest"
            and isinstance(node.slice, ast.Slice)
            and not (
                isinstance(node.slice.upper, ast.Constant)
                and node.slice.upper.value != 8
            )
        ):
            sites.add((node.lineno, "hexdigest"))
    return sites


def test_portable_hash_lives_only_in_functions():
    """Every md5-prefix hash goes through ``functions/hashing.py``.
    The DuckDB oracle texts (the ``('0x' || substr(md5(…`` spelling),
    full-md5 fingerprints and the 12-character checkpoint signature are
    not the idiom and stay where they are."""
    functions = PKG / "functions"
    spellings = {k for _, k in _portable_hash_sites(functions / "hashing.py")}
    assert spellings == {"sql", "conv", "hexdigest"}
    offenders = {
        f"{os.path.relpath(f, REPO)}:{line}"
        for f in sorted(PKG.rglob("*.py"))
        if functions not in f.parents
        for line, _ in _portable_hash_sites(f)
    }
    assert offenders == set(), (
        f"use functions.hashing.portable_hash(_of): {sorted(offenders)}"
    )
