"""Correctness gate, run outside the timed regions.

Expected states are computed by DuckDB from the generated inputs;
actual states are read back through the engine. Each check returns a
list of mismatch messages (empty when correct).
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import duckdb
import pyarrow as pa

# order-independent digest of a relation: row count plus the sum of
# per-row hashes over every listed column
_DIGEST = "SELECT count(*) AS n, sum(hash({cols}))::HUGEINT AS h FROM {rel}"


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={"temp_directory": tmp_dir})


def digest(con, rel: str, cols: list[str]) -> tuple[int, int]:
    n, h = con.sql(_DIGEST.format(cols=", ".join(cols), rel=rel)).fetchone()
    return int(n), int(h or 0)


def compare_digests(what: str, expected: tuple, actual: tuple) -> list[str]:
    if expected == actual:
        return []
    return [
        f"{what}: expected rows={expected[0]} digest={expected[1]}, "
        f"got rows={actual[0]} digest={actual[1]}"
    ]


def table_digest(con, table: pa.Table, cols: list[str]) -> tuple[int, int]:
    con.register("_actual", table)
    try:
        return digest(con, "_actual", cols)
    finally:
        con.unregister("_actual")


def upsert_fold(con, target: pa.Table, batches: list[pa.Table], key: str) -> tuple:
    """Digest of ``target`` after applying each batch as MERGE
    (matched rows replaced, unmatched inserted)."""
    cols = target.column_names
    con.register("_t0", target)
    con.sql("CREATE OR REPLACE TEMP TABLE _state AS SELECT * FROM _t0")
    con.unregister("_t0")
    for b in batches:
        con.register("_b", b)
        con.sql(f"DELETE FROM _state WHERE {key} IN (SELECT {key} FROM _b)")
        con.sql(f"INSERT INTO _state SELECT {', '.join(cols)} FROM _b")
        con.unregister("_b")
    try:
        return digest(con, "_state", cols)
    finally:
        con.sql("DROP TABLE _state")


#: Doubles agree when within one unit of the sixth decimal (every
#: checked double is ROUND(x, 6)) or a relative 1e-7 (sums of such
#: values). DuckDB's ROUND scales, rounds and divides in binary, so at
#: a near-tie such as 0.6781874999999999 it returns 0.678188 where
#: Spark rounds the decimal value to 0.678187.
ABS_TOL = 1.5e-6
REL_TOL = 1e-7


def _norm(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, dt.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"dt:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(str(_norm(x)) for x in v) + "]"
    if isinstance(v, float):
        return v
    return f"{type(v).__name__[0]}:{v}"


def _sort_key(row: tuple) -> tuple:
    # exact columns first, so rows whose doubles differ by a rounding
    # unit still pair up
    return (
        tuple(x for x in row if not isinstance(x, float)),
        tuple(x for x in row if isinstance(x, float)),
    )


def compare_rows(
    key: str, s_cols: list[str], s_rows: list, o_cols: list[str], o_rows: list
) -> tuple[list[str], int]:
    """Spark rows against oracle rows: column names (any order), row
    count and the multiset of canonicalised values, doubles within
    ``ABS_TOL``/``REL_TOL``. Returns the mismatches and how many
    doubles differed at all."""
    if not o_rows:
        return [f"{key}: oracle returned no rows"], 0
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in o_cols):
        return [f"{key}: columns {sorted(s_cols)} != oracle {sorted(o_cols)}"], 0
    if len(s_rows) != len(o_rows):
        return [f"{key}: {len(s_rows)} rows != oracle {len(o_rows)}"], 0
    s_ord = sorted(range(len(s_cols)), key=lambda i: s_cols[i].lower())
    o_ord = sorted(range(len(o_cols)), key=lambda i: o_cols[i].lower())
    s_set = sorted((tuple(_norm(r[i]) for i in s_ord) for r in s_rows), key=_sort_key)
    o_set = sorted((tuple(_norm(r[i]) for i in o_ord) for r in o_rows), key=_sort_key)
    near = 0
    for a, b in zip(s_set, o_set):
        for x, y in zip(a, b):
            if x == y or (x != x and y != y):  # equal, or both NaN
                continue
            if isinstance(x, float) and isinstance(y, float) and math.isclose(
                x, y, rel_tol=REL_TOL, abs_tol=ABS_TOL
            ):
                near += 1
                continue
            return [f"{key}: values differ from oracle, first pair {a} / {b}"], near
    return [], near
