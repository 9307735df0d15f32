"""Per-unit bloom-filter indexes → equality file skipping.

Delta supports bloom filter indexes for exactly this: min/max stats
prune range predicates well on clustered columns but do nothing for
point lookups on high-cardinality, unclustered columns (an id probe at
100 TB otherwise opens every file). A small per-unit bloom bitmap
answers "is value X definitely absent from this unit?" and lets
``read_where`` drop whole units before Spark plans the scan.

Design:

- A value's K = 4 bit positions are words 0-3 of the portable hash
  (``functions/hashing.py``) of its CAST-to-string form, mod m. The
  JVM and the driver compute the same words, which is what makes
  write-side build and read-side probe agree. Only int/bigint/string
  columns are indexed (their string forms match across engines
  exactly).
- Build is ONE distributed aggregation per unit+column: every row maps
  to k=4 bit positions, positions are distinct-collected (bounded by
  the bitmap size m, never by row count) and folded into a bitmap on
  the driver. On a real cluster this folds into the write tasks'
  commit metrics, like Delta's own stats collection.
- Bitmaps are sidecar files (``_bloom/{unit}/{col}.bloom``), not
  commit-JSON payload — the commit records only {m, k, path}. Delta
  keeps its bloom indexes in sidecar ``_delta_index`` files for the
  same reason.
- Pruning is strictly an optimization: a missing/corrupt sidecar or a
  non-equality predicate degrades to "scan everything", never to
  wrong answers (read_where re-applies the full predicate).

Sizing: m defaults to 10 bits per expected row (~1% false positives
with k=4), snapped to a power of two in [2^13, 2^22] (1 KiB–512 KiB
per column per unit).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.hashing import (
    portable_hash,
    portable_hash_of,
)

K = 4
_MIN_BITS = 1 << 13
_MAX_BITS = 1 << 22

_INDEXABLE = {"int", "bigint", "smallint", "tinyint", "string"}


def bitmap_size(expected_rows: int) -> int:
    m = _MIN_BITS
    while m < expected_rows * 10 and m < _MAX_BITS:
        m <<= 1
    return m


def positions_expr(col: str, m: int):
    """Spark-side: array of K bit positions for a value (whole-stage
    codegen, no Python)."""
    v = F.col(col).cast("string")
    return F.array(*[(portable_hash(v, i) % m).cast("int") for i in range(K)])


def positions_for_value(value, m: int) -> list[int]:
    """Driver-side twin of ``positions_expr`` (must match bit-for-bit;
    str() of Python int/str equals Spark's CAST AS STRING for
    int/bigint/string columns)."""
    return [portable_hash_of(str(value), i) % m for i in range(K)]


def build_bitmap(df: DataFrame, col: str, m: int) -> bytes | None:
    """One aggregation job: distinct bit positions of every non-null
    value (≤ m values regardless of row count), folded into a bitmap.
    Returns None when the column saturates the filter (every bit set —
    recording it would cost space and prune nothing)."""
    rows = (
        df.filter(F.col(col).isNotNull())
        .select(F.explode(positions_expr(col, m)).alias("p"))
        .distinct()
        .collect()
    )
    if len(rows) >= m:
        return None
    bits = bytearray(m // 8)
    for r in rows:
        p = r["p"]
        bits[p >> 3] |= 1 << (p & 7)
    return bytes(bits)


def may_contain(bitmap: bytes, m: int, value) -> bool:
    return all(
        bitmap[p >> 3] & (1 << (p & 7))
        for p in positions_for_value(value, m)
    )


def indexable_columns(df: DataFrame, requested: list[str]) -> list[str]:
    types = dict(df.dtypes)
    return [c for c in requested if types.get(c) in _INDEXABLE]


def prune_units_bloom(
    bloom_dir: str, unit_stats: dict, units: list[str], conjuncts: list
) -> list[str]:
    """Drop units whose bloom filter proves an equality conjunct can
    never match. Conservative on every failure path: no bloom entry,
    unreadable sidecar, non-equality op → unit survives."""
    eqs = [(c, v) for c, op, v in conjuncts if op == "="]
    if not eqs:
        return list(units)

    # TYPE-SOUND probes only: the bitmap holds CAST(col AS STRING)
    # forms, while Spark's equality COERCES (user_id = 5.0 matches
    # bigint 5; s = 1 matches string '01') — a str(literal) probe in
    # those shapes proves nothing and pruning on it silently drops
    # matching rows. The column's kind comes from unit stats min/max;
    # unknown kind (all-null stats) → never probe.
    def _col_kind(col: str) -> str | None:
        for u in units:
            ent = (unit_stats.get(u) or {}).get(col) or {}
            mn = ent.get("min")
            if mn is None:
                continue
            if ent.get("t"):
                return "temporal"
            if isinstance(mn, bool):
                return "other"
            if isinstance(mn, int):
                return "int"
            if isinstance(mn, str):
                return "str"
            return "other"
        return None

    kinds = {c: _col_kind(c) for c, _ in eqs}
    eqs = [
        (c, v)
        for c, v in eqs
        if (
            kinds[c] == "int"
            and isinstance(v, int)
            and not isinstance(v, bool)
        )
        or (
            kinds[c] == "str"
            and isinstance(v, str)
            and getattr(v, "kind", None) is None  # not a temporal lit
        )
    ]
    if not eqs:
        return list(units)
    cache: dict[str, bytes | None] = {}
    keep = []
    for u in units:
        entry = (unit_stats.get(u) or {}).get("_bloom") or {}
        alive = True
        for col, val in eqs:
            meta = entry.get(col)
            if not meta:
                continue
            path = os.path.join(bloom_dir, meta["path"])
            if path not in cache:
                try:
                    with open(path, "rb") as fh:
                        cache[path] = fh.read()
                except OSError:
                    cache[path] = None
            bm = cache[path]
            if bm is None or len(bm) * 8 != meta["m"]:
                continue
            if not may_contain(bm, meta["m"], val):
                alive = False
                break
        if alive:
            keep.append(u)
    return keep
