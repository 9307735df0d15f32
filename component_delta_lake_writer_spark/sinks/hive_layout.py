"""One decoder for Spark's hive partition directory encoding.

Three code paths read ``col=value`` path segments (the ``partitionValues``
a new add action records, the CDF streaming source, the erasure
audit's listing). Reads never decode paths: the batch scan
(``sinks.scan``) and ``replace_where`` partition pruning take partition
values from the log's adds, which hold these same decoded strings.
Value comparison subtleties (booleans are
``true``/``false`` on disk, floats are Java ``Double.toString``,
NULL is ``__HIVE_DEFAULT_PARTITION__``, values are URL-quoted) must
not drift between them — this module is the single source of truth.
"""

from __future__ import annotations

import os
from urllib.parse import unquote

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def decode_segments(rel_path: str) -> dict[str, str | None]:
    """``a=1/b=x%20y`` → {'a': '1', 'b': 'x y'}; NULL markers → None."""
    out: dict[str, str | None] = {}
    if rel_path in (".", ""):
        return out
    for seg in rel_path.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            # Spark escapes the COLUMN NAME too (a column 'a b' writes
            # 'a%20b=v'); an un-unquoted key never matches the logical
            # column and its partition values silently go NULL
            out[unquote(k)] = None if v == HIVE_NULL else unquote(v)
    return out


def value_matches(disk: str | None, want) -> bool | None:
    """Does the on-disk string encode the Python value? Returns None
    (= unknown, stay conservative) for types whose Spark encoding is
    not reproduced here (floats: Java Double.toString; decimals;
    timestamps)."""
    if want is None or disk is None:
        return disk is None and want is None
    if isinstance(want, bool):
        return disk == ("true" if want else "false")
    if isinstance(want, int):
        try:
            return int(disk) == want
        except ValueError:
            return False
    if isinstance(want, str):
        return disk == want
    import datetime as _dt

    if isinstance(want, _dt.date) and not isinstance(want, _dt.datetime):
        return disk == want.isoformat()
    return None  # float/decimal/timestamp: encoding not reproduced
