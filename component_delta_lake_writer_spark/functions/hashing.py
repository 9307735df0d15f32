"""The portable hash: the one owner of the engine's md5-prefix idiom.

Contract. The engine's portable hash of a string is the first 32 bits
of its md5 digest, read as an unsigned integer in ``[0, 2**32)``:

* Spark: ``CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT)``
  (``portable_hash``), evaluated by built-in expressions under
  whole-stage codegen, no Python.
* Driver: ``int(hashlib.md5(s.encode()).hexdigest()[:8], 16)``
  (``portable_hash_of``), for values the driver inlines into a plan or
  probes against persisted state.
* DuckDB oracle: ``('0x' || substr(md5(x), 1, 8))::BIGINT``. The
  oracle SQL spells this itself, so it stays an independent reference
  for every registry key that hashes.

Why md5-prefix: all three engines compute it over the UTF-8 bytes of
the string, so a hash-derived result (a MinHash signature, a sampling
bucket, a bootstrap weight) is bit-identical in Spark, on the driver
and in the oracle, across runs, partitionings and task retries.

NULL hashes to NULL in Spark (``md5(NULL)`` is NULL), so an operator
filters or ignores NULL inputs itself; the driver twin takes a ``str``.

Words. ``word`` i selects hex digits ``8i+1 .. 8i+8`` of the digest,
the i-th 32-bit word; word 0 is the portable hash. Bloom filters
(``sinks/bloom.py``) take their K = 4 bit positions from words 0-3 of
one md5 and persist bitmaps of them (sidecar files the commit names),
so the words of a value must not change while such tables exist.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash(x: Column | str, word: int = 0) -> Column:
    """32-bit word ``word`` of ``md5(x)`` as a BIGINT; NULL for NULL."""
    return F.conv(F.substring(F.md5(x), 1 + 8 * word, 8), 16, 10).cast("bigint")


def portable_hash_of(s: str, word: int = 0) -> int:
    """Driver-side twin of ``portable_hash`` over ``s``'s UTF-8 bytes."""
    return int(hashlib.md5(s.encode()).hexdigest()[8 * word : 8 * word + 8], 16)
