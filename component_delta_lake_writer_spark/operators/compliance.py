"""Compliance-grade erasure verification (GDPR / CCPA audits).

Hiding rows from the snapshot is not erasure — a regulator's question
is whether the erased keys survive in ANY byte under the table
directory: live data units, not-yet-vacuumed historical units and CDF
change files.  A row a merge-on-read delete only masked with a
deletion vector still holds its key bytes, so it counts as a leak
until OPTIMIZE rewrites its file and VACUUM reclaims the old one.
``erasure_audit`` answers it by
reading the RAW parquet files (pyarrow, column-pruned to the key
column — never through the table's snapshot logic, which is exactly
the layer being audited).

Scale posture: the r8 probe did this as a sequential driver loop
(right for sf0.01, wrong shape for a 100 TB table ≈ ~1 M files).
Past ``DISTRIBUTE_THRESHOLD`` files the scan fans out as ONE Spark
job over the file list — each task reads its slice's key columns and
intersects against the broadcast erase-key set, emitting only leaked
(file, key) pairs, so the job's output is O(leaks), not O(data).
Below the threshold the driver loop runs the SAME per-file function,
so the two paths cannot drift (the unit_stats.py:307 pattern).

The reference has no erasure surface at all (delete is delegated to
delta-rs tombstones, never verified byte-level); this is the audit a
training-data pipeline needs before certifying a corpus clean.
"""

from __future__ import annotations

import os

from component_delta_lake_writer_spark.sinks.unit_stats import (
    DISTRIBUTE_THRESHOLD,
)

# cap on leaked pairs RETURNED (not detected): a catastrophically
# failed erasure must not collect() the whole table back to the
# driver; the counts stay exact.  The cap is enforced EXECUTOR-side
# (each scan task samples within its share of the budget before the
# collect), so the driver payload is bounded even when every file
# still contains every key.
MAX_LEAK_DETAIL = 1000


def _audit_file(
    path: str,
    key_col: str,
    erased: frozenset,
    base_dir: str = "",
    physical_col: str | None = None,
) -> tuple:
    """(n_rows_checked, leaked_keys) for one parquet file — runs
    driver-side below the threshold and executor-side above it
    (imports stay inside so the pickled closure is light).

    A key column that is a PARTITION column never appears in the
    parquet bytes (hive layout strips it): the key value then lives
    in the DIRECTORY NAME, so the hive segments of the file's path
    are decoded and checked too — every file under ``key_col=42/``
    counts as rows of key 42, and a ``key_col=42`` directory
    surviving vacuum is exactly the erasure failure a regulator would
    read off the listing.  Partition values compare as STRINGS
    (directory encoding), so the erased set carries both raw and
    string forms.
    """
    import pyarrow.parquet as _pq

    from component_delta_lake_writer_spark.sinks.hive_layout import (
        decode_segments,
    )

    rel = (
        os.path.relpath(os.path.dirname(path), base_dir)
        if base_dir
        else os.path.dirname(path)
    )
    pvals = decode_segments(rel)
    if key_col in pvals:
        pf = _pq.ParquetFile(path)
        n = pf.metadata.num_rows
        v = pvals[key_col]
        return n, ([v] if v in erased else [])
    pf = _pq.ParquetFile(path)
    # a columnMapping RENAME leaves the bytes under the PHYSICAL
    # parquet name — scanning for the logical name alone would read a
    # renamed column's table as "no key column anywhere" and report a
    # FALSE CLEAN; check both
    names = [
        c
        for c in dict.fromkeys((key_col, physical_col))
        if c is not None and c in pf.schema_arrow.names
    ]
    if not names:
        return 0, []
    rows = 0
    leaked: set = set()
    for c in names:
        vals = pf.read(columns=[c]).column(c).to_pylist()
        rows = max(rows, len(vals))
        leaked |= {v for v in set(vals) if v in erased}
    return rows, sorted(leaked, key=repr)


def list_parquet_files(table_dir: str) -> list[str]:
    """Every .parquet under the WHOLE table directory — data units and
    the change-data-feed files in _change_data (one copy each); sorted
    for determinism."""
    out: list[str] = []
    for root, _dirs, files in os.walk(table_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                out.append(os.path.join(root, fn))
    out.sort()
    return out


def erasure_audit(
    table,
    erased_keys,
    key_col: str,
    distribute_threshold: int = DISTRIBUTE_THRESHOLD,
    max_leak_detail: int = MAX_LEAK_DETAIL,
) -> dict:
    """Byte-level erasure audit of ``table`` (a ManagedTable): scan
    every parquet file under the table directory and report any
    occurrence of ``erased_keys`` in ``key_col``.

    ``erased_keys``: an iterable of key values or a single-column
    DataFrame.  The set is broadcast to the scan tasks — the right
    shape for erasure lists (bounded: thousands to low millions of
    subjects); for an unbounded key set, pre-filter with a bloom
    filter and pass the candidates.

    Returns ``{"files_scanned", "files_with_key_col", "rows_checked",
    "leak_count", "leaks": [(file, key), ...capped],
    "mapping_unresolved", "clean"}``.  Counts are
    exact; ``leaks`` detail is a bounded sample, capped at
    ``max_leak_detail`` EXECUTOR-side (each scan task samples within
    its share of the budget before the collect), so even a
    catastrophically failed erasure — every file still holding every
    key — ships O(max_leak_detail) detail to the driver, never
    O(files × keys).

    Name resolution: ``key_col`` matches both its logical name and
    its committed columnMapping PHYSICAL name (a renamed column's
    bytes stay under the old parquet name).  A commit-log read
    failure PROPAGATES — a compliance audit must fail loudly rather
    than silently skip mapping resolution and risk a false "clean"
    on a renamed key column.  Only a table object with no commit log
    at all (a raw-directory shim) degrades, and then the report
    carries ``mapping_unresolved=True`` so the caller can see the
    verdict covers the logical name only.  A DROPPED column is
    outside the mapping, so audit BEFORE dropping — or pass the old
    physical parquet name as ``key_col`` directly (files are matched
    by their own schema, so a physical name works verbatim).
    """
    spark = table.spark
    if hasattr(erased_keys, "collect"):  # DataFrame
        col = erased_keys.columns[0]
        raw = [r[col] for r in erased_keys.collect()]
    else:
        raw = list(erased_keys)
    # partition-directory values decode as STRINGS — carry both forms
    # so a hive `key_col=42/` segment matches an integer key 42
    erased = frozenset(raw) | frozenset(
        str(k) for k in raw if k is not None
    )
    files = list_parquet_files(table.path)
    kc = key_col
    er = erased

    base_dir = table.path
    # columnMapping-aware: a renamed column's bytes live under the
    # committed PHYSICAL name, which the scan must also check.  A
    # read failure here PROPAGATES — silently degrading to
    # logical-name-only could report a FALSE CLEAN on a renamed key
    # column, the one outcome a compliance audit must never produce.
    physical = None
    mapping_unresolved = False
    if hasattr(table, "latest_commit"):
        head = table.latest_commit()
        if head is not None and head.column_mapping:
            physical = head.column_mapping.get(key_col)
    else:
        # raw-directory shim: no commit log exists, so there is no
        # mapping to resolve — flag it so the caller knows the
        # verdict covers the logical name only
        mapping_unresolved = True
    phys = physical

    def scan_slice(paths, detail_cap: int) -> list[tuple]:
        # executor-side detail cap: each row is (path, n_rows,
        # exact_leak_count, bounded_sample) — counts stay exact
        # while the sample spends a per-slice budget, so the driver
        # never receives O(files x keys) detail
        out = []
        budget = detail_cap
        for p in paths:
            n, leaked = _audit_file(p, kc, er, base_dir, phys)
            sample = leaked[:budget] if budget > 0 else []
            budget -= len(sample)
            out.append((p, n, len(leaked), sample))
        return out

    if spark is not None and len(files) >= distribute_threshold:
        sc = spark.sparkContext
        n_slices = max(1, min(len(files), sc.defaultParallelism * 2))
        # split the detail budget across slices so the TOTAL collect
        # payload stays O(max_leak_detail), not O(slices x cap)
        slice_cap = max(1, max_leak_detail // n_slices)

        def part(it):
            yield scan_slice(list(it), slice_cap)

        slices = (
            sc.parallelize(files, n_slices).mapPartitions(part).collect()
        )
        per_file = [row for sl in slices for row in sl]
    else:
        per_file = scan_slice(files, max_leak_detail)

    leaks: list[tuple] = []
    rows = 0
    with_col = 0
    leak_count = 0
    for path, n, n_leaked, sample in per_file:
        rows += n
        if n:
            with_col += 1
        leak_count += n_leaked
        for k in sample:
            if len(leaks) < max_leak_detail:
                leaks.append((os.path.relpath(path, table.path), k))
    return {
        "files_scanned": len(files),
        "files_with_key_col": with_col,
        "rows_checked": rows,
        "leak_count": leak_count,
        "leaks": leaks,
        "mapping_unresolved": mapping_unresolved,
        "clean": leak_count == 0,
    }
