"""Managed table: Parquet data + the Delta log — the engine's sink.

Re-expresses the reference's Delta write surface (delta-spark is not a
dependency here, so the table layer is built from scratch on Spark's
Parquet writer + an atomic commit log):

- load modes ``error | append | overwrite | upsert``
  (reference src/component.py:64-68,90-111,227-260)
- ``partition_by`` Hive-style layout (src/component.py:96,210-214)
- schema evolution ``schema_mode='merge'`` (src/component.py:97,109)
- compression / page-size writer properties (src/component.py:84-87)
- ``batch_size`` → ``maxRecordsPerFile`` (src/configuration.py:50)
- primary key carried as informational table metadata (OSS Delta also
  treats PKs as unenforced; SURVEY §4 note 2)

Commit protocol (optimistic, snapshot-isolated): each write lands
data under ``<path>/_data/<unit-uuid>/`` first, then claims the next
version by exclusive create of ``<path>/_delta_log/<version>.json``
— the Delta transaction log, the table's only log (Delta Lake, VLDB
2020, §3: an incremental action log + Parquet checkpoints, versions
claimed by put-if-absent). ``os.link`` is atomic and fails on an
existing entry on a posix filesystem; on object stores this maps to a
conditional PUT. Readers replay the log from its newest checkpoint
and read exactly the live files — uncommitted data is invisible, a
crashed write leaves no partial table (strictly stronger than the
reference's per-batch commit loop, SURVEY §4 "micro-batched write"
caution) and any Delta reader opens the same table. Old versions
remain addressable (time travel) until vacuumed or until log cleanup
passes them. Each ``ManagedTable`` memoises its last snapshot
(``Commit``) and advances it by the log's JSON tail.

Scale posture: a snapshot is a list of data directories, so appends
are O(1) log entries; ``optimize()`` compacts small files and collapses
the unit list; every read is one scan of the log's file list
(``sinks.scan``), and ``read_where`` skips files by their stats and
partition values.
"""

from __future__ import annotations

import collections
import contextlib
import itertools
import json
import os
import re
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field, fields, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from component_delta_lake_writer_spark.errors import (
    SchemaMismatchError,
    TableExistsError,
    UserException,
)
from component_delta_lake_writer_spark.session import local_relation
from component_delta_lake_writer_spark.sinks.scan import (
    POS,
    REL,
    scan_files,
)
from component_delta_lake_writer_spark.sinks.scan import (
    schema_view as _schema_view,
)
from component_delta_lake_writer_spark.sinks.unit_stats import (
    fold_file_stats,
    from_delta_stats,
    to_delta_stats,
)

_DATA = "_data"

# Deletion-vector match transfer-shape cutoff: matched (file,
# row-index) pairs up to this bound come back as a plain row collect
# (no Python workers, ~0.8 s cheaper at small shapes); above it the
# bitmaps are serialized executor-side and only binary blobs transfer.
_DV_COLLECT_MAX = 50_000
# Driver-only deletion-vector match tier: a key set and targeted units
# whose summed row stats both fit this bound are matched with
# pyarrow+pandas on the driver (zero Spark jobs). 4M rows × a few PK
# columns ≈ tens of MB of driver IO — the same order as the
# footer-stats reads the commit already performs.
_DV_DRIVER_SCAN_MAX = 4_000_000

# Properties the engine truth-tests — the only keys whose SQL string
# values 'true'/'false' normalize to booleans in set_properties
# (Delta's delta.* boolean semantics); every other key round-trips
# verbatim.
_BOOLEAN_PROPERTIES = {
    "enableChangeDataFeed",
    "changeDataFeedPreImages",
    "autoCompact",
    "delta.appendOnly",
    "delta.enableRowTracking",
    "delta.enableInCommitTimestamps",
}

# Materialized row-tracking columns (Delta's
# delta.rowTracking.materializedRow{Id,CommitVersion}ColumnName
# mechanism): OPTIMIZE under row tracking writes each row's id into
# these PHYSICAL parquet columns — absent from the committed schema,
# so ordinary reads never see them — and id-attach reads coalesce
# them over the fresh base-id arithmetic. That is what makes row ids
# survive compaction (the spec's dataChange=false preservation rule).
_MAT_ROW_ID = "_rt_mat_row_id"
_MAT_RCV = "_rt_mat_rcv"

# Change-feed classification lives in the light sinks.cdf_actions
# module, shared with the streaming source (whose Python workers import
# it, not this 5k-line engine).
from component_delta_lake_writer_spark.sinks.cdf_actions import (  # noqa: E402
    commit_changes,
)

_OPERATION_NAMES = {
    "create": "CREATE TABLE AS SELECT",
    "overwrite": "WRITE",
    "append": "WRITE",
    "upsert": "MERGE",
    "delete": "DELETE",
    "update": "UPDATE",
    "replace_where": "WRITE",  # Delta logs replaceWhere as WRITE w/ predicate
    "optimize": "OPTIMIZE",
    "restore": "RESTORE",
    "add_column": "ADD COLUMNS",
    "drop_column": "DROP COLUMNS",
    "rename_column": "RENAME COLUMN",
    "alter_column_default": "ALTER COLUMN",
    "widen_column_type": "ALTER COLUMN",
    "set_properties": "SET TBLPROPERTIES",
    "add_constraint": "ADD CONSTRAINT",
    "drop_constraint": "DROP CONSTRAINT",
    "convert": "CONVERT",
    "analyze": "COMPUTE STATISTICS",
    "sync_metadata": "CONVERT",
}

@dataclass
class Commit:
    """One table version as the engine works with it — a view of the
    ``_delta_log`` state (``ManagedTable._view``), never stored on its
    own. Each field's comment names the action that carries it."""

    version: int
    action: str  # commitInfo.engineAction
    # dirs under _data/ (the add paths' unit segment, first-add order)
    data_units: list[str]
    schema_json: str
    partition_by: list[str] = field(default_factory=list)
    primary_key: list[str] = field(default_factory=list)
    timestamp_ms: int = 0
    properties: dict = field(default_factory=dict)
    # Data-skipping stats: {unit: {"_rows": n, col: {min, max, nulls},
    # "_bloom": …}} — the fold of the unit's file stats, bloom sidecars
    # from their tags. A file without stats has "_rows" None and never
    # prunes.
    stats: dict = field(default_factory=dict)
    # The live files, one record per add: {unit: {table-relative
    # parquet path: record}}. A record holds the add's own fields under
    # their own names — size, modificationTime, partitionValues (value
    # strings, None = null), stats (parsed to the per-file shape of
    # ``stats``), tags, and when present deletionVector (merge-on-read
    # deletes: the positions, not the keys), baseRowId and
    # defaultRowCommitVersion (row tracking: a row's stable id is
    # baseRowId + its position in the file; ids never change once
    # assigned). Every read and rewrite takes its files from here.
    files: dict = field(default_factory=dict)
    # ALTER TABLE … RENAME COLUMN (Delta column mapping, mode=name):
    # {logical_name: physical_parquet_name} for columns whose on-disk
    # name differs from the committed schema name. Reads scan under
    # physical names and alias to logical; writes translate logical →
    # physical so every unit stays uniform on disk; unit stats are
    # keyed physical. Reset by full rewrites (optimize — Delta's
    # REORG materialization). metaData's columnMapping field metadata.
    column_mapping: dict = field(default_factory=dict)
    # Idempotent-writer watermarks (Delta's setTransaction/txn action):
    # {appId: last applied writer version}. A write carrying
    # txn=(appId, v) with v <= txns[appId] is a NO-OP — the
    # exactly-once contract streaming foreachBatch / retried jobs rely
    # on. Carried forward by every commit (merged in ManagedTable._next);
    # txn actions.
    txns: dict = field(default_factory=dict)
    # COPY INTO ingest log: names of JSON sidecars under _ingest/, each
    # listing source files already loaded — re-running the same COPY
    # INTO skips them (file-level idempotent ingest). Carried forward
    # by ManagedTable._next; the engine.ingest domainMetadata.
    ingest_sidecars: list = field(default_factory=list)
    # rowIdHighWaterMark (the delta.rowTracking domainMetadata):
    # highest fresh row id ever assigned; -1 = none.
    row_id_high_water: int = -1
    # Clustered-table state (Delta clustering writer feature): the
    # LOGICAL columns the table was last clustered by via
    # optimize(cluster_by=/zorder_by=). Carried forward by
    # ManagedTable._next (Delta keeps clustering columns as table state
    # across appends — new data is simply unclustered until the next
    # OPTIMIZE); the delta.clustering domainMetadata. [] = never
    # clustered.
    clustered_by: list = field(default_factory=list)
    # Change data feed: table-relative paths of THIS version's change
    # files (under _change_data/, physical column names plus
    # _change_type) — its cdc actions. Never carried forward; a
    # version without them has its changes derived from its adds.
    cdc_files: list = field(default_factory=list)

    @property
    def deletion_vectors(self) -> dict:
        """{table-relative parquet path: deletionVector descriptor} of
        every live file with deleted rows, read off the records."""
        return {
            p: r["deletionVector"]
            for recs in self.files.values()
            for p, r in recs.items()
            if r.get("deletionVector")
        }


_COMMIT_FIELDS = {f.name for f in fields(Commit)}


def _record(add: dict, temporal: frozenset) -> dict:
    """A live file's record (``Commit.files``): its add without the
    path and dataChange, stats parsed to the per-file shape."""
    rec = {k: v for k, v in add.items() if k not in ("path", "dataChange")}
    rec["stats"] = from_delta_stats(add.get("stats"), temporal)
    return rec


def _fold_unit(recs: dict) -> dict:
    """A unit's stats (``Commit.stats``) from its files' records: their
    stats folded, and the bloom sidecars their tags name."""
    st = fold_file_stats({p: r["stats"] for p, r in recs.items()})
    bloom = (next(iter(recs.values()), {}).get("tags") or {}).get(
        "engine.bloom"
    )
    if bloom:
        st["_bloom"] = json.loads(bloom)
    return st


def _live_rows(c: Commit) -> int | None:
    """Rows of ``c`` by its metadata: the files' row counts minus what
    their deletion vectors delete. None when some file has no count."""
    n = 0
    for recs in c.files.values():
        for r in recs.values():
            rows = r["stats"].get("_rows")
            if rows is None:
                return None
            n += rows - int((r.get("deletionVector") or {}).get("cardinality", 0))
    return n


def _empty_first_file(recs: dict) -> str | None:
    """The file Spark keeps for an empty first input partition (so an
    all-empty write still records its schema), when other files sit
    beside it at the top of a new unit: committed, it would be a
    0-record add."""
    top = [p for p, r in recs.items() if not r["partitionValues"]]
    parts = [p for p in top if "/part-" in p]
    first = [p for p in parts if "/part-00000-" in p]
    if len(parts) > 1 and len(first) == 1:
        return first[0] if recs[first[0]]["stats"]["_rows"] == 0 else None
    return None


def _dv_unit(rel: str) -> str:
    """Data unit of a table-relative parquet path (``_data/<unit>/…``)."""
    return rel.split("/", 2)[1]


def _prop_on(props: dict | None, key: str) -> bool:
    """Boolean table property, Delta-style: True or 'true' (any case)."""
    v = (props or {}).get(key)
    return v is True or str(v).lower() == "true"


def txn_applied(head: Commit | None, txn: tuple[str, int] | None) -> bool:
    """Delta's idempotent-writer rule (setTransaction): a write carrying
    ``txn=(app_id, v)`` is already in the table at ``head`` when that
    app's watermark is at or past ``v``."""
    return (
        txn is not None
        and head is not None
        and (head.txns or {}).get(txn[0], -(1 << 62)) >= txn[1]
    )


class ManagedTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        # (log state, Commit, entry identity) of the last snapshot this
        # instance read or wrote — advanced in place by the JSON tail,
        # replaced by _publish; the lock keeps threads sharing the
        # instance (e.g. foreachBatch callbacks) from advancing it twice
        self._snap: tuple[dict, Commit, tuple] | None = None
        self._lock = threading.RLock()

    # ---------- log plumbing ----------

    @property
    def _log_dir(self) -> str:
        return os.path.join(self.path, "_delta_log")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.path, _DATA)

    def exists(self) -> bool:
        return (
            os.path.exists(os.path.join(self._log_dir, f"{0:020d}.json"))
            or os.path.exists(os.path.join(self._log_dir, "_last_checkpoint"))
            or os.path.isdir(self._legacy_dir)
        )

    def _versions(self) -> list[int]:
        from component_delta_lake_writer_spark.sinks.delta_log import (
            _log_versions,
        )

        if not os.path.isdir(self._log_dir):
            return []
        return _log_versions(self._log_dir)

    def latest_commit(self) -> Commit | None:
        snap = self._snapshot()
        return snap[1] if snap is not None else None

    def _head(self) -> Commit:
        """The latest commit; no table is an error."""
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
        return prev

    def commit_at(self, version: int) -> Commit:
        snap = self._snapshot(version)
        if snap is None:
            raise UserException(f"No table at {self.path}")
        return snap[1]

    def _check_converted(self) -> None:
        if os.path.isdir(self._legacy_dir):
            raise UserException(
                f"Table at {self.path} still carries the snapshot log "
                f"{self._legacy_dir} of an earlier engine version; run "
                "sync_metadata() (MSCK REPAIR TABLE … SYNC METADATA) "
                "once to convert it (MIGRATION.md)."
            )

    def _entry_id(self, version: int) -> tuple | None:
        """Identity of the log entry for ``version`` (None when it is
        not there): a table dropped and recreated to the same version
        has a different file behind the same name."""
        try:
            st = os.stat(os.path.join(self._log_dir, f"{version:020d}.json"))
        except FileNotFoundError:
            return None
        return st.st_ino, st.st_mtime_ns, st.st_ctime_ns, st.st_size

    def _remember(self, state: dict, commit: Commit) -> None:
        ident = self._entry_id(commit.version)
        self._snap = (state, commit, ident) if ident is not None else None

    def _snapshot(self, version: int | None = None):
        """(log state, Commit) at ``version`` (None: the head), or None
        for no table. The memo serves repeated calls: it advances by
        the JSON entries after it (two ``stat`` calls when nothing
        changed) as long as its own entry is the file it was read
        from; anything older replays from the nearest checkpoint."""
        from component_delta_lake_writer_spark.sinks.delta_log import (
            _replay_steps,
        )

        with self._lock:
            memo = self._snap
            if memo is not None and memo[2] != self._entry_id(memo[1].version):
                memo = self._snap = None  # the table was dropped or replaced
            if memo is not None and version == memo[1].version:
                return memo[:2]
            base = memo
            if base is not None and version is not None and (
                version < base[1].version
            ):
                base = None
            if base is None:
                self._check_converted()
            state, commit = base[:2] if base is not None else (None, None)
            # advancing the memo folds each entry into its view; a fresh
            # replay (or a metaData change) builds the view once, last
            stale = base is None
            try:
                for state, touched in _replay_steps(
                    self.path, version, base=state
                ):
                    stale = stale or touched is None
                    if not stale:
                        commit = self._view(state, commit, touched)
                if stale and state is not None:
                    commit = self._view(state, None, None)
            except BaseException as exc:
                if base is not None:
                    self._snap = None  # the memo's state advanced part-way
                if isinstance(exc, ValueError):
                    raise UserException(str(exc)) from None
                raise
            if commit is None:
                return None
            if memo is None or base is not None or (
                commit.version > memo[1].version
            ):
                self._remember(state, commit)
            return state, commit

    def _walk(self, start: int | None = None, end: int | None = None):
        """Commits ``start``..``end`` (None: the oldest the log still
        holds / the head), one forward pass over the log — per-version
        ``commit_at`` would replay O(N²) actions."""
        from component_delta_lake_writer_spark.sinks.delta_log import (
            _replay_steps,
            oldest_version,
        )

        self._check_converted()
        if start is None:
            start = oldest_version(self.path)
            if start is None:
                return
        commit = None
        try:
            for state, touched in _replay_steps(self.path, end, first=start):
                commit = self._view(
                    state, commit if touched is not None else None, touched
                )
                if commit.version >= start:
                    yield commit
        except ValueError as exc:
            raise UserException(str(exc)) from None

    def _view(
        self, state: dict, prev: Commit | None, touched: list | None
    ) -> Commit:
        """The ``Commit`` a log state describes. Units are the ``_data``
        segments of the live add paths in first-add order; each live
        add becomes its file's record, and unit stats fold the records'
        stats; metaData carries
        schema, partitioning, column mapping, properties and primary
        key; txn / domainMetadata /
        commitInfo / cdc carry the rest. Given ``prev`` (the view of the
        state before ``touched`` changed), only the touched units are
        rebuilt and the others' records and stats are shared with
        ``prev`` (a Commit is never mutated once built): a full rebuild
        parses every file's stats, ~23 ms per append at 1,000
        single-file units against ~0.4 ms for the patch."""
        md = state["metaData"]
        cfg = md.get("configuration") or {}
        schema_json, mapping, temporal = _schema_view(md["schemaString"])
        adds = state["adds"]
        if prev is None or touched is None:
            build: dict[str, dict] = {}
            for p, a in adds.items():
                build.setdefault(_dv_unit(p), {})[p] = a
            units = list(build)
            stats: dict = {}
            files: dict = {}
        else:
            build = {}
            for p in touched:
                build.setdefault(_dv_unit(p), {})
            for u, unit_adds in build.items():
                for p in prev.files.get(u) or {}:
                    if p in adds:
                        unit_adds[p] = adds[p]
            for p in touched:
                if p in adds:
                    build[_dv_unit(p)].setdefault(p, adds[p])
            had = set(prev.data_units)
            units = [u for u in prev.data_units if build.get(u, True)] + [
                u for u, unit_adds in build.items()
                if unit_adds and u not in had
            ]
            stats = {u: s for u, s in prev.stats.items() if u not in build}
            files = {u: r for u, r in prev.files.items() if u not in build}
        for u, unit_adds in build.items():
            if unit_adds:
                files[u] = {
                    p: _record(a, temporal) for p, a in unit_adds.items()
                }
                stats[u] = _fold_unit(files[u])
        domains = state["domains"]

        def _domain(name: str) -> dict:
            d = domains.get(name)
            return json.loads(d["configuration"]) if d else {}

        ci = state["commitInfo"] or {}
        return Commit(
            version=state["version"],
            action=ci.get("engineAction")
            or str(ci.get("operation", "")).lower(),
            data_units=units,
            schema_json=schema_json,
            partition_by=list(md.get("partitionColumns") or []),
            primary_key=json.loads(cfg.get("engine.primaryKey", "[]")),
            timestamp_ms=int(
                ci.get("inCommitTimestamp", ci.get("timestamp", 0))
            ),
            properties=json.loads(cfg.get("engine.properties", "{}")),
            stats=stats,
            files=files,
            column_mapping=dict(mapping),
            txns={a: t["version"] for a, t in state["txns"].items()},
            ingest_sidecars=list(_domain("engine.ingest").get("sidecars", [])),
            row_id_high_water=int(
                _domain("delta.rowTracking").get("rowIdHighWaterMark", -1)
            ),
            clustered_by=[
                c[0]
                for c in _domain("delta.clustering").get(
                    "clusteringColumns", []
                )
            ],
            cdc_files=list(state["cdc"]),
        )

    def _next(
        self,
        prev: Commit | None,
        action: str,
        base: Commit | None = None,
        txn: tuple[str, int] | None = None,
        ingest_sidecar: str | None = None,
        new_dvs: dict | None = None,
        files: dict | None = None,
        **changes,
    ) -> Commit:
        """The version ``action`` makes after ``prev`` (None: the root,
        whose parent is the empty table): its parent plus ``changes``,
        ``Commit`` fields where None keeps the parent's value. Every
        rule for what a version inherits lives here:

        - version + 1, and the timestamp now; under in-commit
          timestamps never at or before the parent's (a regressed
          clock must not sort a commit before its parent), and the
          version that turns them on records the enablement point
          readers need (earlier commits time-travel by file time);
        - table state (units, schema, partitioning, primary key,
          properties, column mapping, clustering columns) is
          ``base``'s: the parent's, or for RESTORE the snapshot it
          brings back. Clustering columns stand until a clustering
          OPTIMIZE sets new ones (new data is simply unclustered);
        - file records: each unit keeps ``base``'s unless ``files``
          ({unit: records}) brings new ones — the units a writer adds,
          or ANALYZE's restated stats — whose unit stats are folded
          from them;
        - deletion vectors ride with their files' records: ``new_dvs``
          ({path: descriptor}) replaces a file's descriptor, and a
          rewritten unit's records drop with it;
        - writer state is the parent's, whatever ``base`` is: txn
          watermarks (plus ``txn``), COPY INTO sidecars (plus
          ``ingest_sidecar``), the row-id high-water mark;
        - row ids under row tracking: ``_assign_row_ids``;
        - change files never carry (they are the version's own)."""
        parent = prev or Commit(
            version=-1, action="", data_units=[], schema_json=""
        )
        src = base or parent
        commit = replace(
            src,
            **{k: v for k, v in changes.items() if v is not None},
            version=parent.version + 1,
            action=action,
            timestamp_ms=int(time.time() * 1000),
            txns={**parent.txns, **dict([txn] if txn else [])},
            ingest_sidecars=parent.ingest_sidecars + (
                [ingest_sidecar] if ingest_sidecar else []
            ),
            row_id_high_water=parent.row_id_high_water,
            cdc_files=[],
        )
        recs = {**src.files, **(files or {})}
        commit.files = {u: recs[u] for u in commit.data_units}
        commit.stats = {
            u: src.stats[u] if r is src.files.get(u) else _fold_unit(r)
            for u, r in commit.files.items()
        }
        for rel, d in (new_dvs or {}).items():
            u = _dv_unit(rel)
            if commit.files[u] is recs[u]:  # shared: never mutated
                commit.files[u] = dict(recs[u])
            commit.files[u][rel] = {
                **commit.files[u][rel], "deletionVector": d
            }
        ict = "delta.enableInCommitTimestamps"
        if prev is not None and _prop_on(commit.properties, ict):
            commit.timestamp_ms = max(
                commit.timestamp_ms, prev.timestamp_ms + 1
            )
            if not _prop_on(prev.properties, ict):
                commit.properties = {
                    **commit.properties,
                    "delta.inCommitTimestampEnablementVersion": str(
                        commit.version
                    ),
                    "delta.inCommitTimestampEnablementTimestamp": str(
                        commit.timestamp_ms
                    ),
                }
        if _prop_on(commit.properties, "delta.enableRowTracking"):
            self._assign_row_ids(commit, prev)
        return commit

    def _publish(
        self,
        commit: Commit,
        prev: Commit | None = None,
        cdc_files: list[tuple[str, int]] = (),
    ) -> Commit:
        """Commit ``commit`` (``_next(prev, …)``, built against the
        snapshot ``prev`` it was read from) as the next log entry and
        return it as the snapshot now stands — the view of the log
        every later reader replays, which replaces ``commit``'s own
        bookkeeping.

        ``cdc_files``: the change files this commit wrote
        (``_write_change_files``), which become its cdc actions. A
        commit refused here, or beaten to its version, removes them:
        no entry names them."""
        try:
            return self._publish_entry(commit, prev, cdc_files)
        except UserException:
            for d in {os.path.dirname(rel) for rel, _size in cdc_files}:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
            raise

    def _publish_entry(
        self, commit: Commit, prev: Commit | None, cdc_files
    ) -> Commit:
        # delta.appendOnly (Delta's append-only table property): any
        # commit that logically deletes or replaces rows is refused —
        # removed units, new deletion vectors, and DML/
        # rewrite actions. Metadata-only and pure-rewrite maintenance
        # (optimize/analyze/clone bookkeeping) keeps working because
        # it changes no logical rows.
        if prev is not None and _prop_on(prev.properties, "delta.appendOnly"):
            new_dvs = any(
                prev.deletion_vectors.get(rel) != d
                for rel, d in commit.deletion_vectors.items()
            )
            if new_dvs or commit.action in (
                "delete", "update", "overwrite", "upsert",
                "replace_where", "restore", "truncate",
            ):
                raise UserException(
                    "delta.appendOnly forbids deletes, updates, and "
                    f"rewrites (refused {commit.action!r} commit)."
                )
        # Column-mapping invariant: on-disk (physical) names must stay
        # unique or the physical scan schema is ambiguous. Guards the
        # rename/add/schema-merge composition paths in one place.
        schema = T.StructType.fromJson(json.loads(commit.schema_json))
        names = {f.name for f in schema.fields}
        reserved = {"_rows", "_files", "_bloom"} & names
        if reserved:
            # these key the commit's stats dict alongside column names;
            # a column so named would clobber the row count / per-file
            # detail and crash every stats consumer downstream
            raise UserException(
                f"Column names {sorted(reserved)} are reserved by the "
                "engine's unit statistics; rename them before writing."
            )
        if _prop_on(commit.properties, "delta.enableRowTracking"):
            clash = {_MAT_ROW_ID, _MAT_RCV} & names
            if clash:
                # the materialized row-id columns live in the same
                # parquet namespace as data columns on rewrite
                raise UserException(
                    f"Column names {sorted(clash)} are reserved by row "
                    "tracking's materialized id columns; rename them or "
                    "disable delta.enableRowTracking."
                )
        phys = [
            commit.column_mapping.get(f.name, f.name) for f in schema.fields
        ]
        if len(set(phys)) != len(phys):
            dupes = sorted({p for p in phys if phys.count(p) > 1})
            raise UserException(
                "Physical column name collision under column mapping: "
                f"{dupes}. Rename the new column or run optimize() to "
                "materialize pending renames first."
            )
        from component_delta_lake_writer_spark.sinks.delta_log import (
            _empty_state,
            maybe_write_checkpoint,
            write_delta_log_entry,
            write_log_compaction,
        )

        with self._lock:
            state, base = (
                (_empty_state(), None) if prev is None
                else self._snapshot(prev.version)
            )
            actions = self._log_actions(commit, prev, state, cdc_files)
            try:
                touched = write_delta_log_entry(
                    self.path, commit.version, actions, state
                )
                new = self._view(state, base, touched)
            except UserException:  # lost the claim; state untouched
                raise
            except BaseException:
                self._snap = None  # claimed: the memo's state advanced
                raise
            self._remember(state, new)
        # Delta protocol checkpointing: every 10th version materializes
        # the snapshot state so readers stop replaying the whole log
        maybe_write_checkpoint(
            self.path, commit.version, properties=commit.properties
        )
        # opt-in minor log compaction (mirror.logCompactionInterval=k):
        # every k commits, reconcile the last k entries into one
        # {start}.{end}.compacted.json so readers walk the
        # post-checkpoint tail in O(tail/k) file opens. Skipped on
        # checkpoint boundaries (the checkpoint already covers them).
        try:
            k = int(
                (commit.properties or {}).get(
                    "mirror.logCompactionInterval", 0
                )
            )
        except (TypeError, ValueError):
            k = 0
        if (
            k > 1
            and (commit.version + 1) % k == 0
            and (commit.version + 1) % 10 != 0
            and commit.version + 1 >= k
        ):
            try:
                write_log_compaction(
                    self.path, commit.version - k + 1, commit.version
                )
            except (OSError, ValueError):
                pass  # best-effort read optimization
        return new

    def _assign_row_ids(self, commit: Commit, prev: Commit | None) -> None:
        """Give every file record of ``commit`` its row ids under row
        tracking, and advance ``row_id_high_water``. A unit keeps the
        ids ``prev`` records for it, else the ids its own records carry
        (RESTORE brings the restored snapshot's): ids are immutable once
        assigned. Only new units — and every unit at the one-time
        backfill when tracking turns on — draw fresh ids past the
        high-water mark, counted by their records' row counts; a file
        whose add carried no stats has its footer read."""
        import pyarrow.parquet as pq

        prev_files = prev.files if prev is not None else {}
        hwm = max(
            prev.row_id_high_water if prev is not None else -1,
            commit.row_id_high_water,
        )
        for u in commit.data_units:
            recs = commit.files[u]
            ids = next(
                (
                    f for f in (prev_files.get(u), recs)
                    if f and next(iter(f.values())).get("baseRowId") is not None
                ),
                None,
            )
            if ids is recs:
                continue
            out = {}
            for p, r in recs.items():
                if ids is not None:
                    base = ids[p]["baseRowId"]
                    v = ids[p]["defaultRowCommitVersion"]
                else:
                    n = r["stats"].get("_rows")
                    if n is None:
                        n = pq.ParquetFile(
                            os.path.join(self.path, p)
                        ).metadata.num_rows
                    base, v = hwm + 1, commit.version
                    hwm += int(n)
                out[p] = {**r, "baseRowId": base, "defaultRowCommitVersion": v}
            commit.files[u] = out
        commit.row_id_high_water = hwm

    def _log_actions(
        self,
        commit: Commit,
        prev: Commit | None,
        state: dict,
        cdc_files: list | None = None,
        data_change: bool = True,
    ) -> list[dict]:
        """``commit`` as Delta actions against ``prev`` (read from
        ``state``): its log entry. Pure metadata — no log replay and no
        data IO: every add and remove is spelled from a file record.

        - txn for each watermark this commit advanced;
        - protocol / metaData when they change (``table_actions``);
          the configuration carries the TBLPROPERTIES view of the
          properties, the feature flags, and the exact properties and
          primary key as ``engine.properties`` / ``engine.primaryKey``;
        - domainMetadata: ``delta.clustering`` when the clustering
          columns change, ``delta.rowTracking`` (the high-water mark)
          under row tracking, ``engine.ingest`` when COPY INTO's
          sidecar list changes;
        - removes for every file of a dropped unit, adds (with stats,
          bloom tags, row ids and deletion vectors) for every file of a
          new one — or, dataChange=false, of a kept one whose stats
          changed (ANALYZE); the one-time row-id backfill when tracking
          turns on;
          a remove + re-add for each live file whose deletion vector
          changed (a descriptor replaces, it never adds);
        - cdc actions for ``cdc_files``; commitInfo (first under
          in-commit timestamps, as the spec requires)."""
        from component_delta_lake_writer_spark.sinks import delta_log as DL

        ts = commit.timestamp_ms
        props = commit.properties or {}
        prev_cfg = (state["metaData"] or {}).get("configuration") or {}
        prev_units = set(prev.data_units) if prev else set()
        live = set(commit.data_units)
        tracked = _prop_on(props, "delta.enableRowTracking")
        ict = _prop_on(props, "delta.enableInCommitTimestamps")
        clustered = list(commit.clustered_by or [])
        prev_clustered = list(prev.clustered_by or []) if prev else []
        # units whose records are not the parent's: only they can bring
        # new adds, new stats or new deletion vectors
        changed = [
            u for u in commit.data_units
            if prev is None or commit.files[u] is not prev.files.get(u)
        ]
        # feature flags; deletion vectors and the v2 checkpoint policy
        # never switch off again once on (readers may hold them)
        feat: dict = {}
        caps: set = set()
        if prev_cfg.get("delta.enableDeletionVectors") == "true" or any(
            r.get("deletionVector")
            for u in changed for r in commit.files[u].values()
        ):
            feat["delta.enableDeletionVectors"] = "true"
            caps.add("deletionVectors")
        if tracked:
            # external row-tracking readers resolve preserved ids
            # through these physical columns (written by rewrites)
            feat["delta.enableRowTracking"] = "true"
            feat["delta.rowTracking.materializedRowIdColumnName"] = _MAT_ROW_ID
            feat[
                "delta.rowTracking.materializedRowCommitVersionColumnName"
            ] = _MAT_RCV
            caps |= {"rowTracking", "domainMetadata"}
        if ict:
            feat["delta.enableInCommitTimestamps"] = "true"
            for k in (
                "delta.inCommitTimestampEnablementVersion",
                "delta.inCommitTimestampEnablementTimestamp",
            ):
                if k in props:
                    feat[k] = str(props[k])
            caps.add("inCommitTimestamp")
        if (
            props.get("delta.checkpointPolicy") == "v2"
            or prev_cfg.get("delta.checkpointPolicy") == "v2"
        ):
            feat["delta.checkpointPolicy"] = "v2"
            caps.add("v2Checkpoint")
        if clustered or prev_clustered:
            caps |= {"clustering", "domainMetadata"}
        if props.get("constraints"):
            caps.add("checkConstraints")
        configuration = {
            **DL.scalar_properties(props),
            **feat,
            "engine.properties": json.dumps(props),
            "engine.primaryKey": json.dumps(list(commit.primary_key or [])),
        }
        actions: list[dict] = [
            {"txn": {"appId": app, "version": v, "lastUpdated": ts}}
            for app, v in (commit.txns or {}).items()
            if prev is None or (prev.txns or {}).get(app) != v
        ]
        actions += DL.table_actions(
            state, commit.schema_json, commit.partition_by,
            commit.column_mapping or {}, configuration, caps, ts,
        )
        if clustered != prev_clustered:
            # RESTORE to a pre-clustering version re-emits it empty so
            # readers stop believing the old layout
            actions.append(DL.domain_action(
                "delta.clustering",
                {"clusteringColumns": [[c] for c in clustered]},
            ))
        if tracked:
            actions.append(DL.domain_action(
                "delta.rowTracking",
                {"rowIdHighWaterMark": int(commit.row_id_high_water)},
            ))
        sidecars = list(commit.ingest_sidecars or [])
        if sidecars != (list(prev.ingest_sidecars or []) if prev else []):
            actions.append(
                DL.domain_action("engine.ingest", {"sidecars": sidecars})
            )
        rt = {
            rel: {
                "baseRowId": int(r["baseRowId"]),
                "defaultRowCommitVersion": int(r["defaultRowCommitVersion"]),
            }
            for recs in (commit.files.values() if tracked else ())
            for rel, r in recs.items()
            if r.get("baseRowId") is not None
        }
        logged = state["adds"]

        def _remove(rel: str, rec: dict) -> dict:
            rm = {
                "path": DL._encode_path(rel),
                "deletionTimestamp": ts,
                "dataChange": True,
                # optional per spec; carried so the version checksum
                # (.crc) can maintain tableSizeBytes incrementally
                "size": rec["size"],
            }
            if rec.get("deletionVector"):
                # reconciliation is keyed by (path, dvId): a remove
                # without the descriptor would not cancel the add
                rm["deletionVector"] = rec["deletionVector"]
            return {"remove": rm}

        for u in prev.data_units if prev else []:
            if u not in live:
                for rel, rec in prev.files[u].items():
                    actions.append(_remove(rel, rec))
        emitted: set = set()
        for u in changed:
            recs = commit.files[u]
            old = prev.files.get(u) if prev else None
            if old is not None and (
                commit.stats[u] is prev.stats[u]
                or (
                    commit.stats[u] == prev.stats[u]
                    and {p: r["stats"] for p, r in recs.items()}
                    == {p: r["stats"] for p, r in old.items()}
                )
            ):
                continue
            # a new unit — or a kept one whose stats changed (ANALYZE),
            # re-added with dataChange=false to carry its new stats
            for rel, r in recs.items():
                emitted.add(rel)
                add = {
                    "path": DL._encode_path(rel),
                    "partitionValues": r.get("partitionValues") or {},
                    "size": r["size"],
                    "modificationTime": r["modificationTime"],
                    "dataChange": data_change and old is None,
                    **rt.get(rel, {}),
                }
                s = to_delta_stats(r["stats"])
                if s is not None:
                    add["stats"] = s
                if r.get("tags"):
                    add["tags"] = r["tags"]
                if r.get("deletionVector"):
                    # a re-added unit (RESTORE) brings its deletions
                    add["deletionVector"] = r["deletionVector"]
                actions.append({"add": add})
        dv_swaps = sorted(
            rel
            for u in changed
            if u in prev_units
            for rel, r in commit.files[u].items()
            if rel not in emitted
            and r.get("deletionVector")
            != prev.files[u][rel].get("deletionVector")
        )
        if (
            tracked
            and prev is not None
            and not _prop_on(prev.properties, "delta.enableRowTracking")
        ):
            # mid-history enablement BACKFILL (Delta's own enablement
            # shape): every live file re-commits its add with its ids,
            # dataChange=false — reconciliation is last-add-wins by
            # path, and without it external readers would resolve NULL
            # ids for every pre-enablement row. Record order, so the
            # entry does not depend on the random unit ids in the paths
            for rel in rt:
                if rel in emitted or rel in dv_swaps or rel not in logged:
                    continue
                actions.append({"add": {
                    **logged[rel], "dataChange": False, **rt[rel],
                }})
        for rel in dv_swaps:
            # retract the file's previous incarnation and re-add it with
            # the new descriptor (same physical parquet, same stats)
            u = _dv_unit(rel)
            add = {**logged[rel], "dataChange": True, **rt.get(rel, {})}
            add.pop("deletionVector", None)
            if commit.files[u][rel].get("deletionVector"):
                add["deletionVector"] = commit.files[u][rel]["deletionVector"]
            actions += [_remove(rel, prev.files[u][rel]), {"add": add}]
        for rel, size in cdc_files or []:
            actions.append({"cdc": {
                "path": DL._encode_path(rel),
                "partitionValues": {},
                "size": int(size),
                "dataChange": False,
            }})
        info = {
            "timestamp": ts,
            # DESCRIBE HISTORY on external readers shows real operation
            # names; the engine's own action rides next to it
            "operation": _OPERATION_NAMES.get(
                commit.action, commit.action.upper()
            ),
            "engineInfo": "component-delta-lake-writer-spark",
            "engineAction": commit.action,
        }
        if ict:
            # spec: under inCommitTimestamp, commitInfo MUST be the
            # FIRST action and carry the monotonic in-commit timestamp
            info["inCommitTimestamp"] = int(ts)
            return [{"commitInfo": info}] + actions
        return actions + [{"commitInfo": info}]

    def _mark_deleted(
        self,
        prev: Commit,
        units: list[str],
        primary_key: list[str] | None = None,
        keys: DataFrame | None = None,
        n_keys: float = 0.0,
        local_keys=None,
        condition: str | None = None,
    ) -> dict[str, dict]:
        """Merge-on-read delete: mark the rows of ``units`` (in the
        snapshot ``prev``) whose ``primary_key`` tuple is in ``keys`` —
        or, given ``condition``, the rows it is TRUE for — in Delta
        deletion vectors. Writes ONE DV file and returns {table-relative
        parquet path: descriptor} for every file whose bitmap grew;
        each new bitmap is the union with the file's live one (a
        descriptor replaces, it never adds). Runs BEFORE the version
        claim: a writer that dies after it leaves only an unreferenced
        DV file, which vacuum reclaims.

        Row identity is ``_metadata.row_index`` — the physical row
        position in the parquet file, exactly what the Delta DV bitmap
        indexes (delta PROTOCOL.md §Deletion Vectors). ``n_keys`` is the
        key count (for ``condition``: the targeted rows) and picks one
        of three tiers:

        - driver: ``local_keys()`` hands the keys over as Arrow, the
          layout is unpartitioned (hive partition columns live in
          paths, not files) and both the keys and the targeted rows fit
          ``_DV_DRIVER_SCAN_MAX`` → a pyarrow + pandas match with no
          Spark job. A distributed match costs ~0.5 s of fixed
          dispatch at the sf0.1 probe shape against ~0.01 s here; it
          never triggers at 100 TB and exists so metadata-scale tables
          stop paying that dispatch per commit;
        - collect (≤ ``_DV_COLLECT_MAX``): a broadcast semi-join whose
          (file, row) pairs come back as plain rows, with the keys as
          an Arrow ``LocalRelation`` when the driver has them;
        - bitmap: each file's bitmap is serialized on the executors
          (applyInPandas) and the driver receives one binary row per
          file — O(bitmap bytes), never O(deleted rows)."""
        from component_delta_lake_writer_spark.sinks import (
            deletion_vectors as DV,
        )

        mapping = prev.column_mapping or {}
        est = 0.0
        for u in units:
            r = (prev.stats.get(u) or {}).get("_rows")
            est += float(r) if r is not None else float("inf")
        found: dict[str, set] = {}
        if (
            local_keys is not None
            and not prev.partition_by
            and max(n_keys, est) <= _DV_DRIVER_SCAN_MAX
        ):
            found = self._driver_match(
                local_keys(), [p for u in units for p in prev.files[u]], mapping
            )
        elif units:
            scan = self._read_units(prev, units, positions=True)
            small = n_keys <= _DV_COLLECT_MAX
            if condition is not None:
                matched = scan.filter(
                    F.coalesce(F.expr(condition), F.lit(False))
                )
            else:
                if small and local_keys is not None:
                    build = local_relation(
                        self.spark, None, local_keys()
                    ).select(
                        *[
                            F.col(c).cast(scan.schema[c].dataType)
                            for c in primary_key
                        ]
                    )
                else:
                    build = keys.select(*primary_key)
                matched = scan.join(
                    F.broadcast(build), list(primary_key), "left_semi"
                )
            matched = matched.select(REL, POS)
            if small:
                for r in matched.collect():
                    found.setdefault(r[0], set()).add(int(r[1]))
            else:
                def _to_bitmap(pdf):
                    import pandas as pd

                    return pd.DataFrame(
                        {
                            REL: [pdf[REL].iloc[0]],
                            "_bm": [
                                DV.serialize_bitmap(
                                    int(i) for i in pdf[POS].to_numpy()
                                )
                            ],
                        }
                    )

                packed = matched.groupBy(REL).applyInPandas(
                    _to_bitmap, f"{REL} string, _bm binary"
                )
                for r in packed.collect():
                    found.setdefault(r[0], set()).update(
                        DV.deserialize_bitmap(bytes(r[1]))
                    )
        bitmaps: dict[str, list[int]] = {}
        for rel, idx in found.items():
            old = prev.files[_dv_unit(rel)][rel].get("deletionVector")
            if old is not None:
                idx = idx | set(DV.read_dv(self.path, old))
                if len(idx) == old["cardinality"]:
                    continue  # every match was already deleted
            bitmaps[rel] = sorted(idx)
        return DV.write_dv_file(self.path, bitmaps)

    def _driver_match(
        self, keys, files: list[str], mapping: dict
    ) -> dict[str, set]:
        """The driver tier of ``_mark_deleted``: row positions, per
        table-relative parquet file of ``files``, whose key tuple is in
        the Arrow table ``keys``. Each file is read whole (key columns
        only), which is exactly the ``_metadata.row_index`` position
        semantics."""
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        names = list(keys.column_names)
        # SQL join equality: NULL keys never match — drop them so the
        # pandas match can't pair NaN with NaN
        kmi = pd.MultiIndex.from_frame(keys.to_pandas().dropna())
        phys = [mapping.get(c, c) for c in names]
        out: dict[str, set] = {}
        for rel in files:
            fdf = pq.read_table(
                os.path.join(self.path, rel), columns=phys
            ).to_pandas()
            fdf.columns = names
            hit = np.nonzero(pd.MultiIndex.from_frame(fdf).isin(kmi))[0]
            if len(hit):
                out[rel] = set(hit.tolist())
        return out

    # ---------- write path ----------

    def _write_unit(
        self,
        df: DataFrame,
        partition_by: list[str],
        compression: str,
        max_records_per_file: int | None,
        page_size: int | None = 8 * 1024 * 1024,
    ) -> str:
        unit = uuid.uuid4().hex
        writer = df.write.mode("overwrite").option("compression", compression)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        if page_size:
            # reference hard-codes data_page_size_limit=8MiB (src/component.py:85)
            writer = writer.option("parquet.page.size", str(page_size))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        unit_dir = os.path.join(self._data_dir, unit)
        writer.parquet(unit_dir)
        # caches registered upstream (identity assignment pins its
        # input so __mid stays stable between the count collect and
        # this write) are no longer needed once the unit is on disk —
        # without this drain every identity-column batch leaked its
        # cached blocks for the session's lifetime
        for cached in getattr(self, "_pending_unpersist", []):
            try:
                cached.unpersist()
            except Exception:  # noqa: BLE001 — cleanup only
                pass
        self._pending_unpersist = []
        return unit

    @property
    def _bloom_dir(self) -> str:
        return os.path.join(self.path, "_bloom")

    def _unit_files(
        self,
        unit: str,
        props: dict | None = None,
        mapping: dict | None = None,
        written: bool = False,
    ) -> dict:
        """The file records (``Commit.files``) of a unit, in the order
        its adds are logged: one listing of its directory (size,
        modification time and the partition values of its Hive layout)
        and one pass over its footers (stats). A unit just ``written``
        loses Spark's empty first file. Bloom sidecars of the
        ``bloom_filter_columns`` property are written beside it and
        named in every record's tags."""
        from component_delta_lake_writer_spark.sinks import bloom
        from component_delta_lake_writer_spark.sinks.delta_log import (
            _walk_parquet,
        )
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            collect_unit_stats,
        )

        unit_dir = os.path.join(self._data_dir, unit)
        listing = _walk_parquet(self.path, os.path.join(_DATA, unit))
        cut = len(_DATA) + len(unit) + 2
        nic = None
        try:
            raw = (props or {}).get("delta.dataSkippingNumIndexedCols")
            if raw is not None and int(raw) >= 0:
                nic = int(raw)
        except (TypeError, ValueError):
            nic = None
        stats = collect_unit_stats(
            unit_dir, per_file=True, num_indexed_cols=nic,
            # past the file-count threshold the footer pass fans out
            # as a Spark job (one-shot CONVERT/ANALYZE of a large
            # pre-existing lake); incremental writes stay driver-side
            spark=self.spark,
            files=[rel[cut:] for rel, *_ in listing],
        )
        per_file = stats.get("_files") or {}
        recs = {
            rel: {
                "partitionValues": pvals,
                "size": size,
                "modificationTime": mtime,
                "stats": per_file[rel[cut:]],
            }
            for rel, size, mtime, pvals in listing
        }
        if written and (empty := _empty_first_file(recs)):
            del recs[empty]
            head, name = os.path.split(os.path.join(self.path, empty))
            for f in (name, f".{name}.crc"):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(head, f))
        cols = (props or {}).get("bloom_filter_columns") or []
        if cols and stats.get("_rows"):
            mapping = mapping or {}
            df = self.spark.read.parquet(unit_dir)
            phys = [mapping.get(c, c) for c in cols if mapping.get(c, c) in df.columns]
            m = bloom.bitmap_size(stats["_rows"])
            entry: dict = {}
            for c in bloom.indexable_columns(df, phys):
                bm = bloom.build_bitmap(df, c, m)
                if bm is None:
                    continue
                rel = os.path.join(unit, f"{c}.bloom")
                dest = os.path.join(self._bloom_dir, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                tmp = dest + f".tmp.{uuid.uuid4().hex}"
                with open(tmp, "wb") as fh:
                    fh.write(bm)
                os.replace(tmp, dest)
                entry[c] = {"m": m, "k": bloom.K, "path": rel}
            if entry:
                for r in recs.values():
                    r["tags"] = {"engine.bloom": json.dumps(entry)}
        return recs

    def _read_rewrite(
        self, prev: Commit, units: list[str], keep_ids: bool = True
    ) -> DataFrame:
        """The rows of ``prev``'s ``units`` that a rewrite reads. Under
        row tracking (unless ``keep_ids`` is False) each row brings its
        id and commit version in the materialized columns, which the
        rewritten unit stores physically: the row keeps its identity
        through the rewrite (Delta's preserved-row-id rule)."""
        if not (
            keep_ids and _prop_on(prev.properties, "delta.enableRowTracking")
        ):
            return self._read_units(prev, units)
        return self._read_units(
            prev, units, with_row_ids=True
        ).withColumnRenamed("_row_id", _MAT_ROW_ID).withColumnRenamed(
            "_row_commit_version", _MAT_RCV
        )

    def _write_rewrite(
        self,
        prev: Commit,
        untouched: list[str],
        df: DataFrame,
        compression: str,
        max_records_per_file: int | None,
        props: dict | None = None,
        mapping: dict | None = None,
    ) -> tuple[list[str], dict]:
        """(units, {new unit: file records}) of a successor of ``prev``
        that keeps the units ``untouched`` and adds ``df`` written as
        one new unit under ``mapping`` (default: ``prev``'s column
        mapping), with stats under ``props`` (default: ``prev``'s
        properties). A new unit with no rows is removed, not
        committed: it would be a 0-record add."""
        mapping = prev.column_mapping if mapping is None else mapping
        unit = self._write_unit(
            self._to_physical(df, mapping),
            prev.partition_by,
            compression,
            max_records_per_file,
        )
        recs = self._unit_files(
            unit,
            props=prev.properties if props is None else props,
            mapping=mapping,
            written=True,
        )
        if any(r["stats"]["_rows"] for r in recs.values()):
            return list(untouched) + [unit], {unit: recs}
        shutil.rmtree(os.path.join(self._data_dir, unit), ignore_errors=True)
        return list(untouched), {}

    @staticmethod
    def _schema_compatible(table: T.StructType, incoming: T.StructType) -> bool:
        tf = {f.name: f.dataType for f in table.fields}
        return all(f.name in tf and tf[f.name] == f.dataType for f in incoming.fields)

    @staticmethod
    def _generation_exprs(commit: Commit) -> dict[str, str]:
        """Generated-column expressions stored as
        ``delta.generationExpression`` field metadata in the committed
        schema (exactly where the Delta protocol keeps them)."""
        schema = json.loads(commit.schema_json)
        return {
            f["name"]: (f.get("metadata") or {})["delta.generationExpression"]
            for f in schema.get("fields", [])
            if "delta.generationExpression" in (f.get("metadata") or {})
        }

    def _apply_generated(self, df: DataFrame, gen: dict[str, str]) -> DataFrame:
        """GENERATED ALWAYS AS enforcement (Delta generated columns):
        a batch missing a generated column gets it computed; a batch
        providing one must satisfy the expression (null-safe equality,
        one short-circuiting take(1) per provided column — the same
        posture as CHECK constraints)."""
        for col, expr in gen.items():
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr))
            else:
                bad = df.filter(
                    ~F.col(col).eqNullSafe(F.expr(expr))
                ).take(1)
                if bad:
                    raise UserException(
                        f"Generated column {col!r} = ({expr}) violated "
                        f"by provided value in row {bad[0].asDict()}"
                    )
        return df

    @staticmethod
    def _identity_specs(commit: Commit) -> dict[str, dict]:
        """IDENTITY column specs stored as ``delta.identity.{start,
        step,highWaterMark}`` field metadata in the committed schema
        (the same location the Delta protocol uses)."""
        schema = json.loads(commit.schema_json)
        out: dict[str, dict] = {}
        for f in schema.get("fields", []):
            meta = f.get("metadata") or {}
            if "delta.identity.start" in meta:
                out[f["name"]] = {
                    "start": meta["delta.identity.start"],
                    "step": meta["delta.identity.step"],
                    "highWaterMark": meta.get("delta.identity.highWaterMark"),
                }
        return out

    def _assign_identity(
        self, df: DataFrame, col: str, step: int, next_val: int
    ) -> tuple[DataFrame, int | None]:
        """Assign the contiguous value range next_val, next_val+step, …
        to ``col`` — zipWithIndex-shaped: per-partition positions are
        local (no global sort), one tiny per-partition count collect
        lifts them to global indexes. Returns (df, new high-water
        mark; None when the batch is empty). Stronger than Delta's own
        guarantee (unique + monotonic, gaps allowed): the assigned SET
        is exactly the arithmetic range, which is what makes the
        result oracle-checkable."""
        from pyspark.sql.window import Window

        base = (
            df.withColumn("__pid", F.spark_partition_id())
            .withColumn("__mid", F.monotonically_increasing_id())
            .persist()
        )
        # unpersisted by _write_unit once the batch lands on disk
        self._pending_unpersist = getattr(self, "_pending_unpersist", [])
        self._pending_unpersist.append(base)
        counts = {
            r["__pid"]: r["n"]
            for r in base.groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n = sum(counts.values())
        if n == 0:
            return df, None
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off = F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(k) for k in sorted(offsets)]),
                F.array(*[F.lit(offsets[k]) for k in sorted(offsets)]),
            ),
            F.col("__pid"),
        )
        w = Window.partitionBy("__pid").orderBy("__mid")
        idx = off + F.row_number().over(w) - 1
        out = base.withColumn(
            col, (F.lit(next_val) + F.lit(step) * idx).cast("long")
        ).drop("__pid", "__mid")
        return out, next_val + step * (n - 1)

    @staticmethod
    def _bump_identity_hwm(
        schema: T.StructType, hwms: dict[str, int]
    ) -> T.StructType:
        fields = []
        for f in schema.fields:
            if f.name in hwms:
                meta = dict(f.metadata or {})
                meta["delta.identity.highWaterMark"] = hwms[f.name]
                fields.append(
                    T.StructField(f.name, f.dataType, f.nullable, meta)
                )
            else:
                fields.append(f)
        return T.StructType(fields)

    @staticmethod
    def _stamp_generated(df: DataFrame, gen: dict[str, str]) -> DataFrame:
        """Record generation expressions as field metadata so they ride
        the committed schema_json (and the ``_delta_log`` metaData's
        schemaString)."""
        return df.select(
            *[
                F.col(c).alias(
                    c, metadata={"delta.generationExpression": gen[c]}
                )
                if c in gen
                else F.col(c)
                for c in df.columns
            ]
        )

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
        primary_key: list[str] | None = None,
        schema_mode: str | None = None,
        compression: str = "snappy",
        max_records_per_file: int | None = None,
        properties: dict | None = None,
        generated_columns: dict[str, str] | None = None,
        identity_columns: dict[str, dict] | None = None,
        txn: tuple[str, int] | None = None,
        ingest_sidecar: str | None = None,
    ) -> Commit:
        """One atomic table commit. ``mode`` per reference load modes.

        ``txn=(app_id, version)`` makes the write IDEMPOTENT (Delta's
        txn/setTransaction action, the exactly-once contract
        foreachBatch and retried jobs rely on): if the table has
        already applied ``app_id`` at a version >= ``version`` the
        call is a NO-OP returning the current snapshot's commit;
        otherwise the commit records the new watermark.

        ``generated_columns`` ({col: SQL expr}, create/overwrite only)
        declares Delta GENERATED ALWAYS AS columns: computed when a
        batch omits them, enforced when a batch provides them, and
        recorded as ``delta.generationExpression`` schema metadata so
        every later append/upsert honors them. Pair with
        ``partition_by`` on the generated column for the
        date-partition-from-timestamp layout.

        ``identity_columns`` ({col: {"start": n, "step": n}},
        create/overwrite only) declares GENERATED ALWAYS AS IDENTITY
        columns (Delta identity, writer v6): every batch that omits
        the column gets the next contiguous value range; providing it
        on write/append is refused; the high-water mark rides the
        schema metadata so appends continue where the last commit
        stopped."""
        if mode == "upsert":
            raise UserException("Use ManagedTable.upsert() for upsert mode.")
        if mode not in ("error", "append", "overwrite"):
            # X3: the reference raises UserException for unsupported
            # modes (src/component.py:64-68,178-182); without this an
            # unknown string would silently behave like append.
            raise UserException(
                f"Unsupported write mode {mode!r}; "
                "expected one of error/append/overwrite/upsert."
            )
        partition_by = partition_by or []
        prev = self.latest_commit()

        if txn_applied(prev, txn):
            return prev  # already applied — idempotent no-op

        if mode == "error" and prev is not None:
            # W1: delta-rs mode='error' semantics (src/component.py:64-68)
            raise TableExistsError(f"Table already exists at {self.path}")

        if mode == "append" and (generated_columns or identity_columns):
            raise UserException(
                "generated_columns/identity_columns are declared at "
                "create/overwrite; appends inherit the table's specs."
            )
        id_hwms: dict[str, int] = {}
        if prev is not None and mode == "append":
            df = self._apply_column_defaults(df, prev)
            df = self._apply_generated(df, self._generation_exprs(prev))
            for col, spec in self._identity_specs(prev).items():
                if col in df.columns:
                    raise UserException(
                        f"Column {col!r} is GENERATED ALWAYS AS IDENTITY; "
                        "values cannot be provided on append."
                    )
                hwm = spec.get("highWaterMark")
                nxt = (
                    spec["start"] if hwm is None else hwm + spec["step"]
                )
                df, new_hwm = self._assign_identity(
                    df, col, spec["step"], nxt
                )
                if new_hwm is not None:
                    id_hwms[col] = new_hwm
        else:
            if generated_columns:
                df = self._apply_generated(df, generated_columns)
                df = self._stamp_generated(df, generated_columns)
            if identity_columns:
                stamped: dict[str, dict] = {}
                for col, spec in identity_columns.items():
                    if col in df.columns:
                        raise UserException(
                            f"Column {col!r} is GENERATED ALWAYS AS "
                            "IDENTITY; values cannot be provided."
                        )
                    start = int(spec.get("start", 1))
                    step = int(spec.get("step", 1))
                    if step == 0:
                        raise UserException("identity step must be nonzero")
                    df, new_hwm = self._assign_identity(
                        df, col, step, start
                    )
                    stamped[col] = {
                        "delta.identity.start": start,
                        "delta.identity.step": step,
                        **(
                            {"delta.identity.highWaterMark": new_hwm}
                            if new_hwm is not None
                            else {}
                        ),
                    }
                df = df.select(
                    *[
                        F.col(c).alias(c, metadata=stamped[c])
                        if c in stamped
                        else F.col(c)
                        for c in df.columns
                    ]
                )

        if prev is not None and mode == "append":
            table_schema = T.StructType.fromJson(json.loads(prev.schema_json))
            if not self._schema_compatible(table_schema, df.schema):
                if schema_mode != "merge":
                    raise SchemaMismatchError(
                        "Incoming schema does not match table schema; "
                        "pass schema_mode='merge' to evolve (W5)."
                    )
                # schema_mode='merge' only ADDS columns; a type change
                # on an existing column is rejected, matching delta-rs
                # merge semantics — otherwise the committed schema_json
                # would no longer describe the written data unit.
                tf = {f.name: f.dataType for f in table_schema.fields}
                conflicts = [
                    f"{f.name}: table={tf[f.name].simpleString()} "
                    f"incoming={f.dataType.simpleString()}"
                    for f in df.schema.fields
                    if f.name in tf and tf[f.name] != f.dataType
                ]
                if conflicts:
                    raise SchemaMismatchError(
                        "schema_mode='merge' cannot change column types: "
                        + "; ".join(conflicts)
                    )
            if prev.partition_by and partition_by and (
                prev.partition_by != partition_by
            ):
                raise UserException(
                    f"partition_by {partition_by} != table layout {prev.partition_by}"
                )
            partition_by = prev.partition_by

        effective_props = properties or (prev.properties if prev else {})
        constraints = effective_props.get("constraints", {})
        if constraints:
            self._check_constraints(df, constraints)

        # Column mapping carries through appends (units written under
        # physical names); create/overwrite starts a fresh identity map.
        mapping = (
            dict(prev.column_mapping)
            if (prev is not None and mode == "append")
            else {}
        )
        unit = self._write_unit(
            self._to_physical(df, mapping),
            partition_by,
            compression,
            max_records_per_file,
        )

        if mode == "overwrite" or prev is None:
            commit = self._next(
                prev,
                "overwrite" if mode == "overwrite" else "create",
                txn=txn,
                ingest_sidecar=ingest_sidecar,
                data_units=[unit],
                schema_json=json.dumps(df.schema.jsonValue()),
                partition_by=partition_by,
                primary_key=primary_key or None,
                properties=properties or None,
                files={unit: self._unit_files(
                    unit, props=effective_props, mapping=mapping, written=True,
                )},
                column_mapping=mapping,
            )
            return self._publish(commit, prev)

        # Append: an append conflicts with a concurrent commit only on
        # the version NUMBER, never on data — the written unit stands,
        # so a losing racer re-derives the metadata against the new
        # head and re-publishes (Delta's optimistic-concurrency retry
        # for AppendOnly commits). Not retried when the batch consumed
        # identity values: those were allocated against the old
        # high-water mark and a concurrent append may have claimed the
        # same range.
        unit_files = {unit: self._unit_files(
            unit, props=effective_props, mapping=mapping, written=True,
        )}
        for attempt in range(6):
            table_schema = T.StructType.fromJson(json.loads(prev.schema_json))
            schema = self._merge_schemas(table_schema, df.schema)
            if id_hwms:
                schema = self._bump_identity_hwm(schema, id_hwms)
            commit = self._next(
                prev,
                "append",
                txn=txn,
                ingest_sidecar=ingest_sidecar,
                data_units=prev.data_units + [unit],
                schema_json=json.dumps(schema.jsonValue()),
                primary_key=primary_key or None,
                properties=properties or None,
                files=unit_files,
            )
            try:
                commit = self._publish(commit, prev)
                break
            except UserException as exc:
                retriable = (
                    "Concurrent commit conflict" in str(exc)
                    and not id_hwms
                    and attempt < 5
                )
                if not retriable:
                    raise
                prev = self.latest_commit()
                if txn_applied(prev, txn):
                    # a concurrent writer carrying the SAME txn won the
                    # race: this batch is already in the table — drop
                    # the orphaned unit and report their commit
                    shutil.rmtree(
                        os.path.join(self._data_dir, unit),
                        ignore_errors=True,
                    )
                    return prev
                if dict(prev.column_mapping) != mapping:
                    raise UserException(
                        "Concurrent commit changed the column mapping; "
                        "the written unit's physical names are stale — "
                        "retry the append."
                    ) from exc
                if not self._schema_compatible(
                    T.StructType.fromJson(json.loads(prev.schema_json)),
                    df.schema,
                ) and schema_mode != "merge":
                    raise SchemaMismatchError(
                        "Concurrent commit changed the table schema "
                        "incompatibly with this append."
                    ) from exc
        self._maybe_auto_compact(commit)
        return commit

    def _maybe_auto_compact(self, commit: Commit) -> None:
        """Post-commit auto-compaction (Delta autoCompact): when the
        table property ``autoCompact`` is set and the snapshot has
        accumulated at least ``autoCompact.minUnits`` (default 8)
        small units, fold them with compact_small_units — the
        small-files problem solved at the write site instead of by a
        scheduled OPTIMIZE. Best-effort: a compaction race or failure
        never fails the append that triggered it."""
        props = commit.properties or {}
        if not props.get("autoCompact"):
            return
        min_units = int(props.get("autoCompact.minUnits", 8))
        max_rows = int(props.get("autoCompact.maxRows", 100_000))
        cluster_by = props.get("autoCompact.clusterBy") or None
        small = [
            u
            for u in commit.data_units
            if (commit.stats.get(u) or {}).get("_rows") is not None
            and commit.stats[u]["_rows"] < max_rows
        ]
        if len(small) < min_units:
            return
        try:
            self.compact_small_units(
                max_rows=max_rows, cluster_by=cluster_by
            )
        except Exception as exc:  # noqa: BLE001 — the append
            # COMMITTED; surfacing any compaction error (Spark
            # analysis, IO, a dropped clusterBy column) would make the
            # caller believe the append failed and re-apply it. But a
            # silently-swallowed PERSISTENT failure leaves small files
            # accumulating invisibly — log it (ADVICE r4).
            import logging

            logging.getLogger(__name__).warning(
                "post-append auto-compaction failed on %s "
                "(append is committed; small units remain): %s",
                self.path,
                exc,
            )

    def compact_small_units(
        self,
        max_rows: int = 100_000,
        compression: str = "snappy",
        target_file_rows: int | None = None,
        cluster_by: list[str] | None = None,
    ) -> Commit | None:
        """Partial OPTIMIZE: fold only the units smaller than
        ``max_rows`` into one, leaving big units untouched — the
        operational answer to the small-files problem at 100 TB, where
        a full rewrite per compaction is unpayable. Delete sets scoped
        to the folded units are materialized by the rewrite; column
        mapping is preserved (untouched units keep physical names, so
        the folded unit is written physical too — unlike full
        optimize(), which rewrites everything and resets the map).
        Returns None when fewer than two small units exist."""
        prev = self._head()
        small = [
            u
            for u in prev.data_units
            if (prev.stats.get(u) or {}).get("_rows") is not None
            and prev.stats[u]["_rows"] < max_rows
        ]
        if len(small) < 2:
            return None
        untouched = [u for u in prev.data_units if u not in set(small)]
        # auto-compaction is dataChange=false like full optimize: rows
        # keep their identity through the fold — without it, a tracked
        # append with autoCompact on would silently churn ids
        df = self._read_rewrite(prev, small)
        if cluster_by:
            # keep the folded unit range-clustered so its files stay
            # prunable (the incremental spelling of
            # optimize(cluster_by=…) — clusteredAutoCompact)
            df = df.repartitionByRange(*cluster_by).sortWithinPartitions(
                *cluster_by
            )
        units, files = self._write_rewrite(
            prev, untouched, df, compression, target_file_rows
        )
        commit = self._next(prev, "optimize", data_units=units, files=files)
        return self._publish(commit, prev)

    @staticmethod
    def _merge_schemas(a: T.StructType, b: T.StructType) -> T.StructType:
        names = {f.name for f in a.fields}
        fields = list(a.fields) + [f for f in b.fields if f.name not in names]
        return T.StructType(fields)

    # ---------- read path ----------

    def commit_at_timestamp(self, timestamp_ms: int) -> Commit:
        """``TIMESTAMP AS OF`` resolution (Delta time travel): the
        latest commit whose timestamp is <= the given epoch-ms (what a
        reader at that wall-clock instant would have seen)."""
        best: Commit | None = None
        for c in self._walk():
            if c.timestamp_ms <= timestamp_ms:
                best = c
        if best is None:
            raise UserException(
                f"No commit at or before timestamp {timestamp_ms} at "
                f"{self.path}"
            )
        return best

    def read(
        self,
        version: int | None = None,
        timestamp_ms: int | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Snapshot read as ONE multi-path scan — optionally time-
        traveled by version (``VERSION AS OF``) or epoch-ms timestamp
        (``TIMESTAMP AS OF``).

        ``with_row_ids=True`` (row-tracking tables only) adds two
        metadata columns: ``_row_id`` (the stable Delta row id —
        the file's baseRowId plus the row's position in the file, or
        the materialized value after a rewrite) and
        ``_row_commit_version`` (the commit that last assigned/touched
        the row). The identity contract: a row KEEPS its id through
        appends, carried units, RESTORE, DV re-adds, OPTIMIZE /
        auto-compaction, copy-on-write DELETE survivors, UPDATE
        (attribution moves to the updating commit), replaceWhere's
        kept remainder, and the carried (not-matched) side of an
        unconditional COW MERGE. Rows REPLACED by a merge (matched
        updates — the row is rebuilt from the source relation) and all
        rows of a conditional merge draw fresh ids, as does any row
        inserted new.

        The committed schema is authoritative: passing it explicitly
        makes the parquet reader fill columns absent from older data
        units with NULL (exactly unionByName(allowMissingColumns)
        semantics) while keeping the plan a single FileScan — after N
        appends the read must NOT degrade into an N-scan union (plan
        size O(1) in commit count, the 100 TB append-loop shape).
        Type conflicts across units cannot arise: schema_mode='merge'
        only adds columns. Partition values come from the log's adds
        through one broadcast join on the file (``scan.scan_files``),
        never from the directory names: the plan is one FileScan at any
        unit, file or partition count, and Spark lists only the unit
        directories."""
        if version is not None and timestamp_ms is not None:
            raise UserException(
                "Pass either version or timestamp_ms, not both."
            )
        if timestamp_ms is not None:
            commit = self.commit_at_timestamp(timestamp_ms)
        elif version is not None:
            commit = self.commit_at(version)
        else:
            commit = self._head()
        return self._read_units(
            commit, commit.data_units, with_row_ids=with_row_ids
        )

    # ---------- schema DDL (ALTER TABLE ADD/DROP COLUMN) ----------

    def add_column(
        self, name: str, dtype: str, default: str | None = None
    ) -> Commit:
        """``ALTER TABLE … ADD COLUMN name type`` — metadata-only
        commit (no data rewritten): the column joins the committed
        schema and every existing unit reads it as typed NULL through
        the authoritative-schema scan, exactly Delta's instant ADD
        COLUMN. Later writes must include it (schema compatibility is
        checked against the evolved schema).

        ``default`` (a SQL expression string) declares a column
        DEFAULT (Delta's ``defaultColumns`` writer feature, stored as
        ``CURRENT_DEFAULT`` column metadata): future INSERTs that omit
        the column get the default computed; existing rows still read
        NULL (Delta semantics — defaults are insert-time, never
        backfill)."""
        prev = self._head()
        schema = T.StructType.fromJson(json.loads(prev.schema_json))
        if name in {f.name for f in schema.fields}:
            raise UserException(f"Column {name!r} already exists.")
        field = T.StructType.fromDDL(f"{name} {dtype}").fields[0]
        if default is not None:
            field = T.StructField(
                field.name, field.dataType, field.nullable,
                {**(field.metadata or {}), "CURRENT_DEFAULT": default},
            )
        new_schema = T.StructType(list(schema.fields) + [field])
        mapping = dict(prev.column_mapping)
        if mapping:
            # Under active column mapping every new column gets a fresh
            # physical name (Delta does the same with field ids): the
            # logical name may shadow some renamed column's old
            # physical bytes, which must stay invisible.
            mapping[name] = f"col-{uuid.uuid4().hex[:16]}"
        commit = self._next(
            prev, "add_column",
            schema_json=json.dumps(new_schema.jsonValue()),
            column_mapping=mapping,
        )
        return self._publish(commit, prev)

    def set_column_default(self, name: str, expr: str | None) -> Commit:
        """``ALTER TABLE … ALTER COLUMN name SET DEFAULT expr`` (or
        ``DROP DEFAULT`` with ``expr=None``) — metadata-only commit
        updating the field's ``CURRENT_DEFAULT``. Applies to future
        inserts only; stored rows are untouched (Delta defaultColumns
        semantics)."""
        prev = self._head()
        schema = T.StructType.fromJson(json.loads(prev.schema_json))
        if name not in {f.name for f in schema.fields}:
            raise UserException(f"No column {name!r} on this table.")
        fields = []
        for f in schema.fields:
            if f.name == name:
                md = dict(f.metadata or {})
                if expr is None:
                    md.pop("CURRENT_DEFAULT", None)
                else:
                    md["CURRENT_DEFAULT"] = expr
                f = T.StructField(f.name, f.dataType, f.nullable, md)
            fields.append(f)
        commit = self._next(
            prev, "alter_column_default",
            schema_json=json.dumps(T.StructType(fields).jsonValue()),
        )
        return self._publish(commit, prev)

    # Safe widenings (Delta typeWidening): every old value is exactly
    # representable in the new type. long→double is deliberately
    # absent (lossy past 2^53), matching Delta's matrix.
    _WIDENINGS = {
        "tinyint": {"smallint", "int", "bigint", "double"},
        "smallint": {"int", "bigint", "double"},
        "int": {"bigint", "double"},
        "float": {"double"},
        "date": {"timestamp_ntz"},
    }

    def widen_column_type(self, name: str, new_type: str) -> Commit:
        """``ALTER TABLE … ALTER COLUMN name TYPE new_type`` for SAFE
        widenings only (Delta's typeWidening table feature) —
        metadata-only commit, NO data rewritten: Spark's parquet
        reader natively reads the narrower on-disk pages under the
        widened schema (int32→int64, float→double …), so a 100 TB
        table changes type in O(1). The change is recorded as
        ``delta.typeChanges`` field metadata (the Delta protocol's
        own mechanism) so the log advertises the typeWidening feature
        to external readers."""
        prev = self._head()
        schema = T.StructType.fromJson(json.loads(prev.schema_json))
        if name not in {f.name for f in schema.fields}:
            raise UserException(f"No column {name!r} on this table.")
        target = T.StructType.fromDDL(f"x {new_type}").fields[0].dataType
        fields = []
        for f in schema.fields:
            if f.name == name:
                old = f.dataType.simpleString()
                if target == f.dataType:
                    raise UserException(
                        f"Column {name!r} already has type {old}."
                    )
                if target.simpleString() not in self._WIDENINGS.get(
                    old, set()
                ):
                    raise UserException(
                        f"Unsafe type change {old} -> "
                        f"{target.simpleString()}; allowed widenings "
                        f"from {old}: "
                        f"{sorted(self._WIDENINGS.get(old, set())) or None}"
                    )
                md = dict(f.metadata or {})
                changes = list(md.get("delta.typeChanges") or [])
                changes.append(
                    {
                        "fromType": old,
                        "toType": target.simpleString(),
                        "tableVersion": prev.version + 1,
                    }
                )
                md["delta.typeChanges"] = changes
                f = T.StructField(f.name, target, f.nullable, md)
            fields.append(f)
        commit = self._next(
            prev, "widen_column_type",
            schema_json=json.dumps(T.StructType(fields).jsonValue()),
        )
        return self._publish(commit, prev)

    @staticmethod
    def _apply_column_defaults(df: DataFrame, prev: Commit) -> DataFrame:
        """Insert-time DEFAULT application: for every table column the
        incoming batch omits whose field metadata carries
        ``CURRENT_DEFAULT``, compute the default (one Catalyst
        expression per column — no shuffle, stays in codegen)."""
        schema = T.StructType.fromJson(json.loads(prev.schema_json))
        have = set(df.columns)
        for f in schema.fields:
            d = (f.metadata or {}).get("CURRENT_DEFAULT")
            if d is not None and f.name not in have:
                df = df.withColumn(
                    f.name, F.expr(d).cast(f.dataType)
                )
        return df

    def drop_column(self, name: str) -> Commit:
        """``ALTER TABLE … DROP COLUMN name`` — metadata-only commit:
        the column leaves the committed schema; on-disk parquet keeps
        the bytes (the authoritative-schema scan simply never reads
        them, and a later optimize/rewrite physically sheds them —
        Delta's drop-then-REORG contract). Primary-key and partition
        columns are load-bearing and refuse to drop."""
        prev = self._head()
        if name in (prev.primary_key or []):
            raise UserException(f"Cannot drop primary-key column {name!r}.")
        if name in (prev.partition_by or []):
            raise UserException(f"Cannot drop partition column {name!r}.")
        schema = T.StructType.fromJson(json.loads(prev.schema_json))
        if name not in {f.name for f in schema.fields}:
            raise UserException(f"No column {name!r} on this table.")
        new_schema = T.StructType(
            [f for f in schema.fields if f.name != name]
        )
        if not new_schema.fields:
            raise UserException("Cannot drop the last column.")
        commit = self._next(
            prev, "drop_column",
            schema_json=json.dumps(new_schema.jsonValue()),
            column_mapping={
                k: v for k, v in prev.column_mapping.items() if k != name
            },
        )
        return self._publish(commit, prev)

    def rename_column(self, old: str, new: str) -> Commit:
        """``ALTER TABLE … RENAME COLUMN old TO new`` — metadata-only
        commit via column mapping (Delta columnMapping mode=name): no
        data is rewritten; the committed schema carries the new logical
        name and ``column_mapping`` remembers the physical parquet name
        the bytes still live under. Primary-key and partition columns
        refuse to rename (their names are load-bearing in the merge key
        and hive directory layout), as do columns referenced by CHECK
        constraints (Delta's own restriction)."""
        prev = self._head()
        if old in (prev.primary_key or []):
            raise UserException(f"Cannot rename primary-key column {old!r}.")
        if old in (prev.partition_by or []):
            raise UserException(f"Cannot rename partition column {old!r}.")
        for cname, expr in (prev.properties.get("constraints") or {}).items():
            if re.search(rf"\b{re.escape(old)}\b", expr):
                raise UserException(
                    f"Cannot rename {old!r}: referenced by CHECK "
                    f"constraint {cname!r} ({expr})."
                )
        schema = T.StructType.fromJson(json.loads(prev.schema_json))
        names = {f.name for f in schema.fields}
        if old not in names:
            raise UserException(f"No column {old!r} on this table.")
        if new in names:
            raise UserException(f"Column {new!r} already exists.")
        mapping = {k: v for k, v in prev.column_mapping.items() if k != old}
        mapping[new] = prev.column_mapping.get(old, old)
        new_schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        commit = self._next(
            prev, "rename_column",
            schema_json=json.dumps(new_schema.jsonValue()),
            column_mapping=mapping,
        )
        return self._publish(commit, prev)

    def _write_change_files(
        self, changes: DataFrame, mapping: dict
    ) -> list[tuple[str, int]]:
        """Write one commit's change rows (its columns plus
        ``_change_type``) once, under physical column names, into a
        directory of this writer's own under ``_change_data/`` →
        [(table-relative path, size)], the commit's cdc actions.

        A change set whose Catalyst estimate fits one scan split
        (``spark.sql.files.maxPartitionBytes``) is written as one file,
        not one per shuffle partition: each file is one partition of a
        CDF stream read. A larger set, or one without an estimate,
        keeps the frame's partitioning."""
        from component_delta_lake_writer_spark.operators.merge import (
            _plan_size_bytes,
        )
        from component_delta_lake_writer_spark.operators.text import (
            _parse_bytes,
        )

        df = self._to_physical(changes, mapping)
        est = _plan_size_bytes(df)
        split = _parse_bytes(
            self.spark.conf.get("spark.sql.files.maxPartitionBytes")
        )
        if est is not None and est <= split:
            df = df.coalesce(1)
        rel_dir = os.path.join("_change_data", uuid.uuid4().hex)
        out = os.path.join(self.path, rel_dir)
        try:
            df.write.parquet(out)
        except BaseException:
            shutil.rmtree(out, ignore_errors=True)
            raise
        return [
            (os.path.join(rel_dir, fn), os.path.getsize(os.path.join(out, fn)))
            for fn in sorted(os.listdir(out))
            if fn.endswith(".parquet")
        ]

    @staticmethod
    def _to_physical(df: DataFrame, mapping: dict) -> DataFrame:
        """Translate a logical-named frame to on-disk physical names
        before writing a unit (identity when no column is renamed)."""
        if not mapping:
            return df
        targets = [mapping.get(c, c) for c in df.columns]
        if len(set(targets)) != len(targets):
            dupes = sorted({p for p in targets if targets.count(p) > 1})
            raise UserException(
                "Physical column name collision under column mapping: "
                f"{dupes}. Rename the new column or run optimize() to "
                "materialize pending renames first."
            )
        return df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )

    @staticmethod
    def _logical_stats(stats: dict, mapping: dict) -> dict:
        """View stats keyed by physical column names — {unit: unit
        stats} or {file: file stats} — under logical names, so
        data-skipping predicates written against the committed schema
        prune correctly after renames."""
        if not mapping:
            return stats
        inv = {v: k for k, v in mapping.items()}

        def _cols(d: dict) -> dict:
            return {inv.get(c, c): v for c, v in d.items()}

        return {
            u: {
                **_cols(s),
                **({"_bloom": _cols(s["_bloom"])} if "_bloom" in s else {}),
            }
            for u, s in stats.items()
        }

    def _prune(self, prev: Commit, condition: str) -> list[str]:
        """``prev``'s units whose stats say they may hold a row
        ``condition`` is TRUE for (data skipping under logical names)."""
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            prune_units,
        )

        return prune_units(
            self._logical_stats(prev.stats, prev.column_mapping),
            prev.data_units, condition,
        )

    def _read_units(
        self,
        commit: Commit,
        units: list[str],
        with_row_ids: bool = False,
        kept: dict[str, list[str]] | None = None,
        positions: bool = False,
    ) -> DataFrame:
        """One scan over a subset of a commit's data units, under the
        commit's authoritative schema, with the commit's deletion
        vectors applied (``scan.scan_files``). A unit is read whole as
        its directory; ``kept`` ({unit: table-relative paths}) narrows
        a unit to the files file-level skipping kept: a partition
        directory whose files were all kept is passed whole, any other
        kept file one by one.

        The scan takes the commit's file records as they are: partition
        values, row-id bases and deletion vectors come from them. An
        unpartitioned read without deletion vectors or row ids is the
        bare FileScan.
        ``positions`` adds each row's table-relative file and position
        in it (``scan.REL`` / ``scan.POS``)."""
        schema = T.StructType.fromJson(json.loads(commit.schema_json))
        if with_row_ids and not _prop_on(
            commit.properties, "delta.enableRowTracking"
        ):
            # property-gated, not record-gated: a tracked table whose
            # snapshot is momentarily empty has no file records and
            # must still answer (with an empty id-columned relation)
            raise UserException(
                "Row tracking is not enabled on this table; create it "
                "with properties={'delta.enableRowTracking': 'true'}."
            )
        kept = kept or {}
        roots = []
        for u in units:
            if u not in kept:
                roots.append(f"{_DATA}/{u}")
                continue
            # a directory whose files were all kept (a partition the
            # predicate kept whole) is one root: Spark lists more than
            # 32 roots with a job
            total = collections.Counter(map(os.path.dirname, commit.files[u]))
            by_dir = collections.defaultdict(list)
            for f in kept[u]:
                by_dir[os.path.dirname(f)].append(f)
            for d, names in sorted(by_dir.items()):
                if d != f"{_DATA}/{u}" and len(names) == total[d]:
                    roots.append(d)
                else:
                    roots += names
        files = {
            p: commit.files[u][p]
            for u in units
            for p in kept.get(u) or commit.files[u]
        }
        if units and not (
            commit.partition_by
            or with_row_ids
            or positions
            or any(r.get("deletionVector") for r in files.values())
        ):
            files = None
        return scan_files(
            self.spark, self.path, schema, files, roots,
            commit.column_mapping, commit.partition_by,
            row_ids=(_MAT_ROW_ID, _MAT_RCV) if with_row_ids else None,
            positions=positions,
        )

    @staticmethod
    def _align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
        """Project ``df`` onto ``schema``'s column set/order, filling
        columns it lacks with typed NULLs (the autoMerge alignment —
        both merge sides end up on the union schema)."""
        have = set(df.columns)
        return df.select(
            *[
                F.col(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )

    def _source_key_bounds(
        self, src: DataFrame, primary_key: list[str]
    ) -> tuple[dict, int]:
        """({pk: (min, max)}, row count) over the deduped merge source —
        one small agg job; only orderable JSON-comparable types are
        kept (the same types unit stats record)."""
        aggs = [F.count(F.lit(1)).alias("__n")]
        for pk in primary_key:
            aggs.append(F.min(pk).alias(f"__mn_{pk}"))
            aggs.append(F.max(pk).alias(f"__mx_{pk}"))
        row = src.agg(*aggs).first()
        out: dict = {}
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            _TemporalLit,
            _temporal_to_str,
        )

        for pk in primary_key:
            mn, mx = row[f"__mn_{pk}"], row[f"__mx_{pk}"]
            mn_s, k1 = _temporal_to_str(mn)
            mx_s, k2 = _temporal_to_str(mx)
            if k1 is not None and k1 == k2:
                # timestamp/date PKs prune too: normalized to the same
                # fixed-width tagged form the unit stats record
                out[pk] = (_TemporalLit(mn_s, k1), _TemporalLit(mx_s, k2))
                continue
            ok = (
                isinstance(mn, (int, float, str))
                and isinstance(mx, (int, float, str))
                and not isinstance(mn, bool)
                and not isinstance(mx, bool)
            )
            if ok:
                out[pk] = (mn, mx)
        return out, int(row["__n"])

    @staticmethod
    def _derived_partition_conjuncts(
        conjuncts: list, gen: dict[str, str], partition_by: list[str]
    ) -> list[str]:
        """Delta's generated-column partition filters, narrow form:
        when a partition column g is GENERATED ALWAYS AS
        ``CAST(src AS DATE)`` and the predicate constrains ``src`` with
        an ISO date/timestamp literal, an implied predicate on g is
        added, which prunes files by the partition values their adds
        record — the query never has to mention the partition column.
        Conservative: anything unparseable derives nothing."""
        out: list[str] = []
        for g in partition_by:
            expr = gen.get(g)
            if not expr:
                continue
            m = re.fullmatch(
                r"\s*CAST\s*\(\s*(\w+)\s+AS\s+DATE\s*\)\s*",
                expr,
                flags=re.IGNORECASE,
            )
            if not m:
                continue
            src = m.group(1)
            for col, op, lit in conjuncts:
                if col != src or not isinstance(lit, str):
                    continue
                dm = re.match(r"(\d{4}-\d{2}-\d{2})", lit)
                if not dm:
                    continue
                day = dm.group(1)
                if op in ("=",):
                    out.append(f"{g} = DATE'{day}'")
                elif op in (">", ">="):
                    # ts > D 23:59 still lives in partition D — derive
                    # the inclusive day bound
                    out.append(f"{g} >= DATE'{day}'")
                elif op in ("<", "<="):
                    out.append(f"{g} <= DATE'{day}'")
        return out

    @staticmethod
    def _partition_stats(values: dict, types: dict, rows) -> dict:
        """Stats entries (the per-file shape) for a file's partition
        columns from its add's ``partitionValues``: every row holds the
        one value, so it is both min and max — or every row is NULL.
        Integral, string and date columns only; others never prune."""
        out: dict = {}
        for c, t in types.items():
            v = values.get(c)
            if v is None:
                out[c] = {"min": None, "max": None, "nulls": rows}
            elif isinstance(t, T.StringType):
                out[c] = {"min": v, "max": v, "nulls": 0}
            elif isinstance(t, T.DateType):
                out[c] = {"min": v, "max": v, "nulls": 0, "t": "date"}
            elif isinstance(t, T.IntegralType):
                out[c] = {"min": int(v), "max": int(v), "nulls": 0}
        return out

    def read_where(self, condition: str, version: int | None = None) -> DataFrame:
        """Filtered snapshot read with commit-log data skipping.

        Whole data units whose recorded min/max ranges provably cannot
        satisfy ``condition`` are dropped from the scan BEFORE Spark
        plans it (Delta's file-level data skipping — one level above
        the row-group skipping the parquet reader does on its own).
        The condition is then re-applied as an ordinary filter, so
        pruning only ever removes provably-dead IO, never rows.

        Two granularities: whole units first (cheap, always), then
        individual files inside surviving units, exactly Delta's
        per-add-action skipping. A file's partition values (from its
        add) count as its stats, so a predicate on a partition column
        — or one derived for a generated partition column — prunes
        files the same way.

        At 100 TB this is the difference between "scan 5 files" and
        "open every footer of a million files" for a point/range query
        on a clustered column (pair with optimize(cluster_by=…))."""
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            parse_conjuncts,
            prune_units,
        )

        commit = self.commit_at(version) if version is not None else self._head()
        schema = T.StructType.fromJson(json.loads(commit.schema_json))
        stats_view = self._logical_stats(commit.stats, commit.column_mapping)
        units = prune_units(stats_view, commit.data_units, condition)
        conjuncts = parse_conjuncts(condition)
        derived = self._derived_partition_conjuncts(
            conjuncts,
            self._generation_exprs(commit),
            commit.partition_by or [],
        )
        eff_condition = (
            condition
            if not derived
            else condition + " AND " + " AND ".join(derived)
        )
        kept: dict[str, list[str]] = {}
        if conjuncts:
            # second skipping level: per-unit bloom sidecars answer
            # equality probes min/max ranges can't (high-cardinality,
            # unclustered columns)
            from component_delta_lake_writer_spark.sinks.bloom import (
                prune_units_bloom,
            )

            units = prune_units_bloom(
                self._bloom_dir, stats_view, units, conjuncts
            )
            ptypes = {
                f.name: f.dataType for f in schema.fields
                if f.name in set(commit.partition_by)
            }
            for u in units:
                recs = commit.files[u]
                detail = {
                    p: {
                        **fs,
                        **self._partition_stats(
                            recs[p].get("partitionValues") or {}, ptypes,
                            fs.get("_rows"),
                        ),
                    }
                    for p, fs in self._logical_stats(
                        {p: r["stats"] for p, r in recs.items()},
                        commit.column_mapping,
                    ).items()
                }
                names = prune_units(detail, list(detail), eff_condition)
                if len(names) < len(detail):
                    kept[u] = names
            units = [u for u in units if kept.get(u, True)]
        return self._read_units(commit, units, kept=kept).filter(
            F.expr(eff_condition)
        )

    # ---------- upsert (W12 + O2) ----------

    def upsert(
        self,
        source: DataFrame,
        primary_key: list[str],
        compression: str = "snappy",
        max_records_per_file: int | None = None,
        properties: dict | None = None,
        update_condition=None,
        order_by: list[str] | None = None,
        schema_mode: str | None = None,
        strategy: str = "copy-on-write",
        txn: tuple[str, int] | None = None,
    ) -> Commit:
        """MERGE INTO semantics: WHEN MATCHED UPDATE all columns, WHEN
        NOT MATCHED INSERT all columns (src/component.py:238-260), with
        O2 pre-dedup of the source by PK (Delta merge requires unique
        source keys; src/component.py:249-260 last-write-wins).

        ``strategy='merge-on-read'`` is the deletion-vector play: the
        deduped source is APPENDED as a new unit and the prior rows
        under its keys are marked in Delta deletion vectors — only in
        units the new unit's PK stats can overlap, and without
        rewriting any of them (``_mark_deleted``). Readers drop the
        marked positions until optimize() or a later rewrite
        materializes them. Requires ``update_condition is None`` (the
        guard needs target values, which the key match never reads).

        ``order_by`` makes the in-batch dedup DETERMINISTIC
        last-write-wins: among duplicate source keys the row with the
        greatest ordering value is applied (the CDC replay contract —
        "newest change wins"); without it an arbitrary duplicate is
        kept.

        ``schema_mode='merge'`` is Delta's merge autoMerge: new source
        columns extend the table schema (type changes still rejected),
        missing columns on either side read as NULL; older data units
        are never rewritten — the committed schema fills them at read.

        ``update_condition(t, s) -> Column`` (optional) guards the
        UPDATE clause — ``WHEN MATCHED AND cond THEN UPDATE`` — e.g.
        "only apply newer CDC rows" or "keep the smaller doc_id";
        matched rows failing the condition keep the target version.

        Copy-on-write implementation (what Delta merge does without
        deletion vectors): new snapshot = source ∪ (target ⟕anti
        source). At scale the anti-join broadcasts the source key set
        when small; AQE picks the strategy otherwise.

        File-pruned rewrite (Delta's merge file skipping, over the
        commit log's unit stats): when the table has several data
        units, the source's PK bounds (one small agg job) are compared
        against each unit's recorded min/max — units provably disjoint
        from the batch's key range are carried into the new snapshot
        UNTOUCHED. A CDC stream whose batches touch recent keys then
        rewrites only recent units instead of the whole 100 TB table;
        pair with optimize(cluster_by=PK) to keep unit ranges tight.

        An empty batch adds no unit under either strategy, and on a
        multi-unit table the bounds job's row count makes copy-on-write
        touch no unit either. A single-unit table runs no bounds job,
        so its empty copy-on-write upsert still rewrites that unit.
        """
        if not primary_key:
            raise UserException("Upsert load mode requires a primary key.")
        if txn is not None:
            head = self.latest_commit()
            if txn_applied(head, txn):
                return head  # already applied — idempotent no-op
        from component_delta_lake_writer_spark.operators.merge import (
            dedup_source,
            merge_upsert,
            merge_upsert_conditional,
        )
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            key_bounds_from_stats,
            unit_overlaps_key_bounds,
        )

        mor = strategy == "merge-on-read"
        if mor and update_condition is not None:
            raise UserException(
                "merge-on-read upsert cannot evaluate an update "
                "condition (it never reads the target); use "
                "strategy='copy-on-write'."
            )
        if strategy not in ("copy-on-write", "merge-on-read"):
            raise UserException(
                f"Unknown upsert strategy {strategy!r}; expected "
                "copy-on-write or merge-on-read."
            )
        if not self.exists():
            # O2 applies to the very first batch too: MERGE requires
            # unique source keys even when the target starts empty.
            return self.write(
                dedup_source(source, primary_key, order_by),
                mode="overwrite",
                primary_key=primary_key, compression=compression,
                max_records_per_file=max_records_per_file,
                properties=properties, txn=txn,
            )

        prev = self.latest_commit()
        source = self._apply_column_defaults(source, prev)
        source = self._apply_generated(source, self._generation_exprs(prev))
        for _idcol in self._identity_specs(prev):
            if _idcol not in source.columns:
                # MERGE semantics are GENERATED BY DEFAULT: matched rows
                # carry their existing identity values, so the source
                # must provide the column explicitly.
                raise UserException(
                    f"Upsert source must provide identity column "
                    f"{_idcol!r} (merge keeps existing values)."
                )
        table_schema = T.StructType.fromJson(json.loads(prev.schema_json))
        union_schema = table_schema
        if not self._schema_compatible(table_schema, source.schema):
            if schema_mode != "merge":
                raise SchemaMismatchError(
                    "Upsert source schema does not match table schema; "
                    "pass schema_mode='merge' to evolve (Delta merge "
                    "autoMerge)."
                )
            tf = {f.name: f.dataType for f in table_schema.fields}
            conflicts = [
                f"{f.name}: table={tf[f.name].simpleString()} "
                f"incoming={f.dataType.simpleString()}"
                for f in source.schema.fields
                if f.name in tf and tf[f.name] != f.dataType
            ]
            if conflicts:
                raise SchemaMismatchError(
                    "schema_mode='merge' cannot change column types: "
                    + "; ".join(conflicts)
                )
            union_schema = self._merge_schemas(table_schema, source.schema)
        untouched: list[str] = []
        touched = list(prev.data_units)
        mapping = prev.column_mapping
        src = self._align_to_schema(
            dedup_source(source, primary_key, order_by), union_schema
        )
        effective_props = (
            properties if properties is not None else prev.properties
        )
        constraints = effective_props.get("constraints", {})
        if constraints:
            # incoming rows only — surviving target rows passed their
            # own write-time check (unconditional merge inserts the
            # source row verbatim; conditional merges may keep the
            # target row, which is also already-validated)
            self._check_constraints(src, constraints)
        # Persist the deduped source when it is read twice: by the
        # bounds agg and the merge, or by the append and the key match.
        persisted = mor or (len(prev.data_units) > 1 and bool(prev.stats))
        if persisted:
            src = src.persist()
        if persisted and not mor:
            # Only worth an extra bounds job when there is more than
            # one unit to choose between. Its row count also says when
            # the batch is empty: then no unit is touched.
            bounds, n = self._source_key_bounds(src, primary_key)
            if bounds or not n:
                touched, untouched = [], []
                for u in prev.data_units:
                    if n and unit_overlaps_key_bounds(
                        prev.stats.get(u), bounds
                    ):
                        touched.append(u)
                    else:
                        untouched.append(u)
        try:
            dvs: dict = {}
            if mor:
                # the source lands as-is; prior rows under its keys get
                # deletion vectors. The key bounds come from the new
                # unit's own footer stats (zero extra jobs), and so does
                # the key count picking _mark_deleted's tier.
                units, files = self._write_rewrite(
                    prev, prev.data_units, src, compression,
                    max_records_per_file, props=effective_props,
                )
                # an empty batch adds no unit and deletes nothing
                unit = next(iter(files), None)
                phys_pk = [mapping.get(c, c) for c in primary_key]
                targets = []
                if unit:
                    new = _fold_unit(files[unit])
                    bounds = key_bounds_from_stats(new, phys_pk)
                    targets = [
                        u for u in prev.data_units
                        if unit_overlaps_key_bounds(prev.stats.get(u), bounds)
                    ]

                def _unit_keys():
                    import pyarrow.dataset as pads

                    return pads.dataset(
                        os.path.join(self._data_dir, unit), format="parquet"
                    ).to_table(columns=phys_pk).rename_columns(primary_key)

                if targets:
                    dvs = self._mark_deleted(
                        prev, targets, primary_key,
                        keys=src, n_keys=new["_rows"],
                        local_keys=None if prev.partition_by else _unit_keys,
                    )
            else:
                # Row tracking through the COW merge (unconditional
                # shape only — the conditional variant rebuilds rows
                # column-wise and is documented fresh-id): carried
                # target rows ride their materialized ids through the
                # anti-join; source rows (inserts AND updates — MERGE
                # replaces the matched row wholesale from the source
                # relation) draw fresh ids.
                tracked = update_condition is None and _prop_on(
                    prev.properties, "delta.enableRowTracking"
                )
                merge_schema = union_schema
                if tracked:
                    merge_schema = T.StructType(
                        list(union_schema.fields)
                        + [
                            T.StructField(_MAT_ROW_ID, T.LongType(), True),
                            T.StructField(_MAT_RCV, T.LongType(), True),
                        ]
                    )
                if touched:
                    target_sub = self._align_to_schema(
                        self._read_rewrite(prev, touched, keep_ids=tracked),
                        merge_schema,
                    )
                    if update_condition is not None:
                        merged = merge_upsert_conditional(
                            target_sub, src, primary_key, update_condition,
                            pre_deduplicated=True,
                        )
                    else:
                        merged = merge_upsert(
                            target_sub,
                            self._align_to_schema(src, merge_schema),
                            primary_key,
                            pre_deduplicated=True,
                        )
                else:
                    # every unit is disjoint from the batch → pure insert
                    merged = src.select(
                        *[F.col(f.name) for f in union_schema.fields]
                    )
                units, files = self._write_rewrite(
                    prev, untouched, merged, compression,
                    max_records_per_file, props=effective_props,
                )
            commit = self._next(
                prev, "upsert",
                txn=txn,
                new_dvs=dvs,
                data_units=units,
                schema_json=json.dumps(union_schema.jsonValue()),
                primary_key=primary_key,
                properties=properties,
                files=files,
            )
            # CDF: persist this commit's change set (inserts + the
            # update post-images the MERGE actually applied) so
            # read_changes can attribute across upserts, written before
            # the publish and named by this commit's cdc actions. Gated
            # on the table property ``enableChangeDataFeed`` exactly like
            # Delta's delta.enableChangeDataFeed — materializing the
            # change set is a second join over the source, and a table
            # that never reads CDF must not pay it on every upsert.
            # Attribution (matched vs not) is against the FULL previous
            # snapshot — a key living in a pruned-away unit is still
            # "matched" even though the merge never rewrote that unit.
            # The target is aligned to the COMMITTED union schema so a
            # schema_mode='merge' upsert's new columns reach the change
            # set (src is already union-aligned; projecting it onto an
            # old-schema target would drop the values the commit wrote).
            cdc = []
            if commit.properties.get("enableChangeDataFeed"):
                cdc = self._write_change_files(
                    self._merge_changes(
                        self._align_to_schema(
                            self._read_units(prev, prev.data_units),
                            union_schema,
                        ),
                        src, primary_key, update_condition,
                        pre_images=bool(
                            commit.properties.get("changeDataFeedPreImages")
                        ),
                    ),
                    mapping,
                )
            commit = self._publish(commit, prev, cdc)
        finally:
            if persisted:
                src.unpersist()
        return commit

    def _merge_changes(
        self,
        target: DataFrame,
        source: DataFrame,
        primary_key: list[str],
        update_condition,
        pre_images: bool = False,
    ) -> DataFrame:
        """The change rows of an upsert of ``source`` into ``target``:
        inserts and the update post-images the merge applies.

        ``pre_images=True`` (table property
        ``changeDataFeedPreImages``) additionally persists the matched
        target rows as ``update_preimage`` — what Delta's CDF emits,
        and what lets additive consumers (incremental materialized
        aggregates) SUBTRACT the old row. Costs one semi-joined
        full-width pass over the touched target rows, which is why it
        is opt-in: the default narrow path only ever scans target PK
        columns."""
        from component_delta_lake_writer_spark.operators.merge import dedup_source

        src = dedup_source(source, primary_key).select(
            *[F.col(c) for c in target.columns]
        )
        pk_alias = [f"_pk_{c}" for c in primary_key]
        s = src.select(
            *[F.col(c).alias(a) for c, a in zip(primary_key, pk_alias)],
            F.struct(*src.columns).alias("_s"),
        )
        if update_condition is None:
            # narrow path: only "matched?" is needed — join against the
            # PK columns alone so the target scan prunes to the keys
            # (never a second full-row pass over a 100 TB target)
            t = target.select(
                *[F.col(c).alias(a) for c, a in zip(primary_key, pk_alias)],
                F.lit(True).alias("_m"),
            ).dropDuplicates(pk_alias)
            j = s.join(t, pk_alias, "left")
            applied = F.when(
                F.col("_m").isNull(), F.lit("insert")
            ).otherwise(F.lit("update_postimage"))
        else:
            # the guard needs the matched target row's values — carry
            # the full struct (same width the merge itself reads)
            t = target.select(
                *[F.col(c).alias(a) for c, a in zip(primary_key, pk_alias)],
                F.struct(*target.columns).alias("_t"),
            )
            j = s.join(t, pk_alias, "left")
            tt, ss = F.col("_t"), F.col("_s")
            applied = (
                F.when(tt.isNull(), F.lit("insert"))
                .when(update_condition(tt, ss), F.lit("update_postimage"))
                .otherwise(F.lit(None))
            )
        changes = (
            j.withColumn("_ct", applied)
            .filter(F.col("_ct").isNotNull())
            .select("_s.*", F.col("_ct").alias("_change_type"))
        )
        if pre_images:
            # old images of the rows the merge ACTUALLY updated (under
            # a conditional merge, matched-but-kept rows emit nothing)
            # — full-width target pass semi-joined against the updated
            # PK set
            upd_keys = F.broadcast(
                changes.filter(F.col("_change_type") == "update_postimage")
                .select(
                    *[
                        F.col(c).alias(a)
                        for c, a in zip(primary_key, pk_alias)
                    ]
                )
                .distinct()
            )
            t_full = target.select(
                *[F.col(c).alias(a) for c, a in zip(primary_key, pk_alias)],
                F.struct(*target.columns).alias("_t"),
            )
            pre = (
                t_full.join(upd_keys, pk_alias, "left_semi")
                .select("_t.*")
                .withColumn("_change_type", F.lit("update_preimage"))
            )
            changes = changes.unionByName(pre)
        return changes

    # ---------- constraints (Delta CHECK / NOT NULL) ----------

    def add_constraint(self, name: str, check_expr: str) -> Commit:
        """``ALTER TABLE … ADD CONSTRAINT name CHECK (expr)`` (Delta
        constraint protocol): validated against the EXISTING rows
        first (one short-circuiting existence probe, not a full
        count), then stored in table properties; every later
        write/upsert batch must satisfy it or the commit is refused.
        NOT NULL is the special case ``col IS NOT NULL``."""
        prev = self._head()
        cons = dict(prev.properties.get("constraints", {}))
        if name in cons:
            raise UserException(f"Constraint {name!r} already exists.")
        self._check_constraints(self.read(), {name: check_expr})
        cons[name] = check_expr
        commit = self._next(
            prev, "add_constraint",
            properties={**prev.properties, "constraints": cons},
        )
        return self._publish(commit, prev)

    def drop_constraint(self, name: str) -> Commit:
        """``ALTER TABLE … DROP CONSTRAINT name``."""
        prev = self._head()
        cons = dict(prev.properties.get("constraints", {}))
        if name not in cons:
            raise UserException(f"No constraint {name!r} on this table.")
        del cons[name]
        commit = self._next(
            prev, "drop_constraint",
            properties={**prev.properties, "constraints": cons},
        )
        return self._publish(commit, prev)

    def _check_constraints(self, df: DataFrame, constraints: dict) -> None:
        """Refuse rows violating any CHECK expression. One filtered
        ``take(1)`` per constraint — short-circuits at the first
        violating row instead of scanning the batch to completion
        (NULL check results count as violations, like Delta)."""
        for name, expr in constraints.items():
            bad = df.filter(~F.coalesce(F.expr(expr), F.lit(False))).take(1)
            if bad:
                raise UserException(
                    f"CHECK constraint {name!r} ({expr}) violated, e.g. "
                    f"by row {bad[0].asDict()}"
                )

    # ---------- DML (Delta DELETE / UPDATE) ----------

    def _rewrite_where(
        self,
        condition: str,
        transform,
        action: str,
        compression: str,
        max_records_per_file: int | None,
    ) -> Commit:
        """Shared copy-on-write core for DELETE/UPDATE: units that
        provably cannot contain a row matching ``condition`` (commit
        stats) carry into the new snapshot untouched; the rest are
        rewritten through ``transform(df, cond_col)``."""
        prev = self._head()
        touched = self._prune(prev, condition)
        units = files = None  # nothing touched: every unit stands
        if touched:
            untouched = [u for u in prev.data_units if u not in set(touched)]
            df = self._read_rewrite(prev, touched)
            if action == "update" and _prop_on(
                prev.properties, "delta.enableRowTracking"
            ):
                # an UPDATEd row keeps its row id — it is the same
                # logical row — but its commit attribution moves to
                # this commit (rowCommitVersion tracks the commit that
                # last touched the row)
                hit = F.coalesce(F.expr(condition), F.lit(False))
                df = df.withColumn(
                    _MAT_RCV,
                    F.when(hit, F.lit(prev.version + 1)).otherwise(
                        F.col(_MAT_RCV)
                    ),
                )
            rewritten = transform(df, F.expr(condition))
            constraints = prev.properties.get("constraints", {})
            if constraints:
                self._check_constraints(rewritten, constraints)
            units, files = self._write_rewrite(
                prev, untouched, rewritten, compression, max_records_per_file
            )
        commit = self._next(prev, action, data_units=units, files=files)
        cdc = []
        if touched and prev.properties.get("enableChangeDataFeed"):
            # CDF for DML (Delta parity): DELETE emits the removed
            # images as 'delete'; UPDATE emits post-images (and
            # pre-images when changeDataFeedPreImages is set — the
            # same opt-in as the merge path). Rows recomputed from
            # the prior snapshot's touched units. A DML commit that
            # touched no unit changes no file, so Delta's rule gives
            # it zero change rows without any cdc action.
            cond = F.coalesce(F.expr(condition), F.lit(False))
            matched = self._read_units(prev, touched).filter(cond)
            if action == "delete":
                changes = matched.withColumn(
                    "_change_type", F.lit("delete")
                )
            else:  # update
                changes = transform(matched, F.expr(condition)).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
                if prev.properties.get("changeDataFeedPreImages"):
                    changes = changes.unionByName(
                        matched.withColumn(
                            "_change_type", F.lit("update_preimage")
                        )
                    )
            cdc = self._write_change_files(changes, prev.column_mapping)
        return self._publish(commit, prev, cdc)

    def delete_where(
        self,
        condition: str,
        compression: str = "snappy",
        max_records_per_file: int | None = None,
        strategy: str = "copy-on-write",
    ) -> Commit:
        """``DELETE FROM t WHERE condition`` (Delta DML). SQL
        semantics: rows where the condition is TRUE are removed; rows
        where it is NULL are KEPT (ternary logic), hence the coalesce.

        ``strategy='copy-on-write'`` (default) rewrites the touched
        units — stats-pruned, so a 1000-unit table whose condition
        hits one key range rewrites one unit. Read-optimal.

        ``strategy='merge-on-read'`` marks the matched rows in Delta
        deletion vectors instead and rewrites NOTHING — commit cost is
        one scan of the touched units plus O(matched rows) of bitmap,
        regardless of unit size: the right trade for frequent small
        deletes against huge units. Readers drop the marked positions
        until optimize() materializes them away. Needs no primary
        key."""
        if strategy == "merge-on-read":
            return self._delete_mor(condition)
        if strategy != "copy-on-write":
            raise UserException(
                f"Unknown delete strategy {strategy!r}; expected "
                "copy-on-write or merge-on-read."
            )
        return self._rewrite_where(
            condition,
            lambda df, cond: df.filter(~F.coalesce(cond, F.lit(False))),
            "delete",
            compression,
            max_records_per_file,
        )

    def delete_keys(
        self,
        keys: DataFrame,
        compression: str = "snappy",
        properties: dict | None = None,
        txn: tuple[str, int] | None = None,
    ) -> Commit:
        """``DELETE ... WHERE pk IN (<key set>)`` — the CDC-apply shape
        (replication, GDPR erasure lists): the rows under the key
        tuples are marked in deletion vectors, only in units their
        values can overlap — nothing rewritten. When the table has CDF
        enabled, the deleted images land as 'delete' change rows so
        downstream consumers keep attributing."""
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            unit_overlaps_key_bounds,
        )

        prev = self._head()
        if txn_applied(prev, txn):
            return prev  # already applied — idempotent no-op
        if not prev.primary_key:
            raise UserException("delete_keys requires a primary key.")
        pk = list(prev.primary_key)
        key_set = keys.select(*pk).distinct().persist()
        try:
            # one agg job: the key bounds that scope the match, and the
            # key count that picks _mark_deleted's tier
            bounds, n_keys = self._source_key_bounds(key_set, pk)
            touched = [
                u
                for u in prev.data_units
                if n_keys
                and unit_overlaps_key_bounds(
                    prev.stats.get(u),
                    {(prev.column_mapping or {}).get(c, c): b
                     for c, b in bounds.items()},
                )
            ]
            dvs = self._mark_deleted(
                prev, touched, pk, keys=key_set, n_keys=n_keys,
                local_keys=key_set.toArrow,
            ) if touched else {}
            commit = self._next(
                prev, "delete", txn=txn, new_dvs=dvs, properties=properties
            )
            cdc = []
            if commit.properties.get("enableChangeDataFeed") and touched:
                cdc = self._write_change_files(
                    self._read_units(prev, touched).join(
                        F.broadcast(key_set), pk, "left_semi",
                    ).withColumn("_change_type", F.lit("delete")),
                    prev.column_mapping,
                )
            commit = self._publish(commit, prev, cdc)
        finally:
            key_set.unpersist()
        return commit

    def _delete_mor(self, condition: str) -> Commit:
        prev = self._head()
        touched = self._prune(prev, condition)
        rows = sum(
            float((prev.stats.get(u) or {}).get("_rows", float("inf")))
            for u in touched
        )
        dvs = self._mark_deleted(
            prev, touched, n_keys=rows, condition=condition
        ) if touched else {}
        commit = self._next(prev, "delete", new_dvs=dvs)
        # same CDF contract as the copy-on-write DELETE: the removed
        # images land as 'delete' change rows (computed against the
        # PRE-delete snapshot)
        cdc = []
        if touched and prev.properties.get("enableChangeDataFeed"):
            cond = F.coalesce(F.expr(condition), F.lit(False))
            cdc = self._write_change_files(
                self._read_units(prev, touched).filter(cond).withColumn(
                    "_change_type", F.lit("delete")
                ),
                prev.column_mapping,
            )
        return self._publish(commit, prev, cdc)

    def update_where(
        self,
        condition: str,
        assignments: dict[str, str],
        compression: str = "snappy",
        max_records_per_file: int | None = None,
    ) -> Commit:
        """``UPDATE t SET col = expr, … WHERE condition`` (Delta DML).
        ``assignments`` maps column name → SQL expression string; rows
        where the condition is not TRUE keep their values. Assigned
        expressions see the PRE-update row (standard SQL UPDATE), and
        assigning an unknown column raises rather than silently adding
        one."""
        prev = self._head()
        schema = T.StructType.fromJson(json.loads(prev.schema_json))
        known = {f.name for f in schema.fields}
        bad = sorted(set(assignments) - known)
        if bad:
            raise UserException(
                f"UPDATE assigns unknown column(s) {bad}; schema has "
                f"{sorted(known)}"
            )

        def transform(df: DataFrame, cond):
            hit = F.coalesce(cond, F.lit(False))
            cols = [
                (
                    F.when(hit, F.expr(expr)).otherwise(F.col(name))
                    .cast(df.schema[name].dataType).alias(name)
                    if (expr := assignments.get(name)) is not None
                    else F.col(name)
                )
                for name in df.columns
            ]
            return df.select(*cols)

        return self._rewrite_where(
            condition, transform, "update", compression, max_records_per_file
        )

    def replace_where(
        self,
        df: DataFrame,
        condition: str,
        compression: str = "snappy",
        max_records_per_file: int | None = None,
        enforce: bool = True,
        prune_disjuncts: list[str] | None = None,
        partition_tuples: list[dict] | None = None,
    ) -> Commit:
        """Predicate-scoped atomic overwrite — Delta's
        ``.option("replaceWhere", cond).mode("overwrite")`` (the
        idempotent-backfill primitive: re-load one day/region without
        touching the rest of a 100 TB table).

        One commit that (a) removes every existing row where
        ``condition`` is TRUE and (b) inserts ``df``. ``enforce=True``
        (Delta's default ``replaceWhere.constraintCheck.enabled``)
        rejects the write if any incoming row does NOT satisfy the
        predicate — otherwise the operation would not be idempotent.

        Scale posture: commit stats prune the rewrite to units whose
        min/max ranges can overlap the predicate; everything else
        carries by reference (metadata-only). The kept remainder of
        touched units and the new batch land as ONE written unit (one
        shuffle-free union pass), so write cost is
        O(touched-units + batch), never O(table).
        """
        prev = self.latest_commit()
        cond = F.coalesce(F.expr(condition), F.lit(False))
        if prev is None:
            if enforce and not df.filter(~cond).isEmpty():
                raise UserException(
                    "replaceWhere enforcement: incoming rows must all "
                    f"satisfy the predicate {condition!r} "
                    "(pass enforce=False to skip, losing idempotency)."
                )
            # Delta creates the table on first replaceWhere
            return self.write(
                df, mode="overwrite", compression=compression,
                max_records_per_file=max_records_per_file,
            )
        # incoming rows are INSERTs: DEFAULT and GENERATED columns
        # apply exactly as on append (omitting them must not silently
        # write NULLs where every other insert path computes values) —
        # BEFORE enforcement, so a predicate over a defaulted column
        # sees the computed values
        df = self._apply_column_defaults(df, prev)
        df = self._apply_generated(df, self._generation_exprs(prev))
        if enforce and not df.filter(~cond).isEmpty():
            raise UserException(
                "replaceWhere enforcement: incoming rows must all "
                f"satisfy the predicate {condition!r} "
                "(pass enforce=False to skip, losing idempotency)."
            )
        table_schema = T.StructType.fromJson(json.loads(prev.schema_json))
        if not self._schema_compatible(table_schema, df.schema):
            raise SchemaMismatchError(
                "replaceWhere requires the incoming schema to match "
                "the table schema (no evolution on a scoped overwrite)."
            )
        df = self._align_to_schema(df, table_schema)
        constraints = prev.properties.get("constraints", {})
        if constraints:
            self._check_constraints(df, constraints)
        if partition_tuples and prev.partition_by:
            # partition pruning: a unit is touched iff one of its adds'
            # partitionValues is one of the replaced partitions
            touched = []
            for u in prev.data_units:
                seen: dict[str, set] = {}
                for r in prev.files[u].values():
                    for k, v in (r.get("partitionValues") or {}).items():
                        seen.setdefault(k, set()).add(v)
                if any(
                    self._tuple_in_unit(seen, t, prev.partition_by)
                    for t in partition_tuples
                ):
                    touched.append(u)
        elif prune_disjuncts:
            # OR-of-flat-ANDs predicates can't prune as one string;
            # the union of per-disjunct pruning is a sound superset
            touched_set: set[str] = set()
            for d in prune_disjuncts:
                touched_set.update(self._prune(prev, d))
            touched = [u for u in prev.data_units if u in touched_set]
        else:
            touched = self._prune(prev, condition)
        untouched = [u for u in prev.data_units if u not in set(touched)]
        new_rows = df
        if touched:
            # the kept remainder of touched units keeps row identity
            # through the rewrite; the incoming batch is genuinely new
            # rows and draws fresh ids via unionByName's missing-column
            # NULLs
            new_rows = self._read_rewrite(prev, touched).filter(
                ~cond
            ).unionByName(df, allowMissingColumns=True)
        units, files = self._write_rewrite(
            prev, untouched, new_rows, compression, max_records_per_file
        )
        commit = self._next(
            prev, "replace_where", data_units=units, files=files
        )
        cdc = []
        if prev.properties.get("enableChangeDataFeed"):
            # CDF parity with Delta's replaceWhere: removed images as
            # 'delete' (recomputed against the pre-commit snapshot),
            # the new batch as 'insert'.
            changes = df.withColumn("_change_type", F.lit("insert"))
            if touched:
                changes = changes.unionByName(
                    self._read_units(prev, touched)
                    .filter(cond)
                    .withColumn("_change_type", F.lit("delete"))
                )
            cdc = self._write_change_files(changes, prev.column_mapping)
        return self._publish(commit, prev, cdc)

    def overwrite_partitions(
        self,
        df: DataFrame,
        compression: str = "snappy",
        max_records_per_file: int | None = None,
    ) -> Commit:
        """Dynamic partition overwrite
        (``partitionOverwriteMode=dynamic``): replace exactly the
        partitions present in ``df``, leave every other partition
        untouched — the nightly-reload shape for date-partitioned
        tables.

        The incoming batch's distinct partition tuples are collected
        driver-side (metadata-scale: bounded by the number of
        partitions being rewritten, not by rows) and compiled into a
        predicate handed to :meth:`replace_where` — by construction
        every incoming row satisfies it, so enforcement is skipped.
        """
        prev = self.latest_commit()
        if prev is None:
            return self.write(
                df, mode="overwrite", compression=compression,
                max_records_per_file=max_records_per_file,
            )
        if not prev.partition_by:
            raise UserException(
                "overwrite_partitions requires a partitioned table; "
                "use mode='overwrite' or replace_where()."
            )
        missing = [c for c in prev.partition_by if c not in df.columns]
        if missing:
            raise UserException(
                f"Incoming batch lacks partition column(s) {missing}."
            )
        tuples = [
            r.asDict() for r in
            df.select(*prev.partition_by).distinct().collect()
        ]
        if not tuples:
            raise UserException(
                "Incoming batch is empty; dynamic partition overwrite "
                "would be a no-op commit."
            )

        def lit_sql(v) -> str:
            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return "TRUE" if v else "FALSE"
            if isinstance(v, (int, float)):
                return repr(v)
            s = str(v).replace("'", "''")
            return f"'{s}'"

        def tuple_pred(t: dict) -> str:
            parts = [
                f"{c} IS NULL" if t[c] is None else f"{c} = {lit_sql(t[c])}"
                for c in prev.partition_by
            ]
            return "(" + " AND ".join(parts) + ")"

        disjuncts = [tuple_pred(t) for t in tuples]
        condition = " OR ".join(disjuncts)
        return self.replace_where(
            df, condition, compression=compression,
            max_records_per_file=max_records_per_file, enforce=False,
            # parenthesized OR defeats the flat-AND parser; prune per
            # partition tuple (dir-layout aware) instead
            prune_disjuncts=[d.strip("()") for d in disjuncts],
            partition_tuples=tuples,
        )

    def upsert_full_sync(
        self,
        source: DataFrame,
        primary_key: list[str],
        delete_scope: str | None = None,
        compression: str = "snappy",
        max_records_per_file: int | None = None,
        order_by: list[str] | None = None,
    ) -> Commit:
        """``MERGE … WHEN NOT MATCHED BY SOURCE [AND scope] THEN
        DELETE`` at the table layer: matched rows replaced, new rows
        inserted, and target rows the source no longer carries deleted
        — everywhere (``delete_scope=None``) or only inside the scope
        predicate (sync one region/day from a partial extract).

        Unit pruning: a unit carries by reference iff it is provably
        disjoint from the source's PK bounds AND provably cannot
        contain a scope-matching row (commit stats on both) — the
        scoped nightly dimension refresh rewrites only the synced
        slice. Unscoped sync touches everything by definition (any row
        anywhere may need deletion). CDF attributes delete /
        update_postimage / insert rows, which a blind overwrite
        loses."""
        from component_delta_lake_writer_spark.operators.merge import (
            dedup_source,
            merge_full_sync,
        )
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            unit_overlaps_key_bounds,
        )

        if not primary_key:
            raise UserException("Full-sync merge requires a primary key.")
        prev = self.latest_commit()
        if prev is None:
            return self.write(
                dedup_source(source, primary_key, order_by),
                mode="overwrite", primary_key=primary_key,
                compression=compression,
                max_records_per_file=max_records_per_file,
            )
        source = self._apply_column_defaults(source, prev)
        source = self._apply_generated(source, self._generation_exprs(prev))
        table_schema = T.StructType.fromJson(json.loads(prev.schema_json))
        if not self._schema_compatible(table_schema, source.schema):
            raise SchemaMismatchError(
                "Full-sync source schema must match the table schema."
            )
        src = self._align_to_schema(
            dedup_source(source, primary_key, order_by), table_schema
        ).persist()
        try:
            touched = list(prev.data_units)
            untouched: list[str] = []
            if delete_scope is not None and len(prev.data_units) > 1:
                bounds, _n = self._source_key_bounds(src, primary_key)
                scope_units = set(self._prune(prev, delete_scope))
                touched, untouched = [], []
                for u in prev.data_units:
                    keyed = not bounds or unit_overlaps_key_bounds(
                        prev.stats.get(u), bounds
                    )
                    if keyed or u in scope_units:
                        touched.append(u)
                    else:
                        untouched.append(u)
            target = (
                self._read_units(prev, touched)
                if touched
                else local_relation(self.spark, table_schema)
            )
            merged = merge_full_sync(
                target, src, primary_key,
                delete_scope=delete_scope, pre_deduplicated=True,
            )
            constraints = prev.properties.get("constraints", {})
            if constraints:
                self._check_constraints(merged, constraints)
            units, files = self._write_rewrite(
                prev, untouched, merged, compression, max_records_per_file
            )
            commit = self._next(
                prev, "upsert",
                data_units=units, primary_key=primary_key, files=files,
            )
            cdc = []
            if prev.properties.get("enableChangeDataFeed"):
                full_target = self._read_units(prev, prev.data_units)
                keys = src.select(*primary_key)
                gone = full_target.join(keys, primary_key, "left_anti")
                if delete_scope is not None:
                    gone = gone.filter(
                        F.coalesce(F.expr(delete_scope), F.lit(False))
                    )
                tkeys = full_target.select(*primary_key).dropDuplicates(
                    primary_key
                )
                changes = (
                    src.join(tkeys, primary_key, "left_semi")
                    .withColumn("_change_type", F.lit("update_postimage"))
                    .unionByName(
                        src.join(tkeys, primary_key, "left_anti")
                        .withColumn("_change_type", F.lit("insert"))
                    )
                    .unionByName(
                        gone.withColumn("_change_type", F.lit("delete"))
                    )
                )
                cdc = self._write_change_files(
                    changes, prev.column_mapping
                )
            commit = self._publish(commit, prev, cdc)
        finally:
            src.unpersist()
        return commit

    @staticmethod
    def _tuple_in_unit(
        seen: dict[str, set], t: dict, partition_by: list[str]
    ) -> bool:
        """Can the unit contain partition tuple ``t``? Conservative:
        missing evidence or an un-reproducible value encoding (floats,
        timestamps) counts as present — pruning must never drop a
        partition that is actually there."""
        from component_delta_lake_writer_spark.sinks.hive_layout import (
            value_matches,
        )

        for c in partition_by:
            if c not in t or c not in seen:
                continue
            verdicts = [value_matches(d, t[c]) for d in seen[c]]
            if any(v is None for v in verdicts):
                continue  # unknown encoding — conservative
            if not any(verdicts):
                return False
        return True

    @property
    def _ingest_dir(self) -> str:
        return os.path.join(self.path, "_ingest")

    def _ingested_files(self, commit: Commit | None) -> set[str]:
        out: set[str] = set()
        for name in (commit.ingest_sidecars if commit else []) or []:
            p = os.path.join(self._ingest_dir, name)
            try:
                with open(p) as fh:
                    out.update(json.load(fh)["files"])
            except FileNotFoundError:
                continue  # vacuumed sidecar: its files predate retention
        return out

    def copy_into(
        self,
        source: str | list[str],
        file_format: str = "parquet",
        schema: T.StructType | None = None,
        options: dict | None = None,
        compression: str = "snappy",
        max_records_per_file: int | None = None,
    ) -> Commit:
        """``COPY INTO t FROM loc`` (Delta COPY INTO): file-level
        idempotent ingest. Every run lists the source glob(s), skips
        files a previous COPY INTO already loaded (recorded in
        ``_ingest/`` sidecars referenced by the commit), and appends
        only the remainder — the retry-safe landing-zone loader.

        The load-history check is metadata-scale (file NAMES, never
        data — the same class of driver-side state as Delta's log);
        the data itself flows through one distributed read → append.
        Returns the unchanged head commit when nothing new matched.
        """
        import glob as _glob

        patterns = [source] if isinstance(source, str) else list(source)
        listed = sorted(
            {
                os.path.abspath(f)
                for pat in patterns
                for f in _glob.glob(pat)
                if os.path.isfile(f)
            }
        )
        prev = self.latest_commit()
        # hoisted: evaluating this inside the comprehension re-read
        # every ingest sidecar once per listed file (quadratic with
        # ingest history on a big landing zone)
        ingested = self._ingested_files(prev)
        new_files = [f for f in listed if f not in ingested]
        if not new_files:
            if prev is None:
                raise UserException(
                    f"COPY INTO matched no files under {patterns} and "
                    "no table exists yet."
                )
            return prev  # fully ingested — idempotent no-op
        reader = self.spark.read.format(file_format)
        if schema is None and prev is not None:
            schema = T.StructType.fromJson(json.loads(prev.schema_json))
        if schema is not None:
            reader = reader.schema(schema)
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        df = reader.load(new_files)
        os.makedirs(self._ingest_dir, exist_ok=True)
        name = f"{uuid.uuid4().hex}.json"
        tmp = os.path.join(self._ingest_dir, name + ".tmp")
        with open(tmp, "w") as fh:
            json.dump({"files": new_files}, fh)
        os.replace(tmp, os.path.join(self._ingest_dir, name))
        # an append that fails after this leaves an unreferenced
        # sidecar — harmless (only commit-referenced sidecars count)
        return self.write(
            df, mode="append", compression=compression,
            max_records_per_file=max_records_per_file,
            ingest_sidecar=name,
        )

    # ---------- maintenance ----------

    def _zvalue(self, df: DataFrame, cols: list[str], bits: int = 8):
        """Morton/Z-value of equal-frequency bucket ranks: each column
        is ranked into 2^bits quantile buckets (cut points from ONE
        approxQuantile pass — no global sort), and the bucket bits are
        interleaved so nearby Z-values are nearby in EVERY dimension.

        The per-row cost is 2^bits comparisons per column inside
        whole-stage codegen (a fold over the broadcast cut array) —
        trivial against the rewrite the caller is already doing."""
        for c in cols:
            if not isinstance(
                df.schema[c].dataType,
                (T.IntegerType, T.LongType, T.ShortType, T.DoubleType,
                 T.FloatType, T.DecimalType),
            ):
                raise UserException(
                    f"zorder_by column {c!r} must be numeric "
                    f"(got {df.schema[c].dataType.simpleString()})."
                )
        n = 1 << bits
        z = F.lit(0).cast("long")
        # ONE approxQuantile pass for ALL dimensions (the list form
        # sketches every column in the same job) — one scan of the
        # compaction input instead of one per z-order column; the
        # per-column sketches and cut points are identical to the
        # one-column calls (r13, guide §1.2: remove whole passes
        # before per-task work).
        qs = [i / n for i in range(1, n)]
        all_cuts = df.approxQuantile(list(cols), qs, 0.001)
        for d, c in enumerate(cols):
            cuts = all_cuts[d]
            arr = F.array(*[F.lit(float(x)) for x in cuts])
            x = F.col(c).cast("double")
            bucket = F.aggregate(
                arr,
                F.lit(0),
                lambda acc, cut: acc
                + F.when(x >= cut, F.lit(1)).otherwise(F.lit(0)),
            )
            for b in range(bits):
                bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1)).cast("long")
                z = z + F.shiftleft(bit, b * len(cols) + d)
        return z

    def optimize(
        self,
        target_file_rows: int | None = None,
        cluster_by: list[str] | None = None,
        unit_per_file: bool = False,
        zorder_by: list[str] | None = None,
        where: str | None = None,
    ) -> Commit:
        """Compact the snapshot into fresh data unit(s) (the engine's
        OPTIMIZE; keeps read amplification bounded as appends pile up).

        ``cluster_by`` additionally range-partitions + sorts rows by
        the given columns before writing (the Z-ORDER-style layout
        play): parquet min/max column stats become tight per file, so
        later point/range filters on those columns skip whole files —
        the 100 TB substitute for an index.

        ``where`` scopes the compaction (Delta's ``OPTIMIZE t WHERE
        …``): only units whose stats ranges can satisfy the predicate
        are rewritten — WHOLE units, never row filtering — everything
        else carries by reference with its deletion vectors intact. The
        hot-partition maintenance play: compact today's churn without
        touching years of cold data.

        ``unit_per_file`` (clustered, unpartitioned tables only) then
        splits the compacted output into ONE DATA UNIT PER FILE —
        driver-side renames after a single Spark job, no extra pass
        over the data. Because clustered files cover disjoint key
        ranges, this keeps the table prunable at unit granularity, so
        later selective MERGEs rewrite only the key ranges a batch
        touches instead of the whole compacted snapshot."""
        prev = self._head()
        if cluster_by and zorder_by:
            raise UserException("Pass cluster_by OR zorder_by, not both.")
        if unit_per_file and (
            not (cluster_by or zorder_by) or prev.partition_by
        ):
            raise UserException(
                "unit_per_file requires cluster_by/zorder_by and an "
                "unpartitioned table (range-disjoint files are what "
                "make the split worth committing)."
            )
        untouched: list[str] = []
        touched = list(prev.data_units)
        if where is not None:
            if unit_per_file:
                raise UserException(
                    "unit_per_file applies to full-table optimize only."
                )
            touched = self._prune(prev, where)
            untouched = [
                u for u in prev.data_units if u not in set(touched)
            ]
            if not touched:
                return prev  # nothing in scope — no-op
        # OPTIMIZE is dataChange=false: rows keep their identity.
        # reads coalesce the materialized ids over the fresh base ids
        # the new unit draws (scan.scan_files).
        df = self._read_rewrite(prev, touched)
        if cluster_by:
            # lexicographic range clustering: tight file stats on the
            # LEADING column; trailing columns skip poorly
            df = df.repartitionByRange(*cluster_by).sortWithinPartitions(
                *cluster_by
            )
        elif zorder_by:
            # Z-ORDER BY: bit-interleaved quantile ranks — every listed
            # dimension gets usable min/max locality, the multi-column
            # point-lookup layout (what Delta's OPTIMIZE ZORDER does)
            z = self._zvalue(df, zorder_by)
            df = (
                df.withColumn("__z", z)
                .repartitionByRange("__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        if unit_per_file:
            # a full optimize of an unpartitioned table: nothing carried
            units = self._split_unit_per_file(
                self._write_unit(
                    df, prev.partition_by, "snappy", target_file_rows
                )
            )
            files = {
                u: self._unit_files(u, props=prev.properties) for u in units
            }
            # Spark's empty first file, split off into a unit of its own
            if empty := _empty_first_file(
                {p: r for recs in files.values() for p, r in recs.items()}
            ):
                units.remove(u := _dv_unit(empty))
                del files[u]
                shutil.rmtree(os.path.join(self._data_dir, u))
        else:
            # a scoped optimize that CARRIES physically-named units must
            # write the rewrite under the same physical names (uniform
            # on-disk naming); a full optimize materializes renames and
            # resets the mapping (REORG)
            units, files = self._write_rewrite(
                prev, untouched, df, "snappy", target_file_rows,
                mapping=prev.column_mapping if untouched else {},
            )
        commit = self._next(
            prev, "optimize",
            data_units=units,
            files=files,
            column_mapping=prev.column_mapping if untouched else {},
            # a clustering optimize (re)declares the table's clustering
            # columns (Delta clustered-table state); a plain compaction
            # keeps whatever stood
            clustered_by=cluster_by or zorder_by or None,
        )
        return self._publish(commit, prev)

    def _split_unit_per_file(self, unit: str) -> list[str]:
        """Move each parquet file of ``unit`` into its own unit dir
        (driver-side renames — cheap metadata ops, no data copied)."""
        src_dir = os.path.join(self._data_dir, unit)
        units: list[str] = []
        for fn in sorted(os.listdir(src_dir)):
            if not fn.endswith(".parquet"):
                continue
            nu = uuid.uuid4().hex
            nd = os.path.join(self._data_dir, nu)
            os.makedirs(nd)
            os.rename(os.path.join(src_dir, fn), os.path.join(nd, fn))
            units.append(nu)
        shutil.rmtree(src_dir, ignore_errors=True)
        if not units:
            raise UserException(f"optimize produced no data files at {src_dir}")
        return units

    def restore(
        self, version: int | None = None, timestamp_ms: int | None = None
    ) -> Commit:
        """RESTORE TABLE … TO VERSION AS OF n / TO TIMESTAMP AS OF t
        (Delta's RESTORE): a NEW commit whose snapshot is the target's
        — history is preserved (restore is itself undoable), no data
        is copied, and the restored units must still exist (a vacuum
        after the target makes the restore fail loudly, same as
        Delta). Pass exactly one of ``version`` / ``timestamp_ms``."""
        prev = self._head()
        if (version is None) == (timestamp_ms is None):
            raise UserException(
                "RESTORE takes exactly one of version / timestamp_ms."
            )
        if version is None:
            version = self.commit_at_timestamp(timestamp_ms).version
        old = self.commit_at(version)
        missing = [
            u
            for u in old.data_units
            if not os.path.isdir(os.path.join(self._data_dir, u))
        ]
        if missing:
            raise UserException(
                f"Cannot restore to version {version}: data units "
                f"{missing} were vacuumed."
            )
        # deletion-vector files are part of the snapshot too:
        # restoring a version whose DV files were vacuumed would
        # publish a snapshot whose every read crashes later — the loud
        # failure belongs HERE, same as the units check
        missing_dv = self._missing_dv_files(old)
        if missing_dv:
            raise UserException(
                f"Cannot restore to version {version}: deletion-vector "
                f"files {missing_dv} were vacuumed."
            )
        props = {**old.properties, "restored_from_version": version}
        # Protocol features never downgrade: restoring to a version
        # that predates rowTracking / inCommitTimestamp enablement
        # keeps the feature ON (ids reassign seamlessly from history,
        # the commit clock stays monotonic) — flipping them off would
        # break every id consumer and regress the ICT clock, which the
        # spec forbids. delta-spark applies the same rule on RESTORE.
        for key in (
            "delta.enableRowTracking",
            "delta.enableInCommitTimestamps",
        ):
            if _prop_on(prev.properties, key) and not _prop_on(props, key):
                props[key] = "true"
        if _prop_on(props, "delta.enableInCommitTimestamps"):
            for k2 in (
                "delta.inCommitTimestampEnablementVersion",
                "delta.inCommitTimestampEnablementTimestamp",
            ):
                if k2 not in props and k2 in (prev.properties or {}):
                    props[k2] = prev.properties[k2]
        # the restored snapshot is the new version's table state: its
        # units with their deletion vectors and row ids, and its
        # clustering (the restored units' physical layout); writer
        # state stays the head's
        commit = self._next(prev, "restore", base=old, properties=props)
        return self._publish(commit, prev)

    def _missing_dv_files(self, c: Commit) -> list[str]:
        from component_delta_lake_writer_spark.sinks.deletion_vectors import (  # noqa: E501
            dv_relative_path,
        )

        return sorted(
            {
                dv_relative_path(d)
                for d in c.deletion_vectors.values()
                if not os.path.exists(
                    os.path.join(self.path, dv_relative_path(d))
                )
            }
        )

    def vacuum(
        self, retention_hours: float = 0.0, dry_run: bool = False
    ) -> int:
        """``VACUUM table [RETAIN n HOURS] [DRY RUN]`` (Delta parity).

        Deletes data units referenced by NO commit younger than the
        retention cutoff — time travel to any version inside the
        retention window keeps working; only versions older than every
        retained commit lose their units. ``retention_hours=0``
        (default) keeps just the latest snapshot, the most aggressive
        setting (Delta requires an explicit override for <168h; this
        engine's default stays aggressive for parity with its own
        round-1 behavior, documented here instead of flagged).

        ``dry_run=True`` only counts what would be deleted."""
        prev = self.latest_commit()
        if prev is None or not os.path.isdir(self._data_dir):
            return 0
        now_ms = int(time.time() * 1000)
        cutoff_ms = now_ms - int(retention_hours * 3600_000)
        from component_delta_lake_writer_spark.sinks.deletion_vectors import (  # noqa: E501
            dv_relative_path,
        )

        def _change_dirs(c: Commit) -> set:
            # a commit's change files share one directory of their own
            # (an older engine's sit flat in _change_data/)
            return {rel.split("/")[1] for rel in c.cdc_files}

        def _dv_files(c: Commit) -> set:
            return {dv_relative_path(d) for d in c.deletion_vectors.values()}

        live = set(prev.data_units)
        live_dvs = _dv_files(prev)
        live_changes = _change_dirs(prev)
        ever_referenced: set = set()
        for c in self.history():
            dv_files = _dv_files(c)
            ever_referenced.update(c.data_units, dv_files, _change_dirs(c))
            if c.timestamp_ms >= cutoff_ms:
                live.update(c.data_units)
                live_dvs.update(dv_files)
                live_changes.update(_change_dirs(c))
        # a unit referenced by NO commit at all may be a CONCURRENT
        # writer's just-written, not-yet-published data: reclaiming it
        # would permanently break the commit about to reference it.
        # Delta's VACUUM protects in-flight files by modification age;
        # same here — orphans younger than the grace window survive.
        orphan_grace_ms = 20 * 60 * 1000

        def _orphan_in_flight(name: str, root: str = self._data_dir) -> bool:
            if name in ever_referenced:
                return False
            try:
                mt = os.path.getmtime(os.path.join(root, name)) * 1000
            except OSError:
                return True  # racing with its writer — leave it alone
            return mt > now_ms - orphan_grace_ms

        removed = 0
        for unit in os.listdir(self._data_dir):
            if unit not in live and not _orphan_in_flight(unit):
                if not dry_run:
                    shutil.rmtree(
                        os.path.join(self._data_dir, unit), ignore_errors=True
                    )
                removed += 1
        # bloom sidecars share their unit's liveness
        if os.path.isdir(self._bloom_dir):
            for unit in os.listdir(self._bloom_dir):
                if unit not in live:
                    if not dry_run:
                        shutil.rmtree(
                            os.path.join(self._bloom_dir, unit),
                            ignore_errors=True,
                        )
                    removed += 1
        # change-data files follow the same rule: kept while a retained
        # version's cdc actions name them; unreferenced ones (a writer
        # that died before its version claim) after the in-flight grace
        cd_dir = os.path.join(self.path, "_change_data")
        for name in os.listdir(cd_dir) if os.path.isdir(cd_dir) else []:
            if name in live_changes or _orphan_in_flight(name, cd_dir):
                continue
            if not dry_run:
                p = os.path.join(cd_dir, name)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    try:
                        os.unlink(p)
                    except OSError:
                        pass
            removed += 1
        # deletion-vector files (deletion_vector_*.bin at the table
        # root) follow their commits' liveness, like data units: kept
        # while any retained commit references one. Every DV swap and
        # rewrite otherwise orphans its predecessor forever. A file no
        # commit ever referenced gets the same in-flight grace (a
        # writer writes it before its version claim).
        for fn in os.listdir(self.path):
            if not (
                fn.startswith("deletion_vector_") and fn.endswith(".bin")
            ) or fn in live_dvs:
                continue
            if _orphan_in_flight(fn, self.path):
                continue
            if not dry_run:
                try:
                    os.unlink(os.path.join(self.path, fn))
                except OSError:
                    pass
            removed += 1
        return removed

    def cleanup_metadata(
        self, retention_hours: float = 30 * 24, now_ms: int | None = None
    ) -> int:
        """Delta's log retention (delta.logRetentionDuration): delete
        log JSON entries and checkpoints older than the advertised
        checkpoint once past the retention window, and GC unreferenced
        sidecar files. Every reader, this engine included, then replays
        from that checkpoint: time travel to a version below it fails,
        exactly the Delta contract. Returns files deleted."""
        from component_delta_lake_writer_spark.sinks.delta_log import (
            cleanup_metadata,
        )

        return cleanup_metadata(
            self.path,
            retention_ms=int(retention_hours * 3600 * 1000),
            now_ms=now_ms,
        )

    def clone_to(
        self, dest_path: str, shallow: bool = False
    ) -> "ManagedTable":
        """``CREATE TABLE … {DEEP|SHALLOW} CLONE src`` (Delta CLONE): a
        full independent copy — data units, commit history, deletion
        vectors, stats — at the destination. Later writes to either side
        never affect the other.

        ``shallow=True`` is the zero-data-copy variant: parquet bytes
        under ``_data`` and the deletion-vector files are HARDLINKED
        instead of copied
        (O(files) metadata ops, zero data movement — the cost profile
        of Delta's shallow clone), while the log is a real copy so each
        table's metadata stays self-contained.
        This is safe because data files are immutable here: every
        rewrite creates new files and removal is an unlink, which only
        drops one link. Unlike Delta's pointer-based shallow clone
        (absolute ``add.path`` into the source table), VACUUM on
        either side can never break the other — the filesystem keeps
        shared bytes alive until the last link drops — and external
        readers need no absolute-path support. Cross-device
        destinations degrade file-by-file to plain copies.

        Driver-side copytree: at 100 TB this is the object-store
        server-side-copy loop over unit prefixes — O(files) metadata
        ops, no data through the driver."""
        dest = dest_path.rstrip("/")
        if os.path.exists(dest) and os.listdir(dest):
            raise UserException(f"Clone destination {dest} is not empty.")
        self._head()
        if not shallow:
            shutil.copytree(self.path, dest, dirs_exist_ok=True)
            return ManagedTable(self.spark, dest)
        src_root = self.path

        def _link_or_copy(s: str, d: str) -> None:
            top = os.path.relpath(s, src_root).split(os.sep, 1)[0]
            if top == _DATA or top.startswith("deletion_vector_"):
                try:
                    os.link(s, d)
                    return
                except OSError:
                    pass  # cross-device: fall through to copy
            shutil.copy2(s, d)

        shutil.copytree(
            self.path, dest, dirs_exist_ok=True,
            copy_function=_link_or_copy,
        )
        return ManagedTable(self.spark, dest)

    def recompute_stats(self) -> Commit:
        """``ANALYZE TABLE … COMPUTE STATISTICS``: refresh every
        unit's footer-derived min/max/null/row stats in a
        metadata-only commit — no data touched, one driver-side footer
        pass. The path that (re-)arms data skipping on a table adopted
        with ``collect_stats=False`` or written by an older engine."""
        prev = self._head()
        files = {}
        for u in prev.data_units:
            fresh = self._unit_files(
                u, props=prev.properties, mapping=prev.column_mapping
            )
            # the files stay as they are: they keep their deletions
            old = prev.files[u]
            files[u] = {
                p: {**r, "deletionVector": old[p]["deletionVector"]}
                if old[p].get("deletionVector") else r
                for p, r in fresh.items()
            }
        commit = self._next(prev, "analyze", files=files)
        return self._publish(commit, prev)

    def convert_from_parquet(
        self,
        source_dir: str,
        partition_by: list[str] | None = None,
        primary_key: list[str] | None = None,
        properties: dict | None = None,
        collect_stats: bool = True,
    ) -> Commit:
        """``CONVERT TO DELTA parquet.`/dir/``` (Delta's in-place
        adoption): turn an existing parquet directory — optionally
        hive-partitioned ``key=value`` — into a managed table WITHOUT
        rewriting any data. Files are adopted by hardlink (cross-
        device: file copy), footer stats are collected driver-side
        exactly like a native write, and version 0 commits with
        action ``convert`` so the Delta log exposes the adopted
        files to external readers immediately.

        At 100 TB this is the whole point of CONVERT: commit cost is
        O(files) metadata operations + one footer pass — the data
        never moves. Partition columns are inferred from the hive
        layout (or validated against ``partition_by`` if given); the
        schema comes from the parquet footers + partition inference,
        never from data sampling."""
        if self.exists():
            raise UserException(
                f"CONVERT destination {self.path} already has a table."
            )
        if not os.path.isdir(source_dir):
            raise UserException(f"No directory at {source_dir}")
        rels: list[str] = []
        inferred: list[str] | None = None
        for dirpath, _dirs, fns in os.walk(source_dir):
            for fn in sorted(fns):
                if not fn.endswith(".parquet"):
                    continue
                rel = os.path.relpath(
                    os.path.join(dirpath, fn), source_dir
                )
                keys = [
                    seg.split("=", 1)[0]
                    for seg in os.path.dirname(rel).split(os.sep)
                    if "=" in seg
                ]
                if inferred is None:
                    inferred = keys
                elif keys != inferred:
                    raise UserException(
                        "CONVERT: inconsistent hive partition layout "
                        f"({keys} vs {inferred})."
                    )
                rels.append(rel)
        if not rels:
            raise UserException(
                f"CONVERT: no parquet files under {source_dir}"
            )
        if partition_by is not None and list(partition_by) != (
            inferred or []
        ):
            raise UserException(
                f"CONVERT: declared partition_by {list(partition_by)} "
                f"does not match the layout {(inferred or [])}."
            )
        partition_by = inferred or []
        unit = uuid.uuid4().hex
        udir = os.path.join(self._data_dir, unit)
        for rel in rels:
            dst = os.path.join(udir, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            src = os.path.join(source_dir, rel)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)
        # schema: parquet footers + hive partition-column inference —
        # driver-side metadata only, no job (matches the engine's
        # "declared schemas, no data sampling" posture)
        schema = self.spark.read.parquet(udir).schema
        props = properties or {}
        if not collect_stats:
            # NO STATISTICS: row counts only (footer headers — needed
            # for metadata-only COUNT(*)), no min/max; data skipping
            # stays off until ANALYZE
            props = {**props, "delta.dataSkippingNumIndexedCols": 0}
        commit = self._next(
            None, "convert",
            data_units=[unit],
            schema_json=json.dumps(schema.jsonValue()),
            partition_by=partition_by,
            primary_key=primary_key,
            properties=properties,
            files={unit: self._unit_files(unit, props=props)},
        )
        return self._publish(commit, None)

    def drop(self) -> None:
        """W13: DROP TABLE IF EXISTS (src/component.py:147-148)."""
        shutil.rmtree(self.path, ignore_errors=True)
        self._snap = None

    @property
    def _legacy_dir(self) -> str:
        """The per-commit snapshot log earlier engine versions kept
        beside ``_delta_log`` — read only by ``sync_metadata``."""
        return os.path.join(self.path, "_commits")

    def sync_metadata(self) -> int:
        """W14: ``MSCK REPAIR TABLE … SYNC METADATA`` (reference
        src/component.py:113-115 resyncs Unity Catalog from the Delta
        log after an external write). Here it is the one-shot
        converter for a table an earlier engine version wrote, which
        kept a full snapshot per commit under ``_commits/`` beside the
        Delta log: ONE metadata-only commit re-adds every live file
        with dataChange=false, its stats and tags, removes whatever
        the old log still lists that the snapshot does not, and
        records the primary key, exact properties, watermarks and
        ingest sidecars in metaData / txn / domainMetadata; then
        ``_commits/`` goes. The commit lands right after the last
        version the Delta log can replay: that engine claimed a version
        in ``_commits`` before writing its Delta entry, so a crash
        between the two left the Delta log behind (or, before it
        mirrored, absent), and later entries past such a gap were
        unreachable to every Delta reader — they are deleted, the
        snapshot this commit reconciles to subsumes them. Earlier
        versions stay readable from the log for time travel. Returns 1
        when a table was converted, 0 when there was nothing to
        convert."""
        from component_delta_lake_writer_spark.sinks.delta_log import (
            _empty_state,
            _replay_steps,
            write_delta_log_entry,
        )

        legacy = self._legacy_dir
        if not os.path.isdir(legacy):
            return 0
        names = sorted(
            f for f in os.listdir(legacy)
            if f.endswith(".json") and f[:-5].isdigit()
        )
        if names:
            with open(os.path.join(legacy, names[-1])) as fh:
                d = json.load(fh)
            # per-file state that snapshot kept beside its units: it
            # becomes the file records' deletion vectors and row ids
            dvs = d.pop("deletion_vectors", None) or {}
            row_ids = d.pop("row_ids", None) or {}
            # a field this engine no longer models: empty, it carries no
            # state; non-empty (e.g. merge-on-read deletes kept outside
            # the Delta log), dropping it would resurrect rows
            gone = sorted(
                k for k, v in d.items() if k not in _COMMIT_FIELDS and v
            )
            if gone:
                raise UserException(
                    f"{names[-1]} at {legacy} carries {gone}, state this "
                    "engine no longer reads; run optimize() with the "
                    "engine that wrote it first (MIGRATION.md)."
                )
            old = Commit(**{k: v for k, v in d.items() if k in _COMMIT_FIELDS})
            state = _empty_state()
            for state, _touched in _replay_steps(self.path):
                pass
            head = state["version"]
            for u in old.data_units:
                st = old.stats.get(u) or {}
                # one listing and footer pass, as a write makes; the
                # snapshot's bloom tags, deletion vectors and row ids
                # go on the records
                recs = self._unit_files(
                    u, props=old.properties, mapping=old.column_mapping
                )
                ids = row_ids.get(u) or {}
                for rel, r in recs.items():
                    if st.get("_bloom"):
                        r["tags"] = {"engine.bloom": json.dumps(st["_bloom"])}
                    if dvs.get(rel):
                        r["deletionVector"] = dvs[rel]
                    if rel in (ids.get("files") or {}):
                        r["baseRowId"] = ids["files"][rel][0]
                        r["defaultRowCommitVersion"] = ids["v"]
                old.files[u] = recs
                old.stats[u] = _fold_unit(recs)
            old.version = head + 1
            old.action = "sync_metadata"
            old.timestamp_ms = int(time.time() * 1000)
            if _prop_on(old.properties, "delta.enableRowTracking"):
                self._assign_row_ids(old, None)
            actions = self._log_actions(old, None, state, data_change=False)
            live = set(old.data_units)
            # what the log lists beyond the snapshot, and the previous
            # incarnation of every file whose deletion vector the
            # snapshot changed (reconciliation is keyed by path and DV)
            stale = [
                {"remove": {
                    "path": a["path"],
                    "deletionTimestamp": old.timestamp_ms,
                    "dataChange": False,
                    **{k: a[k] for k in ("size", "deletionVector") if k in a},
                }}
                for p, a in state["adds"].items()
                if _dv_unit(p) not in live
                or a.get("deletionVector") != old.deletion_vectors.get(p)
            ]
            at = 1 if "commitInfo" in actions[0] else 0
            actions[at:at] = stale
            logged = os.path.isdir(self._log_dir)
            for f in os.listdir(self._log_dir) if logged else []:
                m = re.match(r"(\d{20})(?:\.(\d{20}))?\.", f)
                if m and int(m.group(2) or m.group(1)) > head:
                    os.remove(os.path.join(self._log_dir, f))
            write_delta_log_entry(self.path, old.version, actions, state)
        shutil.rmtree(legacy)
        self._snap = None
        return 1 if names else 0

    def history(self) -> list[Commit]:
        """Every version the log still holds, oldest first."""
        return list(self._walk())

    def create_or_replace_view(self, name: str, version: int | None = None):
        """Register the snapshot as a Spark SQL temp view so the table
        joins the ``spark.sql`` surface (the engine's equivalent of a
        catalog table; pass ``version`` for a time-travel view). The
        view captures the snapshot AT REGISTRATION — re-register after
        writes, exactly like Delta's static DataFrame reads."""
        df = self.read(version=version) if version is not None else self.read()
        df.createOrReplaceTempView(name)
        return df

    def fsck(self) -> dict:
        """Physical-integrity audit of the commit log vs the
        filesystem (the object-store reality check a 100 TB table
        needs after a botched copy or manual deletion): per version,
        which referenced data units / deletion-vector files / bloom
        sidecars are missing, plus the newest fully-intact version —
        the safe `restore()` target. Read-only; never mutates."""
        report: dict = {"versions": {}, "last_intact_version": None}
        for c in self._walk():
            v = c.version
            missing_units = [
                u
                for u in c.data_units
                if not os.path.isdir(os.path.join(self._data_dir, u))
            ]
            missing_dvs = self._missing_dv_files(c)
            missing_blooms = [
                meta["path"]
                for u in c.data_units
                for meta in ((c.stats.get(u) or {}).get("_bloom") or {}).values()
                if not os.path.exists(
                    os.path.join(self._bloom_dir, meta["path"])
                )
            ]
            missing_ingest = [
                name
                for name in (c.ingest_sidecars or [])
                if not os.path.exists(
                    os.path.join(self._ingest_dir, name)
                )
            ]
            issues = {}
            if missing_units:
                issues["missing_units"] = missing_units
            if missing_dvs:
                issues["missing_deletion_vectors"] = missing_dvs
            if missing_blooms:
                # bloom loss is benign (pruning degrades, reads stay
                # correct) but still worth surfacing
                issues["missing_bloom_sidecars"] = missing_blooms
            if missing_ingest:
                # reads stay correct; COPY INTO idempotency degrades
                # (the lost sidecar's files would re-ingest)
                issues["missing_ingest_sidecars"] = missing_ingest
            if issues:
                report["versions"][v] = issues
            if not missing_units and not missing_dvs:
                report["last_intact_version"] = v
        return report

    def set_properties(
        self, updates: dict | None = None, unset: list[str] | None = None
    ) -> Commit:
        """``ALTER TABLE … SET TBLPROPERTIES (…)`` / ``UNSET
        TBLPROPERTIES (…)`` — one metadata-only commit. This is how
        CDF, constraints, autoCompact, bloom indexes etc. are toggled
        on an EXISTING table without rewriting anything (previously
        only reachable by threading ``properties`` through a write).
        Unknown keys in ``unset`` are ignored (Delta's IF EXISTS
        behavior)."""
        prev = self._head()
        props = dict(prev.properties or {})
        # Delta boolean-property semantics: the SQL surface hands every
        # value over as a string, and a truthiness check on 'false'
        # would leave the feature ON. Normalize 'true'/'false' strings
        # (any case) to real booleans — but ONLY for the keys the
        # engine actually truth-tests; a free-form user property whose
        # VALUE happens to be 'true' must round-trip as the string the
        # user set.
        norm = {
            k: (
                v.strip().lower() == "true"
                if k in _BOOLEAN_PROPERTIES
                and isinstance(v, str)
                and v.strip().lower() in ("true", "false")
                else v
            )
            for k, v in (updates or {}).items()
        }
        props.update(norm)
        for k in unset or []:
            props.pop(k, None)
        commit = self._next(prev, "set_properties", properties=props)
        return self._publish(commit, prev)

    def column_bounds(self, column: str):
        """``SELECT MIN(col), MAX(col)`` answered from COMMIT METADATA
        when sound — zero data IO: exact when no deletion vector is
        live (a deleted row could be the extreme one) and
        every unit records usable stats for the column. Temporal
        columns come back as datetimes (stats hold their fixed-width
        string form). Falls back to one distributed agg otherwise."""
        import datetime as _dt

        c = self._head()
        phys = (c.column_mapping or {}).get(column, column)
        ok = not c.deletion_vectors and c.data_units
        vals = []
        if ok:
            for u in c.data_units:
                ent = (c.stats.get(u) or {}).get(phys)
                rows = (c.stats.get(u) or {}).get("_rows", 1)
                if ent is None or (
                    ent.get("min") is None and (rows or 0) > 0
                    and (ent.get("nulls") or 0) < (rows or 0)
                ):
                    ok = False
                    break
                if ent.get("min") is not None:
                    vals.append((ent["min"], ent["max"], ent.get("t")))
        # mixed temporal kinds across units (e.g. after a date →
        # timestamp_ntz widening: old units keep 'date'-form stats)
        # cannot be folded lexicographically — fall back to the scan
        if ok and len({v[2] for v in vals}) > 1:
            ok = False
        if ok and vals:
            mn = min(v[0] for v in vals)
            mx = max(v[1] for v in vals)
            kind = vals[0][2]
            if kind == "ts":
                fmt = "%Y-%m-%d %H:%M:%S.%f"
                return (
                    _dt.datetime.strptime(mn, fmt),
                    _dt.datetime.strptime(mx, fmt),
                )
            if kind == "date":
                return (
                    _dt.date.fromisoformat(mn),
                    _dt.date.fromisoformat(mx),
                )
            return (mn, mx)
        row = self.read().agg(
            F.min(column).alias("mn"), F.max(column).alias("mx")
        ).first()
        return (row["mn"], row["mx"])

    def row_count(self) -> int:
        """``SELECT COUNT(*)`` answered from COMMIT METADATA when
        possible — zero data IO regardless of table size (Delta's
        metadata-only count optimization over add-action stats): the
        summed unit rows minus the summed deletion-vector
        cardinalities (each live file's bitmap is the union of every
        deletion hitting it). Falls back to one distributed count only
        when some file has no recorded row count."""
        rows = _live_rows(self._head())
        return self.read().count() if rows is None else rows

    def generate_symlink_manifest(self) -> str:
        """``GENERATE symlink_format_manifest FOR TABLE t`` (Delta's
        GENERATE command): writes
        ``_symlink_format_manifest/manifest`` — one absolute parquet
        path per line for the CURRENT snapshot — the handshake legacy
        engines (Presto/Trino/Athena/Hive external tables) use to read
        a Delta table without a Delta reader. Refused while deletion
        vectors are live (a bare file list cannot carry them, so it
        would resurrect deleted rows). Atomic tmp+rename publish;
        regenerate after
        every commit you want visible (exactly Delta's contract).
        Returns the manifest path."""
        c = self._head()
        if c.deletion_vectors:
            raise UserException(
                "symlink manifest refused: live deletion vectors would "
                "be lost from a bare file list and resurrect deleted "
                "rows; run optimize() first."
            )
        lines = [
            os.path.join(self.path, p)
            for u in c.data_units
            for p in c.files[u]
        ]
        mdir = os.path.join(self.path, "_symlink_format_manifest")
        os.makedirs(mdir, exist_ok=True)
        final = os.path.join(mdir, "manifest")
        tmp = final + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write("\n".join(sorted(lines)) + "\n")
        os.replace(tmp, final)
        return final

    def detail(self) -> dict:
        """``DESCRIBE DETAIL`` (Delta parity): one metadata dict for
        the current snapshot — format, location, version, unit/file
        counts and total data bytes from the log's adds, the live row
        count by ``row_count``'s metadata rule (no data scan; None when
        some add has no row count), partition/PK columns, properties,
        feature flags."""
        c = self._head()
        recs = [r for u in c.data_units for r in c.files[u].values()]
        return {
            "format": "delta",
            "location": self.path,
            "version": c.version,
            "num_units": len(c.data_units),
            "num_files": len(recs),
            "size_bytes": sum(r["size"] for r in recs),
            "num_rows_from_stats": _live_rows(c),
            "partition_columns": list(c.partition_by or []),
            "primary_key": list(c.primary_key or []),
            "properties": dict(c.properties or {}),
            "column_mapping_active": bool(c.column_mapping),
            "num_deletion_vectors": len(c.deletion_vectors),
            "generated_columns": self._generation_exprs(c),
            "identity_columns": sorted(self._identity_specs(c)),
            # Delta DESCRIBE DETAIL parity: clusteringColumns + the
            # row-tracking high-water mark when the features are live
            "clustering_columns": list(c.clustered_by or []),
            "row_tracking_high_water": (
                c.row_id_high_water
                if _prop_on(c.properties, "delta.enableRowTracking")
                else None
            ),
        }

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        with_change_type: bool = False,
    ) -> DataFrame:
        """Incremental read (change data feed): the rows CHANGED by
        commits in (from_version, to_version].

        - append commits contribute exactly their new data units
          (``_change_type = 'insert'``);
        - upsert/delete/update/replace_where commits contribute the
          change files their cdc actions name (inserts, deletes and
          update images, the rows the commit actually changed); one
          that touched no rows contributes nothing;
        - optimize and metadata commits contribute nothing (pure
          rewrite, dataChange=false in Delta terms) and are skipped;
        - overwrite/restore replace the snapshot wholesale — reading
          across one raises, mirroring Delta's CDF on non-CDF rewrites.

        ``with_change_type=True`` appends the ``_change_type`` column.
        """
        commits = list(
            itertools.takewhile(
                lambda c: to_version is None or c.version <= to_version,
                self._walk(from_version),
            )
        )
        if len(commits) < 2:
            raise UserException(
                f"No commits after version {from_version} at {self.path}"
            )
        added: dict[str, Commit] = {}
        change_files: list[str] = []
        for prev, c in zip(commits, commits[1:]):
            units, files = commit_changes(self.path, prev, c, "read_changes")
            added.update((u, c) for u in units)
            change_files += files
        last = commits[-1]
        # one scan under the range-end schema (older units' missing
        # columns read as NULL) of the added units — as the commits
        # that added them list their files — and one of the change
        # files, which store every column plus _change_type
        schema = T.StructType.fromJson(json.loads(last.schema_json))
        ctype_schema = T.StructType(
            schema.fields + [T.StructField("_change_type", T.StringType(), True)]
        )
        parts: list[DataFrame] = []
        if added:
            files = None
            if last.partition_by:
                files = {
                    p: r for u, c in added.items() for p, r in c.files[u].items()
                }
            parts.append(
                scan_files(
                    self.spark, self.path, schema, files,
                    [f"{_DATA}/{u}" for u in added],
                    last.column_mapping, last.partition_by,
                ).withColumn("_change_type", F.lit("insert"))
            )
        if change_files:
            parts.append(
                # keyed per file: a change file written flat into
                # _change_data/ by an older engine shares its directory
                # with the change files of every other version
                scan_files(
                    self.spark, self.path, ctype_schema,
                    {f: {} for f in change_files}, None,
                    last.column_mapping,
                )
            )
        if not parts:
            out = local_relation(self.spark, ctype_schema)
        else:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        return out if with_change_type else out.drop("_change_type")
