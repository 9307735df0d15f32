"""Managed table: Parquet data + JSON commit log — the engine's sink.

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

Commit protocol (single-writer, snapshot-isolated):
each write lands data under ``<path>/_data/<commit-uuid>/`` first,
then publishes ``<path>/_commits/<version>.json`` listing the data
units that constitute the new snapshot (os.rename is atomic on a
posix filesystem; on object stores this maps to conditional PUT).
Readers resolve the latest commit and read exactly its data units —
uncommitted data is invisible, a crashed write leaves no partial
table (strictly stronger than the reference's per-batch commit loop,
SURVEY §4 "micro-batched write" caution). Old versions remain
addressable (time travel) until vacuumed.

Scale posture: a snapshot is a list of data directories, so appends
are O(1) metadata; ``optimize()`` compacts small files and collapses
the unit list; reads of a partitioned table get partition pruning via
Spark's partition discovery per unit.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from component_delta_lake_writer_spark.errors import (
    SchemaMismatchError,
    TableExistsError,
    UserException,
)
from component_delta_lake_writer_spark.session import local_relation

_COMMITS = "_commits"
_DATA = "_data"

# DV materialization transfer-shape cutoff: matched (file, row-index)
# pairs up to this bound come back as a plain row collect (no Python
# workers, ~0.8 s cheaper at small shapes); above it the bitmaps are
# serialized executor-side and only binary blobs transfer.
_DV_COLLECT_MAX = 50_000
# Driver-only DV materialization tier: targeted units whose summed
# row stats fit this bound are matched with pyarrow+pandas on the
# driver (zero Spark jobs). 4M rows × a few PK columns ≈ tens of MB of
# driver IO — the same order as the footer-stats reads the commit
# already performs. Override per table: mirror.dvDriverScanMaxRows.
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

# Change-feed action classification — canonical definitions live in
# the light sinks.cdf_actions module (the streaming source's Python
# workers import THAT, not this 5k-line engine); re-exported here so
# batch read_changes and existing importers keep one name.
from component_delta_lake_writer_spark.sinks.cdf_actions import (  # noqa: E402,F401
    CDF_CHANGE_SET_ACTIONS,
    CDF_METADATA_ONLY_ACTIONS,
)

# commit action → Delta commitInfo operation name (what DESCRIBE
# HISTORY shows external readers of the mirror)
def _pq_rows(path: str) -> int:
    """Footer row count — driver-side metadata IO only."""
    import pyarrow.parquet as pq

    return int(pq.ParquetFile(path).metadata.num_rows)


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
}


@dataclass
class Commit:
    version: int
    action: str
    data_units: list[str]  # relative dirs under _data/, the full snapshot
    schema_json: str
    partition_by: list[str] = field(default_factory=list)
    primary_key: list[str] = field(default_factory=list)
    timestamp_ms: int = 0
    properties: dict = field(default_factory=dict)
    # Delta-style data-skipping stats: {unit: {"_rows": n, col: {min,
    # max, nulls}}}. Optional — commits written before this field
    # existed load with {} and simply never prune.
    stats: dict = field(default_factory=dict)
    # Merge-on-read equality deletes (Iceberg-style): each entry is
    # {"path": <dir under _deletes/>, "units": [unit, ...]} — a parquet
    # set of deleted PK tuples applying ONLY to the listed units (rows
    # appended after the delete keep living even under a reused PK).
    # Compacted away by optimize(); [] on old commits.
    delete_sets: list = field(default_factory=list)
    # ALTER TABLE … RENAME COLUMN (Delta column mapping, mode=name):
    # {logical_name: physical_parquet_name} for columns whose on-disk
    # name differs from the committed schema name. Reads scan under
    # physical names and alias to logical; writes translate logical →
    # physical so every unit stays uniform on disk; unit stats are
    # keyed physical. Reset by full rewrites (optimize — Delta's
    # REORG materialization). {} on old commits.
    column_mapping: dict = field(default_factory=dict)
    # Idempotent-writer watermarks (Delta's setTransaction/txn action):
    # {appId: last applied writer version}. A write carrying
    # txn=(appId, v) with v <= txns[appId] is a NO-OP — the
    # exactly-once contract streaming foreachBatch / retried jobs rely
    # on. Carried forward by every commit (merged in _publish); {} on
    # old commits.
    txns: dict = field(default_factory=dict)
    # COPY INTO ingest log: names of JSON sidecars under _ingest/, each
    # listing source files already loaded — re-running the same COPY
    # INTO skips them (file-level idempotent ingest). Carried forward
    # by _publish; [] on old commits.
    ingest_sidecars: list = field(default_factory=list)
    # Row tracking (Delta rowTracking writer feature, enabled via the
    # delta.enableRowTracking table property): {unit: {"v": version
    # the unit's ids were assigned, "files": {table-relative parquet
    # path: [baseRowId, numRecords]}}}. A row's stable id is
    # baseRowId + its position in the file. Ids are IMMUTABLE once
    # assigned: a unit carried, restored, or DV-re-added keeps its
    # entry verbatim; only brand-new units draw fresh ids past the
    # high-water mark. {} on old commits / untracked tables.
    row_ids: dict = field(default_factory=dict)
    # rowIdHighWaterMark (mirrored as the delta.rowTracking
    # domainMetadata): highest fresh row id ever assigned; -1 = none.
    row_id_high_water: int = -1
    # Clustered-table state (Delta clustering writer feature): the
    # LOGICAL columns the table was last clustered by via
    # optimize(cluster_by=/zorder_by=). Carried forward by _publish
    # (Delta keeps clustering columns as table state across appends —
    # new data is simply unclustered until the next OPTIMIZE);
    # mirrored as the delta.clustering domainMetadata. [] = never
    # clustered.
    clustered_by: list = field(default_factory=list)


def _prop_on(props: dict | None, key: str) -> bool:
    """Boolean table property, Delta-style: True or 'true' (any case)."""
    v = (props or {}).get(key)
    return v is True or str(v).lower() == "true"


def _mirror_clustering_arg(c: Commit, prev: Commit | None) -> dict | None:
    """``clustering`` arg for ``write_delta_log_entry`` from committed
    state (shared by _publish and the sync_metadata repair path).
    Also fires when clustering just went AWAY (RESTORE to a
    pre-clustering version): the domain re-emits with empty columns so
    external readers stop believing the old layout."""
    cur = list(c.clustered_by or [])
    prev_cols = list(prev.clustered_by or []) if prev is not None else []
    if not cur and not prev_cols:
        return None
    return {
        "columns": cur,
        "newly": prev is None or prev_cols != cur,
    }


def _mirror_checkpoint_arg(c: Commit, prev: Commit | None) -> dict | None:
    """``checkpoint_policy`` arg for ``write_delta_log_entry`` from
    committed state (shared by _publish and the sync_metadata repair
    path). The v2Checkpoint table feature never downgrades — once the
    property is set, later commits keep advertising it even if a
    properties replacement drops the key (same posture as
    deletionVectors / columnMapping)."""
    cur = (c.properties or {}).get("delta.checkpointPolicy") == "v2"
    if not cur:
        # stickiness after a property drop is handled log-side
        # (write_delta_log_entry's _cp_live, like _log_dv_cfg)
        return None
    prev_on = (
        prev is not None
        and (prev.properties or {}).get("delta.checkpointPolicy") == "v2"
    )
    return {"policy": "v2", "newly": not prev_on}


def _mirror_feature_args(c: Commit, prev: Commit | None) -> tuple:
    """(row_tracking, ict) args for ``write_delta_log_entry``, derived
    from a commit AS STORED — shared by _publish (after it finalizes
    timestamps/ids) and the sync_metadata repair path (which re-emits
    lost mirror entries from committed state)."""
    rt = None
    if _prop_on(c.properties, "delta.enableRowTracking"):
        # gate on the PROPERTY, not on row_ids being non-empty: a
        # tracked table whose snapshot is momentarily empty (every
        # row deleted) must keep advertising the feature config, or
        # metaData re-emissions would show the property flipping off
        files: dict = {}
        for ent in (c.row_ids or {}).values():
            for rel, (base, _n) in (ent.get("files") or {}).items():
                files[rel] = {
                    "baseRowId": int(base),
                    "defaultRowCommitVersion": int(ent["v"]),
                }
        rt = {
            "high_water": int(c.row_id_high_water),
            "files": files,
            "newly": prev is None
            or not _prop_on(prev.properties, "delta.enableRowTracking"),
            # external row-tracking readers resolve preserved ids
            # through these physical columns (Delta's materialized
            # row-id mechanism; written by optimize rewrites)
            "mat_row_id_col": _MAT_ROW_ID,
            "mat_rcv_col": _MAT_RCV,
        }
    ict = None
    props = c.properties or {}
    if _prop_on(props, "delta.enableInCommitTimestamps"):
        ict = {
            "timestamp": int(c.timestamp_ms),
            "config": {
                k: str(props[k])
                for k in (
                    "delta.inCommitTimestampEnablementVersion",
                    "delta.inCommitTimestampEnablementTimestamp",
                )
                if k in props
            },
            "newly": prev is None
            or not _prop_on(
                prev.properties, "delta.enableInCommitTimestamps"
            ),
        }
    return rt, ict


class ManagedTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    # ---------- log plumbing ----------

    @property
    def _commits_dir(self) -> str:
        return os.path.join(self.path, _COMMITS)

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.path, _DATA)

    def exists(self) -> bool:
        d = self._commits_dir
        return os.path.isdir(d) and any(f.endswith(".json") for f in os.listdir(d))

    def _versions(self) -> list[int]:
        if not os.path.isdir(self._commits_dir):
            return []
        return sorted(
            int(f[: -len(".json")])
            for f in os.listdir(self._commits_dir)
            if f.endswith(".json")
        )

    def latest_commit(self) -> Commit | None:
        versions = self._versions()
        if not versions:
            return None
        return self.commit_at(versions[-1])

    def commit_at(self, version: int) -> Commit:
        with open(os.path.join(self._commits_dir, f"{version:020d}.json")) as f:
            return Commit(**json.load(f))

    def _publish(
        self,
        commit: Commit,
        prev: Commit | None = None,
        cdc_stage: str | None = None,
    ) -> None:
        # delta.appendOnly (Delta's append-only table property): any
        # commit that logically deletes or replaces rows is refused —
        # removed units, new merge-on-read delete sets, and DML/
        # rewrite actions. Metadata-only and pure-rewrite maintenance
        # (optimize/analyze/clone bookkeeping) keeps working because
        # it changes no logical rows.
        if prev is not None and _prop_on(prev.properties, "delta.appendOnly"):
            prev_sets = {ds["path"] for ds in (prev.delete_sets or [])}
            new_sets = [
                ds for ds in (commit.delete_sets or [])
                if ds["path"] not in prev_sets
            ]
            if new_sets or commit.action in (
                "delete", "update", "overwrite", "upsert",
                "replace_where", "restore", "truncate",
            ):
                raise UserException(
                    "delta.appendOnly forbids deletes, updates, and "
                    f"rewrites (refused {commit.action!r} commit)."
                )
        # ``cdc_stage``: a change set written PRE-publish to a unique
        # staging dir (CDF paths). The winner of the version claim
        # adopts it as _changes/v{N} — preserving the only-the-winner-
        # owns-vN concurrency contract — and mirrors it as Delta cdc
        # actions (hardlinked _change_data/ files) inside THIS
        # commit's log entry, which is the only place the spec allows
        # them. Losers clean their stage up in the caller.
        # Writer-state carry (txn watermarks, ingest log): merged here
        # centrally so every commit path — DML, optimize, DDL —
        # preserves them without threading the fields through all 17
        # constructors.
        if prev is not None:
            commit.txns = {**(prev.txns or {}), **(commit.txns or {})}
            carried = [
                s for s in (prev.ingest_sidecars or [])
                if s not in (commit.ingest_sidecars or [])
            ]
            commit.ingest_sidecars = carried + (commit.ingest_sidecars or [])

        props = commit.properties or {}
        # In-commit timestamps (Delta inCommitTimestamp writer
        # feature): once enabled, commit timestamps are the table's
        # time-travel clock and MUST be strictly monotonic — a
        # regressed system clock must never produce a commit that
        # sorts before its parent. Runs BEFORE serialization: the
        # engine commit file and the mirror must agree on the clock.
        if _prop_on(props, "delta.enableInCommitTimestamps"):
            if prev is not None and commit.timestamp_ms <= prev.timestamp_ms:
                commit.timestamp_ms = prev.timestamp_ms + 1
            if prev is not None and not _prop_on(
                prev.properties, "delta.enableInCommitTimestamps"
            ):
                # enabled AFTER table creation: the spec requires the
                # enablement point so readers know which commits carry
                # ICT (earlier ones time-travel by file timestamp)
                props = dict(props)
                props["delta.inCommitTimestampEnablementVersion"] = str(
                    commit.version
                )
                props["delta.inCommitTimestampEnablementTimestamp"] = str(
                    commit.timestamp_ms
                )
                commit.properties = props
        # Row tracking (Delta rowTracking writer feature): assign
        # stable row ids to new units, carry every existing unit's
        # ids verbatim — part of committed state, so also before
        # serialization.
        if _prop_on(props, "delta.enableRowTracking"):
            self._assign_row_ids(commit, prev)
        # Clustered-table state carries forward (a later append does
        # not un-cluster the table); only optimize() sets a new value
        # and RESTORE takes the restored version's state verbatim —
        # the restored units are physically laid out by ITS columns,
        # so carrying the pre-restore clustering would misdescribe
        # the layout.
        if (
            not commit.clustered_by
            and prev is not None
            and commit.action != "restore"
        ):
            commit.clustered_by = list(prev.clustered_by or [])
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
        os.makedirs(self._commits_dir, exist_ok=True)
        final = os.path.join(self._commits_dir, f"{commit.version:020d}.json")
        tmp = final + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(commit.__dict__, f)
        try:
            # os.link fails with EEXIST when the destination exists, so
            # two racing writers cannot both claim the same version (a
            # plain rename would silently replace); on object stores
            # this maps to a conditional PUT (if-none-match).
            os.link(tmp, final)
        except FileExistsError:
            raise UserException(
                f"Concurrent commit conflict at version {commit.version}"
            ) from None
        finally:
            os.unlink(tmp)
        cdc_files: list[tuple[str, int]] = []
        if cdc_stage is not None:
            # winner-only adoption of the staged change set
            owned = os.path.join(
                self._changes_dir, f"v{commit.version}"
            )
            if os.path.isdir(owned):
                shutil.rmtree(cdc_stage, ignore_errors=True)
            else:
                os.makedirs(os.path.dirname(owned), exist_ok=True)
                os.rename(cdc_stage, owned)
            if not commit.column_mapping:
                # Delta CDF interop: hardlink the change parquet into
                # _change_data/ and reference each file with a cdc
                # action in this commit's mirror entry (external
                # table_changes readers). Column-mapped tables skip
                # the mirror (change files carry logical names, the
                # mirror schema physical ones) — engine CDF still
                # works; the gap is documented.
                cd_dir = os.path.join(self.path, "_change_data")
                seq = 0
                for dp, _d, fns in os.walk(owned):
                    for fn in sorted(fns):
                        if not fn.endswith(".parquet"):
                            continue
                        src_f = os.path.join(dp, fn)
                        rel = os.path.join(
                            "_change_data",
                            f"cdc-{commit.version:020d}-{seq:05d}.parquet",
                        )
                        seq += 1
                        dst = os.path.join(self.path, rel)
                        os.makedirs(cd_dir, exist_ok=True)
                        try:
                            os.link(src_f, dst)
                        except FileExistsError:
                            pass
                        except OSError:
                            import shutil as _sh

                            _sh.copy2(src_f, dst)
                        cdc_files.append(
                            (rel, os.stat(dst).st_size)
                        )
        # Delta interop: mirror the commit as _delta_log/ actions so
        # external Delta readers open this table (the reference writes
        # true Delta via delta-rs, src/component.py:356 / write_batch).
        from component_delta_lake_writer_spark.sinks.delta_log import (
            maybe_write_checkpoint,
            write_delta_log_entry,
        )

        prev_units = set(prev.data_units) if prev else set()
        added_units = [u for u in commit.data_units if u not in prev_units]
        # merge-on-read delete sets are materialized as Delta deletion
        # vectors (binary DV files + descriptors) when the affected
        # scan is within bound; only an over-bound remainder leaves the
        # mirror honestly _STALE-flagged until a rewrite
        removed_units_list = [
            u for u in prev_units if u not in set(commit.data_units)
        ]
        rt_arg, ict_arg = _mirror_feature_args(commit, prev)
        clustering_arg = _mirror_clustering_arg(commit, prev)
        dv_adds, current_dvs, dv_covered, dv_fully = (
            self._compute_dv_updates(
                commit, added_units, has_removes=bool(removed_units_list)
            )
        )
        write_delta_log_entry(
            table_path=self.path,
            data_dir_name=_DATA,
            version=commit.version,
            schema_json=commit.schema_json,
            partition_by=commit.partition_by,
            timestamp_ms=commit.timestamp_ms,
            new_units=added_units,
            removed_units=removed_units_list,
            prev_schema_json=prev.schema_json if prev else None,
            rows_diverge=bool(commit.delete_sets) and not dv_fully,
            column_mapping=commit.column_mapping,
            prev_column_mapping=prev.column_mapping if prev else None,
            dv_adds=dv_adds,
            current_dvs=current_dvs,
            # DESCRIBE HISTORY on the mirror shows real operation names
            operation=_OPERATION_NAMES.get(
                commit.action, commit.action.upper()
            ),
            # the NEW watermark this commit introduced (if any) becomes
            # a Delta txn/setTransaction action in the mirror
            txn=next(
                (
                    (app, v)
                    for app, v in (commit.txns or {}).items()
                    if prev is None
                    or (prev.txns or {}).get(app) != v
                ),
                None,
            ),
            row_tracking=rt_arg,
            ict=ict_arg,
            clustering=clustering_arg,
            checkpoint_policy=_mirror_checkpoint_arg(commit, prev),
            table_properties=commit.properties,
            prev_table_properties=prev.properties if prev else None,
            cdc_files=cdc_files,
        )
        # persist which engine delete sets the mirror now covers —
        # AFTER the log entry (the log is the source of truth; a crash
        # in between just re-materializes the same indices next commit)
        if dv_adds or dv_covered is not None:
            from component_delta_lake_writer_spark.sinks.deletion_vectors import (  # noqa: E501
                save_dv_state,
            )

            save_dv_state(self.path, {"covered": dv_covered or []})
        # Delta protocol checkpointing: every 10th version materializes
        # the snapshot state so readers stop replaying the whole log
        maybe_write_checkpoint(
            self.path, commit.version, properties=commit.properties
        )
        # opt-in minor log compaction (mirror.logCompactionInterval=k):
        # every k commits, reconcile the last k entries into one
        # {start}.{end}.compacted.json so external readers walk the
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
            from component_delta_lake_writer_spark.sinks.delta_log import (
                write_log_compaction,
            )

            try:
                write_log_compaction(
                    self.path, commit.version - k + 1, commit.version
                )
            except (OSError, ValueError):
                pass  # best-effort read optimization

    def _assign_row_ids(self, commit: Commit, prev: Commit | None) -> None:
        """Populate ``commit.row_ids``/``row_id_high_water`` under row
        tracking. Carried units keep their prior entry verbatim
        (id immutability); units re-added by RESTORE/clone recover
        their original entry from history; only genuinely new units
        (plus the one-time backfill when tracking is enabled on an
        existing table) draw fresh ids past the high-water mark.

        Cost posture: one parquet-footer read per NEW file (the same
        metadata any row-tracking writer records at write time) — no
        data scan; the common append touches only its own unit."""
        import pyarrow.parquet as pq

        prev_map = (prev.row_ids or {}) if prev is not None else {}
        hwm = prev.row_id_high_water if prev is not None else -1
        out: dict = {}
        missing: list[str] = []
        for u in commit.data_units:
            if u in prev_map:
                out[u] = prev_map[u]
            else:
                missing.append(u)
        if missing and prev is not None:
            recovered = self._prior_row_entries(missing, prev.version)
            out.update(recovered)
            missing = [u for u in missing if u not in recovered]
        from component_delta_lake_writer_spark.sinks.delta_log import (
            _walk_parquet,
        )

        for u in missing:
            files: dict = {}
            mat = False
            for rel, _size, _mtime, _pvals in _walk_parquet(
                self.path, os.path.join(_DATA, u)
            ):
                pf = pq.ParquetFile(os.path.join(self.path, rel))
                n = int(pf.metadata.num_rows)
                # a unit whose files carry the materialized id column
                # is a dataChange=false rewrite (optimize): its rows
                # KEEP their old ids via the column; the fresh base
                # ids below are still assigned (spec: every add has a
                # baseRowId) but shadowed at read time
                mat = mat or _MAT_ROW_ID in pf.schema_arrow.names
                files[rel] = [hwm + 1, n]
                hwm += n
            out[u] = {"v": commit.version, "files": files}
            if mat:
                out[u]["mat"] = True
        commit.row_ids = out
        commit.row_id_high_water = hwm

    def _prior_row_entries(self, units: list[str], from_version: int) -> dict:
        """Latest historical ``row_ids`` entry per unit (RESTORE /
        re-add recovery): one backward pass over the commit log,
        stopping as soon as every unit is found. Metadata-only JSON
        reads, bounded by history length — the same O(history) walk
        RESTORE itself performs."""
        found: dict = {}
        want = set(units)
        for v in range(from_version, -1, -1):
            if not want:
                break
            try:
                c = self.commit_at(v)
            except (FileNotFoundError, json.JSONDecodeError):
                continue
            for u in list(want):
                ent = (c.row_ids or {}).get(u)
                if ent is not None:
                    found[u] = ent
                    want.discard(u)
        return found

    def _compute_dv_updates(
        self,
        commit: Commit,
        added_units: list[str] | None = None,
        has_removes: bool = True,
    ) -> tuple[dict, dict, list | None, bool]:
        """Materialize this commit's not-yet-mirrored merge-on-read
        delete sets as deletion-vector bitmaps.

        Returns ``(dv_adds, current_dvs, covered_after, fully)``:
        per-file NEW descriptors, the live descriptors BEFORE this
        commit (for remove actions), the delete-set paths the mirror
        covers after this commit (None = no DV history, don't touch
        the sidecar), and whether every delete set is covered.

        Cost posture: the common no-delete-set path is a pure
        in-memory no-op (one ``os.path.exists``). When sets are
        pending, the scan is COLUMN-PRUNED to the delete-key columns +
        row position of ONLY the targeted units, and the collect is
        O(deleted rows) — the merge-on-read write itself stays O(source
        delta); this is the same files-scan any DV-writing engine
        (delta-spark DML) performs. A pending set whose targeted-unit
        row estimate exceeds ``mirror.dvMaxRows`` (table property,
        default 4M) is deferred: the mirror stays _STALE until a
        rewrite or a smaller later state covers it.

        Row identity: ``_metadata.row_index`` — the physical row
        position in the parquet file, exactly what the Delta DV bitmap
        indexes (delta PROTOCOL.md §Deletion Vectors).
        """
        from urllib.parse import unquote, urlparse

        from component_delta_lake_writer_spark.sinks import (
            deletion_vectors as DV,
        )
        from component_delta_lake_writer_spark.sinks.delta_log import (
            _log_has_dv_config,
            live_dv_descriptors,
        )

        log_dir = os.path.join(self.path, "_delta_log")
        has_state = os.path.exists(os.path.join(log_dir, DV._DV_STATE))
        if not commit.delete_sets and not has_state:
            # Lost-sidecar window applies HERE too: a rewrite
            # (overwrite / COW delete / optimize) whose removes drop a
            # DV-bearing file must carry the prior (path, dvId)
            # descriptor even when the sidecar save was lost, or the
            # stale add stays live for external readers. Gated on
            # has_removes so plain appends — the hot path — stay one
            # os.path.exists.
            if not has_removes or not _log_has_dv_config(log_dir):
                return {}, {}, None, True
            return {}, live_dv_descriptors(self.path), None, True
        # DV-era detection must fall back to the LOG: a crash between
        # log publish and sidecar save leaves descriptors live with no
        # sidecar — a swap (or a removed unit's remove) emitted without
        # the prior descriptor would leave the old (path, dvId) add
        # alive for external readers (duplicated rows). The log scan
        # runs only on tables that carry delete sets, never on the
        # plain no-removes fast path above. Deferred-mode followers
        # (which never emit DVs inline) skip it ONLY for remove-less
        # commits — the CDC-apply shape — because removes need prior
        # descriptors regardless of mode (a deferred table can carry
        # DV history from earlier default-mode commits).
        deferred_mode = (
            (commit.properties or {}).get("mirror.dvMode") == "deferred"
        )
        dv_era = has_state or (
            (has_removes or not deferred_mode)
            and _log_has_dv_config(log_dir)
        )
        state = DV.load_dv_state(self.path) if has_state else {"covered": []}
        covered = set(state.get("covered", []))
        # a delete set targeting a unit (RE-)ADDED this commit loses
        # its coverage: the unit's files get plain adds this commit
        # (restore / clone bringing back a previously-rewritten unit),
        # so their bitmaps must re-materialize or external readers
        # would resurrect the deleted rows
        readded = set(added_units or ())
        if readded:
            covered -= {
                ds["path"]
                for ds in commit.delete_sets
                if readded & set(ds["units"])
            }
        live_paths = {ds["path"] for ds in commit.delete_sets}
        pending = [
            ds for ds in commit.delete_sets if ds["path"] not in covered
        ]
        covered_after = sorted(covered & live_paths)
        if not pending and not has_removes:
            # nothing to materialize and no removes that might carry
            # descriptors: skip the replay scan entirely (appends on a
            # DV-history table stay O(metadata))
            return {}, {}, covered_after, True
        current_dvs = live_dv_descriptors(self.path) if dv_era else {}
        if not pending:
            return {}, current_dvs, covered_after, True
        live_units = set(commit.data_units)
        units_needed = sorted(
            {u for ds in pending for u in ds["units"] if u in live_units}
        )
        if not units_needed:
            # every targeted unit is gone: the sets are dead weight
            return (
                {},
                current_dvs,
                sorted(set(covered_after) | {ds["path"] for ds in pending}),
                True,
            )
        # mirror.dvMode='deferred': a high-frequency MOR writer (CDC
        # follower applying many commits/min) opts out of the
        # per-commit materialization scan entirely — the mirror stays
        # honestly _STALE between optimize() points (the pre-DV
        # contract), while the default keeps every commit's mirror
        # fresh. mirror.dvMaxRows bounds the inline scan estimate.
        if deferred_mode:
            return {}, current_dvs, covered_after, False
        bound = float(
            (commit.properties or {}).get("mirror.dvMaxRows", 4_000_000)
        )

        def _est(ds) -> float:
            total = 0.0
            for u in ds["units"]:
                if u not in live_units:
                    continue
                r = (commit.stats.get(u) or {}).get("_rows")
                total += float(r) if r is not None else float("inf")
            return total

        # the bound is PER DELETE SET (as documented): one over-bound
        # set defers only itself; every in-bound set still materializes
        deferred, kept = [], []
        for ds in pending:
            (deferred if _est(ds) > bound else kept).append(ds)
        pending = kept
        if not pending:
            return {}, current_dvs, covered_after, False

        mapping = commit.column_mapping or {}
        # Two transfer shapes for the matched (file, row-position)
        # stream, picked by the delete set's footer-counted size (pure
        # driver IO, no job):
        # - SMALL (≤ _DV_COLLECT_MAX matched upper bound): plain
        #   row collect — no Python workers, lowest fixed cost (the
        #   common MOR shape: small deltas against big targets).
        # - LARGE: each file's bitmap serialized on the EXECUTORS
        #   (applyInPandas, Arrow-batched); the driver receives one
        #   compact binary row per file — O(bitmap bytes), never
        #   O(deleted rows). A row-per-index collect measured +2.3 s
        #   at a 10%-update ×10 envelope shape and would not survive
        #   a 100 TB update fraction at all.
        from component_delta_lake_writer_spark.sinks.deletion_vectors import (  # noqa: E501
            serialize_bitmap,
        )

        def _to_bitmap(pdf):
            import pandas as pd

            return pd.DataFrame(
                {
                    "_fp": [pdf["_fp"].iloc[0]],
                    "_bm": [
                        serialize_bitmap(
                            int(i) for i in pdf["_ri"].to_numpy()
                        )
                    ],
                }
            )

        def _ds_rows(path: str) -> int:
            # parquet footer row counts: driver-side file IO only
            import pyarrow.parquet as pq

            total = 0
            for dirpath, _d, files in os.walk(path):
                for fn in files:
                    if fn.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(dirpath, fn)
                        ).metadata.num_rows
            return total

        driver_bound = float(
            (commit.properties or {}).get(
                "mirror.dvDriverScanMaxRows", _DV_DRIVER_SCAN_MAX
            )
        )

        def _driver_match(ds_dir: str, units: list[str]) -> dict:
            """Metadata-scale fast path: both sides provably small, so
            the (file, row_index) match runs entirely on the DRIVER
            with pyarrow + pandas — no Spark job at all. A clean run
            of the distributed path costs ~0.5 s of fixed dispatch at
            the sf0.1 probe shape vs ~0.01 s here (measured,
            scripts/profile_dv_variants.py). Row positions come from
            reading each parquet file whole, which is exactly the
            `_metadata.row_index` physical-position semantics."""
            import pandas as pd
            import pyarrow.dataset as pads
            import pyarrow.parquet as pq

            keys = pads.dataset(ds_dir, format="parquet").to_table()
            # SQL join equality: NULL keys never match — drop them so
            # the pandas match can't pair NaN with NaN
            kdf = keys.to_pandas().dropna()
            phys = [mapping.get(c, c) for c in keys.column_names]
            kmi = pd.MultiIndex.from_frame(kdf)
            out: dict[str, list[int]] = {}
            for u in units:
                udir = os.path.join(self._data_dir, u)
                for dirpath, _d, files in os.walk(udir):
                    for fn in sorted(files):
                        if not fn.endswith(".parquet"):
                            continue
                        fpath = os.path.join(dirpath, fn)
                        fdf = pq.read_table(
                            fpath, columns=phys
                        ).to_pandas()
                        fdf.columns = list(keys.column_names)
                        mask = pd.MultiIndex.from_frame(fdf).isin(kmi)
                        if not mask.any():
                            continue
                        import numpy as np

                        rel = os.path.relpath(fpath, self.path)
                        out[rel] = [
                            int(i) for i in np.nonzero(mask)[0]
                        ]
            return out

        new_bitmaps: dict[str, list[int]] = {}
        for ds in pending:
            units = [u for u in ds["units"] if u in live_units]
            if not units:
                continue
            ds_dir = os.path.join(self._deletes_dir, ds["path"])
            # the ds key count is the practical proxy for the transfer
            # size (a PK matches ~one live row; pathological multi-unit
            # duplication only over-fills a bounded collect, it cannot
            # recur per commit since those rows are now deleted)
            ds_keys = _ds_rows(ds_dir)
            small = ds_keys <= _DV_COLLECT_MAX
            # Tier 1 — driver-only: every targeted unit's row count is
            # known from commit stats and the sum fits the driver
            # bound AND the layout is unpartitioned (hive partition
            # columns live in paths, not files; those tables take the
            # Spark path where `_metadata` semantics are
            # authoritative). The key count needs no separate cap: it
            # can't exceed the rows the bounded target holds, and the
            # matched output is bounded the same way. At 100 TB this
            # tier never triggers — it exists so metadata-scale tables
            # stop paying distributed dispatch for mirror freshness.
            if ds_keys <= driver_bound and not commit.partition_by:
                est = 0.0
                for u in units:
                    r = (commit.stats.get(u) or {}).get("_rows")
                    est += float(r) if r is not None else float("inf")
                if est <= driver_bound:
                    for rel, idx in _driver_match(ds_dir, units).items():
                        if rel in new_bitmaps:
                            new_bitmaps[rel] = sorted(
                                set(new_bitmaps[rel]) | set(idx)
                            )
                        else:
                            new_bitmaps[rel] = idx
                    continue
            dels = self.spark.read.parquet(ds_dir)
            if small:
                # Tier 2 — SMALL build side: load the delete keys on
                # the DRIVER (pyarrow, the same footers _ds_rows just
                # opened) and hand Spark a LocalRelation — the
                # broadcast hash table builds driver-side with NO
                # Spark stage, where `read.parquet(ds_dir).distinct()`
                # cost a scan stage plus an exchange per commit.
                # Duplicate keys are harmless to a left-semi build, so
                # no distinct is needed.
                import pyarrow.dataset as _pads

                _local = local_relation(
                    self.spark, None,
                    _pads.dataset(ds_dir, format="parquet").to_table(),
                )
                dels_build = _local.select(
                    *[
                        F.col(f.name).cast(f.dataType)
                        for f in dels.schema.fields
                    ]
                )
            else:
                dels_build = dels.distinct()
            scan = self.spark.read.parquet(
                *[os.path.join(self._data_dir, u) for u in units]
            ).select(
                F.col("_metadata.file_path").alias("_fp"),
                F.col("_metadata.row_index").alias("_ri"),
                *[
                    F.col(mapping.get(c, c)).alias(c)
                    for c in dels.columns
                ],
            )
            # delete sets are O(source delta) by design — broadcast so
            # the target scan never shuffles for the probe
            matched = scan.join(
                F.broadcast(dels_build), dels.columns, "left_semi"
            ).select("_fp", "_ri")
            if small:
                pairs = (
                    (r["_fp"], int(r["_ri"])) for r in matched.collect()
                )
            else:
                packed = matched.groupBy("_fp").applyInPandas(
                    _to_bitmap, "_fp string, _bm binary"
                )
                pairs = (
                    (r["_fp"], i)
                    for r in packed.collect()
                    for i in DV.deserialize_bitmap(bytes(r["_bm"]))
                )
            grouped: dict[str, set] = {}
            for fp, i in pairs:
                grouped.setdefault(fp, set()).add(i)
            for fp, idx in grouped.items():
                rel = os.path.relpath(
                    unquote(urlparse(fp).path), self.path
                )
                if rel in new_bitmaps:
                    new_bitmaps[rel] = sorted(set(new_bitmaps[rel]) | idx)
                else:
                    new_bitmaps[rel] = sorted(idx)
        # union with each file's existing DV (descriptors REPLACE, so
        # the new bitmap must carry the old deletions too); a file
        # whose merged bitmap is IDENTICAL to its live descriptor's
        # needs no swap (re-materialization after restore recomputes
        # untouched files too — churning their descriptors would be
        # pure log noise)
        for rel in list(new_bitmaps):
            old = current_dvs.get(rel)
            if old is not None:
                old_idx = DV.read_dv(self.path, old)
                merged = sorted(set(new_bitmaps[rel]) | set(old_idx))
                if merged == old_idx:
                    del new_bitmaps[rel]
                else:
                    new_bitmaps[rel] = merged
        dv_adds = DV.write_dv_file(self.path, new_bitmaps)
        covered_after = sorted(
            set(covered_after) | {ds["path"] for ds in pending}
        )
        return dv_adds, current_dvs, covered_after, not deferred

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
        writer.parquet(os.path.join(self._data_dir, unit))
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

    def _unit_stats(
        self,
        unit: str,
        per_file: bool = False,
        props: dict | None = None,
        mapping: dict | None = None,
    ) -> dict:
        from component_delta_lake_writer_spark.sinks import bloom
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            collect_unit_stats,
        )

        unit_dir = os.path.join(self._data_dir, unit)
        nic = None
        try:
            raw = (props or {}).get("delta.dataSkippingNumIndexedCols")
            if raw is not None and int(raw) >= 0:
                nic = int(raw)
        except (TypeError, ValueError):
            nic = None
        stats = collect_unit_stats(
            unit_dir, per_file=per_file, num_indexed_cols=nic,
            # past the file-count threshold the footer pass fans out
            # as a Spark job (one-shot CONVERT/ANALYZE of a large
            # pre-existing lake); incremental writes stay driver-side
            spark=self.spark,
        )
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
                stats["_bloom"] = entry
        return stats

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
        the committed schema_json (and the Delta mirror's
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

        if (
            txn is not None
            and prev is not None
            and (prev.txns or {}).get(txn[0], -(1 << 62)) >= txn[1]
        ):
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
            units = [unit]
            version = (prev.version + 1) if prev else 0
            action = "overwrite" if mode == "overwrite" else "create"
            schema = df.schema
            stats = {unit: self._unit_stats(
                unit, per_file=not partition_by,
                props=effective_props, mapping=mapping)}
            commit = Commit(
                version=version,
                action=action,
                data_units=units,
                schema_json=json.dumps(schema.jsonValue()),
                partition_by=partition_by,
                primary_key=primary_key or (prev.primary_key if prev else []),
                timestamp_ms=int(time.time() * 1000),
                properties=properties or (prev.properties if prev else {}),
                stats=stats,
                delete_sets=[],
                column_mapping=mapping,
                txns=dict([txn]) if txn else {},
                ingest_sidecars=[ingest_sidecar] if ingest_sidecar else [],
            )
            self._publish(commit, prev)
            return commit

        # Append: an append conflicts with a concurrent commit only on
        # the version NUMBER, never on data — the written unit stands,
        # so a losing racer re-derives the metadata against the new
        # head and re-publishes (Delta's optimistic-concurrency retry
        # for AppendOnly commits). Not retried when the batch consumed
        # identity values: those were allocated against the old
        # high-water mark and a concurrent append may have claimed the
        # same range.
        unit_stats = self._unit_stats(
            unit, per_file=not partition_by,
            props=effective_props, mapping=mapping,
        )
        for attempt in range(6):
            table_schema = T.StructType.fromJson(json.loads(prev.schema_json))
            schema = self._merge_schemas(table_schema, df.schema)
            if id_hwms:
                schema = self._bump_identity_hwm(schema, id_hwms)
            commit = Commit(
                version=prev.version + 1,
                action="append",
                data_units=prev.data_units + [unit],
                schema_json=json.dumps(schema.jsonValue()),
                partition_by=partition_by,
                primary_key=primary_key or prev.primary_key,
                timestamp_ms=int(time.time() * 1000),
                properties=properties or prev.properties,
                stats={**prev.stats, unit: unit_stats},
                delete_sets=self._carry_delete_sets(
                    prev.delete_sets, prev.data_units
                ),
                column_mapping=mapping,
                txns=dict([txn]) if txn else {},
                ingest_sidecars=[ingest_sidecar] if ingest_sidecar else [],
            )
            try:
                self._publish(commit, prev)
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
                if (
                    txn is not None
                    and (prev.txns or {}).get(txn[0], -(1 << 62)) >= txn[1]
                ):
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
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
        small = [
            u
            for u in prev.data_units
            if (prev.stats.get(u) or {}).get("_rows") is not None
            and prev.stats[u]["_rows"] < max_rows
        ]
        if len(small) < 2:
            return None
        untouched = [u for u in prev.data_units if u not in set(small)]
        tracked = _prop_on(prev.properties, "delta.enableRowTracking")
        df = self._read_units(prev, small, with_row_ids=tracked)
        if tracked:
            # auto-compaction is dataChange=false like full optimize:
            # rows keep their identity through the fold (same
            # materialized-column mechanism) — without this, a tracked
            # append with autoCompact on would silently churn ids
            df = df.withColumnRenamed(
                "_row_id", _MAT_ROW_ID
            ).withColumnRenamed("_row_commit_version", _MAT_RCV)
        if cluster_by:
            # keep the folded unit range-clustered so its files stay
            # prunable (the incremental spelling of
            # optimize(cluster_by=…) — clusteredAutoCompact)
            df = df.repartitionByRange(*cluster_by).sortWithinPartitions(
                *cluster_by
            )
        unit = self._write_unit(
            self._to_physical(df, prev.column_mapping),
            prev.partition_by,
            compression,
            target_file_rows,
        )
        ustats = self._unit_stats(
            unit, per_file=not prev.partition_by,
            props=prev.properties, mapping=prev.column_mapping,
        )
        units = list(untouched)
        stats = {u: prev.stats[u] for u in untouched if u in prev.stats}
        if ustats["_rows"] > 0:
            units.append(unit)
            stats[unit] = ustats
        else:
            shutil.rmtree(
                os.path.join(self._data_dir, unit), ignore_errors=True
            )
        commit = Commit(
            version=prev.version + 1,
            action="optimize",
            data_units=units,
            schema_json=prev.schema_json,
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=prev.properties,
            stats=stats,
            delete_sets=self._carry_delete_sets(prev.delete_sets, untouched),
            column_mapping=dict(prev.column_mapping),
        )
        self._publish(commit, prev)
        return commit

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
        for v in self._versions():
            c = self.commit_at(v)
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
        only adds columns. Partitioned units keep hive discovery per
        provided root path."""
        if version is not None and timestamp_ms is not None:
            raise UserException(
                "Pass either version or timestamp_ms, not both."
            )
        if timestamp_ms is not None:
            commit = self.commit_at_timestamp(timestamp_ms)
        elif version is not None:
            commit = self.commit_at(version)
        else:
            commit = self.latest_commit()
        if commit is None:
            raise UserException(f"No table at {self.path}")
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
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
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
        commit = Commit(
            version=prev.version + 1,
            action="add_column",
            data_units=list(prev.data_units),
            schema_json=json.dumps(new_schema.jsonValue()),
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=prev.properties,
            stats=prev.stats,
            delete_sets=list(prev.delete_sets),
            column_mapping=mapping,
        )
        self._publish(commit, prev)
        return commit

    def set_column_default(self, name: str, expr: str | None) -> Commit:
        """``ALTER TABLE … ALTER COLUMN name SET DEFAULT expr`` (or
        ``DROP DEFAULT`` with ``expr=None``) — metadata-only commit
        updating the field's ``CURRENT_DEFAULT``. Applies to future
        inserts only; stored rows are untouched (Delta defaultColumns
        semantics)."""
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
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
        commit = Commit(
            version=prev.version + 1,
            action="alter_column_default",
            data_units=list(prev.data_units),
            schema_json=json.dumps(T.StructType(fields).jsonValue()),
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=prev.properties,
            stats=prev.stats,
            delete_sets=list(prev.delete_sets),
            column_mapping=dict(prev.column_mapping),
        )
        self._publish(commit, prev)
        return commit

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
        own mechanism) so the mirror advertises the typeWidening
        feature to external readers."""
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
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
        commit = Commit(
            version=prev.version + 1,
            action="widen_column_type",
            data_units=list(prev.data_units),
            schema_json=json.dumps(T.StructType(fields).jsonValue()),
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=prev.properties,
            stats=prev.stats,
            delete_sets=list(prev.delete_sets),
            column_mapping=dict(prev.column_mapping),
        )
        self._publish(commit, prev)
        return commit

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
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
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
        commit = Commit(
            version=prev.version + 1,
            action="drop_column",
            data_units=list(prev.data_units),
            schema_json=json.dumps(new_schema.jsonValue()),
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=prev.properties,
            stats=prev.stats,
            delete_sets=list(prev.delete_sets),
            column_mapping={
                k: v for k, v in prev.column_mapping.items() if k != name
            },
        )
        self._publish(commit, prev)
        return commit

    def rename_column(self, old: str, new: str) -> Commit:
        """``ALTER TABLE … RENAME COLUMN old TO new`` — metadata-only
        commit via column mapping (Delta columnMapping mode=name): no
        data is rewritten; the committed schema carries the new logical
        name and ``column_mapping`` remembers the physical parquet name
        the bytes still live under. Primary-key and partition columns
        refuse to rename (their names are load-bearing in delete sets
        and hive directory layout), as do columns referenced by CHECK
        constraints (Delta's own restriction)."""
        import re

        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
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
        commit = Commit(
            version=prev.version + 1,
            action="rename_column",
            data_units=list(prev.data_units),
            schema_json=json.dumps(new_schema.jsonValue()),
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=prev.properties,
            stats=prev.stats,
            delete_sets=list(prev.delete_sets),
            column_mapping=mapping,
        )
        self._publish(commit, prev)
        return commit

    @property
    def _deletes_dir(self) -> str:
        return os.path.join(self.path, "_deletes")

    def _write_empty_change_set(
        self, prev: Commit, version: int, out_dir: str | None = None
    ) -> None:
        """A schema-correct EMPTY ``_changes/vN`` set: written when a
        CDF-enabled DML commit touched no rows (stats pruned every
        unit) so both the batch ``read_changes`` range and the
        streaming source can cross the version instead of raising."""
        schema = T.StructType.fromJson(json.loads(prev.schema_json)).add(
            "_change_type", T.StringType()
        )
        local_relation(self.spark, schema).write.mode(
            "overwrite"
        ).parquet(
            out_dir or os.path.join(self._changes_dir, f"v{version}")
        )

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
    def _physical_schema(schema: T.StructType, mapping: dict) -> T.StructType:
        if not mapping:
            return schema
        return T.StructType(
            [
                T.StructField(
                    mapping.get(f.name, f.name), f.dataType, f.nullable, f.metadata
                )
                for f in schema.fields
            ]
        )

    @staticmethod
    def _row_meta_cols(df: DataFrame) -> DataFrame:
        """Attach the two file-identity helper columns row tracking
        needs (``_rt_rel``: table-relative file path, ``_rt_ri``: row
        position in the file) — must run on the RAW scan relation
        (the ``_metadata`` pseudo-column dies at the first select)."""
        return df.withColumn(
            "_rt_rel",
            F.concat(
                F.lit(_DATA + "/"),
                F.substring_index(
                    F.col("_metadata.file_path"), "/" + _DATA + "/", -1
                ),
            ),
        ).withColumn("_rt_ri", F.col("_metadata.row_index"))

    def _scan_units(
        self,
        paths: list[str],
        schema: T.StructType,
        mapping: dict,
        partition_by: list[str] | None = None,
        with_row_meta: bool = False,
    ) -> DataFrame:
        """One multi-path FileScan under the physical schema, aliased
        back to logical names — the single place reads cross the
        column-mapping boundary.

        Partitioned tables with MULTIPLE unit dirs can't use Spark's
        native partition discovery (each unit is its own hive root, and
        multi-root discovery refuses the conflicting structure), so the
        scan stays ONE FileScan via recursiveFileLookup and recovers
        partition values from the file path — still O(1) plan size in
        unit count, at the cost of a per-row regexp on the path column
        (single-unit scans keep native discovery and pay nothing)."""
        def _with_mat(s: T.StructType) -> T.StructType:
            # materialized-id columns join the PHYSICAL read schema
            # only (never the logical output): files from plain writes
            # lack them and read typed NULL — exactly the coalesce
            # fallback _attach_row_ids wants
            if not with_row_meta:
                return s
            return T.StructType(
                list(s.fields)
                + [
                    T.StructField(_MAT_ROW_ID, T.LongType(), True),
                    T.StructField(_MAT_RCV, T.LongType(), True),
                ]
            )

        meta_cols = ["_rt_rel", "_rt_ri", _MAT_ROW_ID, _MAT_RCV]
        pset = set(partition_by or [])
        part_fields = [f for f in schema.fields if f.name in pset]
        if not part_fields or len(paths) == 1:
            df = self.spark.read.schema(
                _with_mat(self._physical_schema(schema, mapping))
            ).parquet(*paths)
            if with_row_meta:
                df = self._row_meta_cols(df)
            if mapping:
                df = df.select(
                    *(
                        [
                            F.col(mapping.get(f.name, f.name)).alias(f.name)
                            for f in schema.fields
                        ]
                        + (meta_cols if with_row_meta else [])
                    )
                )
            return df
        data_schema = T.StructType(
            [f for f in schema.fields if f.name not in pset]
        )
        df = (
            self.spark.read.schema(
                _with_mat(self._physical_schema(data_schema, mapping))
            )
            .option("recursiveFileLookup", "true")
            .parquet(*paths)
        )
        if with_row_meta:
            df = self._row_meta_cols(df)
        cols = []
        for f in schema.fields:
            if f.name in pset:
                # '/'-anchored so a column whose name SUFFIXES another
                # ('date' vs 'event_date') can't match inside the other
                # segment; '+' is pre-escaped because url_decode is
                # x-www-form-urlencoded (+ → space) while hive paths
                # never encode '+' — hive_layout.decode_segments (the
                # other two read paths) uses urllib unquote, which
                # preserves it.
                raw = F.regexp_extract(
                    F.input_file_name(), f"/{f.name}=([^/]+)/", 1
                )
                val = (
                    F.when(raw == "", F.lit(None))
                    .when(raw == "__HIVE_DEFAULT_PARTITION__", F.lit(None))
                    .otherwise(
                        F.url_decode(F.replace(raw, F.lit("+"), F.lit("%2B")))
                    )
                )
                cols.append(val.cast(f.dataType).alias(f.name))
            else:
                cols.append(
                    F.col(mapping.get(f.name, f.name)).alias(f.name)
                )
        if with_row_meta:
            cols += [F.col(c) for c in meta_cols]
        return df.select(*cols)

    @staticmethod
    def _logical_stats(stats: dict, mapping: dict) -> dict:
        """View unit stats (keyed by physical column names) under
        logical names so data-skipping predicates written against the
        committed schema prune correctly after renames."""
        if not mapping:
            return stats
        inv = {v: k for k, v in mapping.items()}

        def _cols(d: dict) -> dict:
            return {
                inv.get(c, c): v
                for c, v in d.items()
                if c not in ("_files", "_bloom")
            }

        out: dict = {}
        for u, s in stats.items():
            ns = _cols(s)
            if "_files" in s:
                ns["_files"] = {fn: _cols(fs) for fn, fs in s["_files"].items()}
            if "_bloom" in s:
                ns["_bloom"] = {
                    inv.get(c, c): v for c, v in s["_bloom"].items()
                }
            out[u] = ns
        return out

    def _read_units(
        self,
        commit: Commit,
        units: list[str],
        with_row_ids: bool = False,
    ) -> DataFrame:
        """One multi-path scan over a subset of a commit's data units,
        under the commit's authoritative schema — with the commit's
        merge-on-read delete sets applied.

        Units sharing the same set of applicable delete files scan
        together; each group anti-joins its deleted-PK set once. With
        no delete sets (the common case, and always after optimize)
        the plan is the single FileScan it always was; with them, plan
        size is O(#delete epochs since last optimize), bounded by
        maintenance cadence — never O(deletes)."""
        schema = T.StructType.fromJson(json.loads(commit.schema_json))
        mapping = commit.column_mapping or {}
        if with_row_ids and not _prop_on(
            commit.properties, "delta.enableRowTracking"
        ):
            # property-gated, NOT row_ids-gated: a tracked table whose
            # snapshot is momentarily empty has row_ids == {} and must
            # still answer (with an empty id-columned relation)
            raise UserException(
                "Row tracking is not enabled on this table; create it "
                "with properties={'delta.enableRowTracking': 'true'}."
            )

        def scan(us: list[str]) -> DataFrame:
            paths = [os.path.join(self._data_dir, u) for u in us]
            df = self._scan_units(
                paths, schema, mapping, commit.partition_by,
                with_row_meta=with_row_ids,
            )
            if with_row_ids:
                df = self._attach_row_ids(df, commit)
            return df

        if not commit.delete_sets:
            return scan(units)
        groups: dict[tuple, list[str]] = {}
        for u in units:
            key = tuple(
                ds["path"]
                for ds in commit.delete_sets
                if u in set(ds["units"])
            )
            groups.setdefault(key, []).append(u)
        parts = []
        for key, us in groups.items():
            df = scan(us)
            if key:
                dels = self.spark.read.parquet(
                    *[os.path.join(self._deletes_dir, p) for p in key]
                )
                df = df.join(dels, list(dels.columns), "left_anti")
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _attach_row_ids(self, df: DataFrame, commit: Commit) -> DataFrame:
        """``_row_id`` / ``_row_commit_version`` from the commit's
        per-file base-id table: a BROADCAST join on the file's
        table-relative path (metadata-scale — one row per live file,
        never per data row), then base + in-file position. Stays a
        join, not an inlined map literal, so a million-file table
        doesn't compile a million-entry expression into the plan. The
        table is an Arrow ``LocalRelation`` (``session.local_relation``):
        it has exact size statistics and its broadcast runs no
        Python-worker job.

        Files written by a dataChange=false rewrite (optimize) carry
        each row's PRE-rewrite id in the materialized columns; those
        win over the fresh base arithmetic (Delta's preserved-row-id
        rule).

        Small tables (≤256 live files) fold the per-file table into
        constant MAP literals instead — no join, no broadcast stage,
        no extra Spark job; the plan stays bounded by the threshold."""
        rows = []
        for ent in (commit.row_ids or {}).values():
            for rel, (base, _n) in (ent.get("files") or {}).items():
                rows.append((rel, int(base), int(ent["v"])))
        if len(rows) <= 256:
            if rows:
                base_map = F.create_map(
                    *[x for rel, b, _v in rows
                      for x in (F.lit(rel), F.lit(b))]
                )
                rcv_map = F.create_map(
                    *[x for rel, _b, v in rows
                      for x in (F.lit(rel), F.lit(v))]
                )
            else:
                # zero live files: create_map() is VOID-typed and
                # map()[string] fails analysis — typed empty maps
                empty = F.expr("CAST(map() AS MAP<STRING, BIGINT>)")
                base_map = rcv_map = empty
            rel_c = F.col("_rt_rel")
            return (
                df.withColumn(
                    "_row_id",
                    F.coalesce(
                        F.col(_MAT_ROW_ID),
                        base_map[rel_c] + F.col("_rt_ri"),
                    ),
                )
                .withColumn(
                    "_row_commit_version",
                    F.coalesce(F.col(_MAT_RCV), rcv_map[rel_c]),
                )
                .drop("_rt_rel", "_rt_ri", _MAT_ROW_ID, _MAT_RCV)
            )
        m = local_relation(
            self.spark,
            "_rt_rel string, _rt_base long, _rt_rcv long",
            [list(c) for c in zip(*rows)],
        )
        return (
            df.join(F.broadcast(m), "_rt_rel", "left")
            .withColumn(
                "_row_id",
                F.coalesce(
                    F.col(_MAT_ROW_ID), F.col("_rt_base") + F.col("_rt_ri")
                ),
            )
            .withColumn(
                "_row_commit_version",
                F.coalesce(F.col(_MAT_RCV), F.col("_rt_rcv")),
            )
            .drop(
                "_rt_rel", "_rt_base", "_rt_ri", "_rt_rcv",
                _MAT_ROW_ID, _MAT_RCV,
            )
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

    def _source_key_bounds(self, src: DataFrame, primary_key: list[str]) -> dict:
        """{pk: (min, max)} over the deduped merge source — one small
        agg job; only orderable JSON-comparable types are kept (the
        same types unit stats record)."""
        aggs = []
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
        return out

    @staticmethod
    def _derived_partition_conjuncts(
        conjuncts: list, gen: dict[str, str], partition_by: list[str]
    ) -> list[str]:
        """Delta's generated-column partition filters, narrow form:
        when a partition column g is GENERATED ALWAYS AS
        ``CAST(src AS DATE)`` and the predicate constrains ``src`` with
        an ISO date/timestamp literal, an implied predicate on g is
        added so Spark's native partition pruning fires — the query
        never has to mention the partition column. Conservative:
        anything unparseable derives nothing."""
        import re

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

    def read_where(self, condition: str, version: int | None = None) -> DataFrame:
        """Filtered snapshot read with commit-log data skipping.

        Whole data units whose recorded min/max ranges provably cannot
        satisfy ``condition`` are dropped from the scan BEFORE Spark
        plans it (Delta's file-level data skipping — one level above
        the row-group skipping the parquet reader does on its own).
        The condition is then re-applied as an ordinary filter, so
        pruning only ever removes provably-dead IO, never rows.

        Two granularities: whole units first (cheap, always), then —
        for unpartitioned units that recorded per-file detail —
        individual files inside surviving units, exactly Delta's
        per-add-action skipping. Partitioned units stay unit-granular
        (reading bare leaf files would drop hive partition columns;
        those tables already get Spark's partition pruning).

        At 100 TB this is the difference between "scan 5 files" and
        "open every footer of a million files" for a point/range query
        on a clustered column (pair with optimize(cluster_by=…))."""
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            parse_conjuncts,
            prune_units,
        )

        commit = self.commit_at(version) if version is not None else self.latest_commit()
        if commit is None:
            raise UserException(f"No table at {self.path}")
        schema = T.StructType.fromJson(json.loads(commit.schema_json))
        mapping = commit.column_mapping or {}
        stats_view = self._logical_stats(commit.stats, mapping)
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
        if commit.delete_sets:
            # merge-on-read deletes pending: unit-level pruning still
            # applies, but the scan must route through the delete-set
            # anti-joins (file-level path lists can't carry them)
            if not units:
                empty = local_relation(self.spark, schema)
                return empty.filter(F.expr(eff_condition))
            return self._read_units(commit, units).filter(
                F.expr(eff_condition)
            )
        paths: list[str] = []
        file_level = bool(parse_conjuncts(condition)) and not commit.partition_by
        for u in units:
            udir = os.path.join(self._data_dir, u)
            detail = (stats_view.get(u) or {}).get("_files")
            if file_level and detail:
                kept = prune_units(detail, list(detail), condition)
                if len(kept) == len(detail):
                    # nothing pruned — hand Spark the directory, not N
                    # individual file paths (cheaper listing/planning)
                    paths.append(udir)
                else:
                    paths.extend(os.path.join(udir, f) for f in kept)
            else:
                paths.append(udir)
        if not paths:
            empty = local_relation(self.spark, schema)
            return empty.filter(F.expr(eff_condition))
        return self._scan_units(
            paths, schema, mapping, commit.partition_by
        ).filter(F.expr(eff_condition))

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
        deduped source's PK tuples become an equality-delete set
        scoped to the prior units they can overlap (stats bounds), and
        the source itself is APPENDED as a new unit — no target read,
        no target rewrite, commit cost O(source) instead of
        O(rewritten units). Readers anti-join the delete set until
        optimize()/a later rewrite materializes it. Requires
        ``update_condition is None`` (the guard needs target rows,
        which MOR never reads).

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
        """
        if not primary_key:
            raise UserException("Upsert load mode requires a primary key.")
        if txn is not None:
            head = self.latest_commit()
            if (
                head is not None
                and (head.txns or {}).get(txn[0], -(1 << 62)) >= txn[1]
            ):
                return head  # already applied — idempotent no-op
        from component_delta_lake_writer_spark.operators.merge import (
            dedup_source,
            merge_upsert,
            merge_upsert_conditional,
        )
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            unit_overlaps_key_bounds,
        )

        if strategy == "merge-on-read":
            if update_condition is not None:
                raise UserException(
                    "merge-on-read upsert cannot evaluate an update "
                    "condition (it never reads the target); use "
                    "strategy='copy-on-write'."
                )
            return self._upsert_mor(
                source, primary_key, compression, max_records_per_file,
                properties, order_by, schema_mode, txn=txn,
            )
        if strategy != "copy-on-write":
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
        persisted = False
        if len(prev.data_units) > 1 and prev.stats:
            # Only worth an extra bounds job when there is more than
            # one unit to choose between. Persist the deduped source
            # so the bounds agg and the merge don't recompute it.
            src = src.persist()
            persisted = True
            bounds = self._source_key_bounds(src, primary_key)
            if bounds:
                touched, untouched = [], []
                for u in prev.data_units:
                    if unit_overlaps_key_bounds(prev.stats.get(u), bounds):
                        touched.append(u)
                    else:
                        untouched.append(u)
        try:
            # Row tracking through the COW merge (unconditional shape
            # only — the conditional variant rebuilds rows column-wise
            # and is documented fresh-id): carried target rows ride
            # their materialized ids through the anti-join; source
            # rows (inserts AND updates — MERGE replaces the matched
            # row wholesale from the source relation) draw fresh ids.
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
                read_t = self._read_units(
                    prev, touched, with_row_ids=tracked
                )
                if tracked:
                    read_t = read_t.withColumnRenamed(
                        "_row_id", _MAT_ROW_ID
                    ).withColumnRenamed("_row_commit_version", _MAT_RCV)
                target_sub = self._align_to_schema(read_t, merge_schema)
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
            unit = self._write_unit(
                self._to_physical(merged, prev.column_mapping),
                prev.partition_by,
                compression,
                max_records_per_file,
            )
            stats = {u: prev.stats[u] for u in untouched if u in prev.stats}
            stats[unit] = self._unit_stats(
                unit, per_file=not prev.partition_by,
                props=effective_props, mapping=prev.column_mapping,
            )
            commit = Commit(
                version=prev.version + 1,
                action="upsert",
                data_units=untouched + [unit],
                schema_json=json.dumps(union_schema.jsonValue()),
                partition_by=prev.partition_by,
                primary_key=primary_key,
                timestamp_ms=int(time.time() * 1000),
                properties=properties if properties is not None else prev.properties,
                stats=stats,
                delete_sets=self._carry_delete_sets(
                    prev.delete_sets, untouched
                ),
                column_mapping=dict(prev.column_mapping),
                txns=dict([txn]) if txn else {},
            )
            # CDF: persist this commit's change set (inserts + the
            # update post-images the MERGE actually applied) so
            # read_changes can attribute across upserts. STAGED before
            # the publish (unique dir — concurrent writers never
            # collide) and adopted as _changes/vN by the version
            # claim's WINNER inside _publish, which also mirrors it as
            # Delta cdc actions in this commit's log entry. Gated on
            # the table property ``enableChangeDataFeed`` exactly like
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
            stage = None
            if commit.properties.get("enableChangeDataFeed"):
                stage = os.path.join(
                    self._changes_dir, f"stage-{uuid.uuid4().hex}"
                )
                self._write_change_set(
                    self._align_to_schema(
                        self._read_units(prev, prev.data_units), union_schema
                    ),
                    src, primary_key, update_condition, commit.version,
                    pre_images=bool(
                        commit.properties.get("changeDataFeedPreImages")
                    ),
                    out_dir=stage,
                )
            try:
                self._publish(commit, prev, cdc_stage=stage)
            except BaseException:
                if stage:
                    shutil.rmtree(stage, ignore_errors=True)
                raise
        finally:
            if persisted:
                src.unpersist()
        return commit

    def _upsert_mor(
        self,
        source: DataFrame,
        primary_key: list[str],
        compression: str,
        max_records_per_file: int | None,
        properties: dict | None,
        order_by: list[str] | None,
        schema_mode: str | None,
        txn: tuple[str, int] | None = None,
    ) -> Commit:
        """Merge-on-read upsert: equality-delete the source's PK tuples
        out of the prior snapshot and append the deduped source as a
        new unit. The write job never touches target data — one PK
        projection of the source (the delete file) plus one append.
        Deleting PKs the target never held is a harmless no-op, so no
        matched/not-matched probe is needed either.

        The delete set is scoped to prior units whose recorded PK
        min/max overlap the source's key bounds (one small agg over
        the persisted source) — read-side anti-join cost then tracks
        the units a batch can actually hit, and a batch disjoint from
        every unit degenerates to a pure append with no delete file at
        all."""
        from component_delta_lake_writer_spark.operators.merge import dedup_source
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            collect_unit_stats,
            unit_overlaps_key_bounds,
        )

        if not self.exists():
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
        src = self._align_to_schema(
            dedup_source(source, primary_key, order_by), union_schema
        ).persist()
        effective_props = (
            properties if properties is not None else prev.properties
        )
        constraints = effective_props.get("constraints", {})
        try:
            if constraints:
                self._check_constraints(src, constraints)
            # scope the equality delete to units the batch can overlap.
            # The source's key bounds come FROM THE DELETE FILE'S OWN
            # PARQUET FOOTERS (driver-side metadata read) — writing the
            # PK projection was already required, so bounds cost zero
            # extra Spark jobs (the agg this replaces was ~0.3 s of
            # fixed dispatch, the bulk of small-batch MOR latency).
            # Footer min/max may be prefix-truncated for long strings,
            # but truncation only WIDENS the range — pruning stays
            # conservative. A batch provably disjoint from every unit
            # degenerates to a pure append: the delete file is removed
            # and no read-side anti-join ever happens.
            delete_sets = self._carry_delete_sets(
                prev.delete_sets, prev.data_units
            )
            name = uuid.uuid4().hex
            dest = os.path.join(self._deletes_dir, name)
            src.select(*primary_key).write.mode("overwrite").option(
                "compression", compression
            ).parquet(dest)
            dstats = collect_unit_stats(dest)
            overlapping = list(prev.data_units)
            if prev.stats and dstats["_rows"] > 0:
                from component_delta_lake_writer_spark.sinks.unit_stats import (
                    key_bounds_from_stats,
                )

                bounds = key_bounds_from_stats(dstats, primary_key)
                if bounds:
                    overlapping = [
                        u
                        for u in prev.data_units
                        if unit_overlaps_key_bounds(prev.stats.get(u), bounds)
                    ]
            if dstats["_rows"] > 0 and overlapping:
                delete_sets.append({"path": name, "units": overlapping})
            else:
                shutil.rmtree(dest, ignore_errors=True)
            unit = self._write_unit(
                self._to_physical(src, prev.column_mapping),
                prev.partition_by,
                compression,
                max_records_per_file,
            )
            stats = {u: prev.stats[u] for u in prev.data_units if u in prev.stats}
            stats[unit] = self._unit_stats(
                unit, per_file=not prev.partition_by,
                props=effective_props, mapping=prev.column_mapping,
            )
            commit = Commit(
                version=prev.version + 1,
                action="upsert",
                data_units=list(prev.data_units) + [unit],
                schema_json=json.dumps(union_schema.jsonValue()),
                partition_by=prev.partition_by,
                primary_key=primary_key,
                timestamp_ms=int(time.time() * 1000),
                properties=effective_props,
                stats=stats,
                delete_sets=delete_sets,
                column_mapping=dict(prev.column_mapping),
                txns=dict([txn]) if txn else {},
            )
            stage = None
            if commit.properties.get("enableChangeDataFeed"):
                stage = os.path.join(
                    self._changes_dir, f"stage-{uuid.uuid4().hex}"
                )
                self._write_change_set(
                    self._align_to_schema(
                        self._read_units(prev, prev.data_units), union_schema
                    ),
                    src, primary_key, None, commit.version,
                    pre_images=bool(
                        commit.properties.get("changeDataFeedPreImages")
                    ),
                    out_dir=stage,
                )
            try:
                self._publish(commit, prev, cdc_stage=stage)
            except BaseException:
                if stage:
                    shutil.rmtree(stage, ignore_errors=True)
                raise
        finally:
            src.unpersist()
        return commit

    def _write_change_set(
        self,
        target: DataFrame,
        source: DataFrame,
        primary_key: list[str],
        update_condition,
        version: int,
        pre_images: bool = False,
        out_dir: str | None = None,
    ) -> None:
        """``out_dir``: a pre-publish staging directory (the publish
        adopts it as ``_changes/v{version}`` winner-only and mirrors
        it as Delta ``cdc`` actions). Default: write ``_changes/v{N}``
        directly (legacy post-publish path).

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
        changes.write.mode("overwrite").parquet(
            out_dir or os.path.join(self._changes_dir, f"v{version}")
        )

    # ---------- constraints (Delta CHECK / NOT NULL) ----------

    def add_constraint(self, name: str, check_expr: str) -> Commit:
        """``ALTER TABLE … ADD CONSTRAINT name CHECK (expr)`` (Delta
        constraint protocol): validated against the EXISTING rows
        first (one short-circuiting existence probe, not a full
        count), then stored in table properties; every later
        write/upsert batch must satisfy it or the commit is refused.
        NOT NULL is the special case ``col IS NOT NULL``."""
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
        cons = dict(prev.properties.get("constraints", {}))
        if name in cons:
            raise UserException(f"Constraint {name!r} already exists.")
        self._check_constraints(self.read(), {name: check_expr})
        cons[name] = check_expr
        commit = Commit(
            version=prev.version + 1,
            action="add_constraint",
            data_units=list(prev.data_units),
            schema_json=prev.schema_json,
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties={**prev.properties, "constraints": cons},
            stats=prev.stats,
            delete_sets=list(prev.delete_sets),
            column_mapping=dict(prev.column_mapping),
        )
        self._publish(commit, prev)
        return commit

    def drop_constraint(self, name: str) -> Commit:
        """``ALTER TABLE … DROP CONSTRAINT name``."""
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
        cons = dict(prev.properties.get("constraints", {}))
        if name not in cons:
            raise UserException(f"No constraint {name!r} on this table.")
        del cons[name]
        commit = Commit(
            version=prev.version + 1,
            action="drop_constraint",
            data_units=list(prev.data_units),
            schema_json=prev.schema_json,
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties={**prev.properties, "constraints": cons},
            stats=prev.stats,
            delete_sets=list(prev.delete_sets),
            column_mapping=dict(prev.column_mapping),
        )
        self._publish(commit, prev)
        return commit

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

    @staticmethod
    def _carry_delete_sets(sets: list, surviving: list[str]) -> list:
        """Restrict merge-on-read delete sets to units still in the
        snapshot; entries whose every unit was rewritten drop out (the
        rewrite materialized their effect)."""
        sv = set(surviving)
        out = []
        for ds in sets:
            us = [u for u in ds["units"] if u in sv]
            if us:
                out.append({"path": ds["path"], "units": us})
        return out

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
        from component_delta_lake_writer_spark.sinks.unit_stats import prune_units

        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
        touched = prune_units(
            self._logical_stats(prev.stats, prev.column_mapping),
            prev.data_units, condition,
        )
        untouched = [u for u in prev.data_units if u not in set(touched)]
        units = list(untouched)
        stats = {u: prev.stats[u] for u in untouched if u in prev.stats}
        if touched:
            tracked = _prop_on(prev.properties, "delta.enableRowTracking")
            df = self._read_units(prev, touched, with_row_ids=tracked)
            if tracked:
                # surviving rows keep their identity through the
                # rewrite (same materialized-column mechanism as
                # optimize). An UPDATEd row keeps its ROW ID — it is
                # the same logical row — but its commit attribution
                # moves to this commit (spec: rowCommitVersion tracks
                # the commit that last touched the row).
                df = df.withColumnRenamed("_row_id", _MAT_ROW_ID)
                rcv = F.col("_row_commit_version")
                if action == "update":
                    hit = F.coalesce(F.expr(condition), F.lit(False))
                    rcv = F.when(
                        hit, F.lit(prev.version + 1)
                    ).otherwise(rcv)
                df = df.withColumn(_MAT_RCV, rcv).drop(
                    "_row_commit_version"
                )
            rewritten = transform(df, F.expr(condition))
            constraints = prev.properties.get("constraints", {})
            if constraints:
                self._check_constraints(rewritten, constraints)
            unit = self._write_unit(
                self._to_physical(rewritten, prev.column_mapping),
                prev.partition_by,
                compression,
                max_records_per_file,
            )
            ustats = self._unit_stats(
                unit, per_file=not prev.partition_by,
                props=prev.properties, mapping=prev.column_mapping,
            )
            if ustats["_rows"] > 0:
                units.append(unit)
                stats[unit] = ustats
            else:  # e.g. DELETE matched every row of the touched units
                shutil.rmtree(
                    os.path.join(self._data_dir, unit), ignore_errors=True
                )
        commit = Commit(
            version=prev.version + 1,
            action=action,
            data_units=units,
            schema_json=prev.schema_json,
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=prev.properties,
            stats=stats,
            delete_sets=self._carry_delete_sets(prev.delete_sets, untouched),
            column_mapping=dict(prev.column_mapping),
        )
        stage = None
        if touched and prev.properties.get("enableChangeDataFeed"):
            # CDF for DML (Delta parity): DELETE emits the removed
            # images as 'delete'; UPDATE emits post-images (and
            # pre-images when changeDataFeedPreImages is set — the
            # same opt-in as the merge path). Rows recomputed from
            # the prior snapshot's touched units, which the commit
            # never deletes (vacuum liveness protects them). Staged
            # pre-publish; the version-claim winner adopts it inside
            # _publish and mirrors it as Delta cdc actions.
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
            stage = os.path.join(
                self._changes_dir, f"stage-{uuid.uuid4().hex}"
            )
            changes.write.mode("overwrite").parquet(stage)
        elif prev.properties.get("enableChangeDataFeed"):
            # stats pruned every unit (condition provably matches no
            # row) — the commit still publishes, so the change feed
            # must cross it: persist an EMPTY schema-correct change
            # set, or a running table_changes_stream wedges forever on
            # "no persisted change set" at this version.
            stage = os.path.join(
                self._changes_dir, f"stage-{uuid.uuid4().hex}"
            )
            self._write_empty_change_set(
                prev, commit.version, out_dir=stage
            )
        try:
            self._publish(commit, prev, cdc_stage=stage)
        except BaseException:
            if stage:
                shutil.rmtree(stage, ignore_errors=True)
            raise
        return commit

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

        ``strategy='merge-on-read'`` writes an Iceberg-style EQUALITY
        DELETE file instead (the deleted PK tuples) and rewrites
        NOTHING — O(matched keys) commit cost regardless of unit size,
        the right trade for frequent small deletes against huge units.
        Readers anti-join the delete set until optimize() materializes
        it away. Requires a primary key."""
        if strategy == "merge-on-read":
            return self._delete_mor(condition, compression)
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
        (replication, GDPR erasure lists): the key tuples become a
        merge-on-read equality-delete set scoped to the units their
        values can overlap — O(keys) commit cost, nothing rewritten.
        When the table has CDF enabled, the deleted images land as
        'delete' change rows so downstream consumers keep attributing."""
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            collect_unit_stats,
            unit_overlaps_key_bounds,
        )

        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
        if (
            txn is not None
            and (prev.txns or {}).get(txn[0], -(1 << 62)) >= txn[1]
        ):
            return prev  # already applied — idempotent no-op
        if not prev.primary_key:
            raise UserException("delete_keys requires a primary key.")
        key_set = keys.select(*prev.primary_key).distinct().persist()
        try:
            bounds = self._source_key_bounds(key_set, prev.primary_key)
            touched = [
                u
                for u in prev.data_units
                if not bounds
                or unit_overlaps_key_bounds(prev.stats.get(u), bounds)
            ]
            delete_sets = self._carry_delete_sets(
                prev.delete_sets, prev.data_units
            )
            name = uuid.uuid4().hex
            dest = os.path.join(self._deletes_dir, name)
            key_set.write.mode("overwrite").option(
                "compression", compression
            ).parquet(dest)
            if touched and collect_unit_stats(dest)["_rows"] > 0:
                delete_sets.append({"path": name, "units": list(touched)})
            else:
                shutil.rmtree(dest, ignore_errors=True)
            commit = Commit(
                version=prev.version + 1,
                action="delete",
                data_units=list(prev.data_units),
                schema_json=prev.schema_json,
                partition_by=prev.partition_by,
                primary_key=prev.primary_key,
                timestamp_ms=int(time.time() * 1000),
                properties=(
                    properties if properties is not None else prev.properties
                ),
                stats=prev.stats,
                delete_sets=delete_sets,
                column_mapping=dict(prev.column_mapping),
                txns=dict([txn]) if txn else {},
            )
            # CDF change set STAGED before the publish (same contract
            # as the merge path): the publish adopts it as _changes/vN
            # AND mirrors it as Delta cdc actions — a post-publish
            # write left MOR deletes under-derivable for external
            # table_changes readers (caught by the r8 composite test).
            stage = None
            if commit.properties.get("enableChangeDataFeed") and touched:
                stage = os.path.join(
                    self._changes_dir, f"stage-{uuid.uuid4().hex}"
                )
                try:
                    self._read_units(prev, touched).join(
                        F.broadcast(key_set),
                        list(prev.primary_key),
                        "left_semi",
                    ).withColumn(
                        "_change_type", F.lit("delete")
                    ).write.mode("overwrite").parquet(stage)
                except BaseException:
                    # a failed stage WRITE must not leak a partial
                    # stage-<uuid> dir under _changes (readers ignore
                    # it, but the concurrency tests assert none after
                    # runs) — the except below only covers _publish
                    shutil.rmtree(stage, ignore_errors=True)
                    raise
            try:
                self._publish(commit, prev, cdc_stage=stage)
            except BaseException:
                if stage:
                    shutil.rmtree(stage, ignore_errors=True)
                raise
            if (
                commit.properties.get("enableChangeDataFeed")
                and not touched
            ):
                self._write_empty_change_set(prev, commit.version)
        finally:
            key_set.unpersist()
        return commit

    def _delete_mor(self, condition: str, compression: str) -> Commit:
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            collect_unit_stats,
            prune_units,
        )

        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
        if not prev.primary_key:
            raise UserException(
                "merge-on-read delete requires a primary key (equality "
                "deletes are keyed); use strategy='copy-on-write'."
            )
        touched = prune_units(
            self._logical_stats(prev.stats, prev.column_mapping),
            prev.data_units, condition,
        )
        delete_sets = self._carry_delete_sets(
            prev.delete_sets, prev.data_units
        )
        if touched:
            keys = (
                self._read_units(prev, touched)
                .filter(F.coalesce(F.expr(condition), F.lit(False)))
                .select(*prev.primary_key)
            )
            name = uuid.uuid4().hex
            dest = os.path.join(self._deletes_dir, name)
            keys.write.mode("overwrite").option(
                "compression", compression
            ).parquet(dest)
            if collect_unit_stats(dest)["_rows"] > 0:
                delete_sets.append({"path": name, "units": list(touched)})
            else:
                shutil.rmtree(dest, ignore_errors=True)
        commit = Commit(
            version=prev.version + 1,
            action="delete",
            data_units=list(prev.data_units),
            schema_json=prev.schema_json,
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=prev.properties,
            stats=prev.stats,
            delete_sets=delete_sets,
            column_mapping=dict(prev.column_mapping),
        )
        # same CDF contract as the copy-on-write DELETE: the removed
        # images land as 'delete' change rows (computed against the
        # PRE-delete snapshot), STAGED before the publish so the
        # winner adopts them as _changes/vN AND mirrors them as Delta
        # cdc actions (a post-publish write left MOR deletes
        # under-derivable for external table_changes readers — caught
        # by the r8 composite test)
        stage = None
        if touched and prev.properties.get("enableChangeDataFeed"):
            cond = F.coalesce(F.expr(condition), F.lit(False))
            stage = os.path.join(
                self._changes_dir, f"stage-{uuid.uuid4().hex}"
            )
            try:
                self._read_units(prev, touched).filter(cond).withColumn(
                    "_change_type", F.lit("delete")
                ).write.mode("overwrite").parquet(stage)
            except BaseException:
                # failed stage write: clean the partial stage dir
                # before re-raising (the publish try below only
                # covers _publish failures)
                shutil.rmtree(stage, ignore_errors=True)
                raise
        try:
            self._publish(commit, prev, cdc_stage=stage)
        except BaseException:
            if stage:
                shutil.rmtree(stage, ignore_errors=True)
            raise
        if not touched and prev.properties.get("enableChangeDataFeed"):
            # see _rewrite_where: a fully-pruned DML commit still needs
            # an (empty) change set or the CDF stream wedges on it
            self._write_empty_change_set(prev, commit.version)
        return commit

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
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
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
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            prune_units,
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
            # hive-layout pruning: partition values live in DIRECTORY
            # names, not parquet footers — a unit is touched iff its
            # directory tree contains one of the replaced partitions.
            # One walk per unit (seen-map reused across all tuples).
            touched = []
            for u in prev.data_units:
                seen = self._unit_partition_values(u)
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
                touched_set.update(
                    prune_units(
                        self._logical_stats(prev.stats, prev.column_mapping),
                        prev.data_units, d,
                    )
                )
            touched = [u for u in prev.data_units if u in touched_set]
        else:
            touched = prune_units(
            self._logical_stats(prev.stats, prev.column_mapping),
            prev.data_units, condition,
        )
        untouched = [u for u in prev.data_units if u not in set(touched)]
        units = list(untouched)
        stats = {u: prev.stats[u] for u in untouched if u in prev.stats}
        tracked = _prop_on(prev.properties, "delta.enableRowTracking")
        replaced = None
        if touched:
            # the kept remainder of touched units keeps row identity
            # through the rewrite (same materialized-column mechanism
            # as DELETE); the incoming batch is genuinely new rows and
            # draws fresh ids via unionByName's missing-column NULLs
            replaced = self._read_units(
                prev, touched, with_row_ids=tracked
            ).filter(~cond)
            if tracked:
                replaced = replaced.withColumnRenamed(
                    "_row_id", _MAT_ROW_ID
                ).withColumnRenamed("_row_commit_version", _MAT_RCV)
        new_rows = (
            df
            if replaced is None
            else replaced.unionByName(df, allowMissingColumns=True)
        )
        unit = self._write_unit(
            self._to_physical(new_rows, prev.column_mapping),
            prev.partition_by,
            compression,
            max_records_per_file,
        )
        ustats = self._unit_stats(
            unit, per_file=not prev.partition_by,
            props=prev.properties, mapping=prev.column_mapping,
        )
        if ustats["_rows"] > 0:
            units.append(unit)
            stats[unit] = ustats
        else:
            shutil.rmtree(
                os.path.join(self._data_dir, unit), ignore_errors=True
            )
        commit = Commit(
            version=prev.version + 1,
            action="replace_where",
            data_units=units,
            schema_json=prev.schema_json,
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=prev.properties,
            stats=stats,
            delete_sets=self._carry_delete_sets(prev.delete_sets, untouched),
            column_mapping=dict(prev.column_mapping),
        )
        self._publish(commit, prev)
        if prev.properties.get("enableChangeDataFeed"):
            # CDF parity with Delta's replaceWhere: removed images as
            # 'delete' (recomputed against the pre-commit snapshot,
            # whose units the commit never deletes), the new batch as
            # 'insert'.
            changes = df.withColumn("_change_type", F.lit("insert"))
            if touched:
                changes = changes.unionByName(
                    self._read_units(prev, touched)
                    .filter(cond)
                    .withColumn("_change_type", F.lit("delete"))
                )
            changes.write.mode("overwrite").parquet(
                os.path.join(self._changes_dir, f"v{commit.version}")
            )
        return commit

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
            prune_units,
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
                bounds = self._source_key_bounds(src, primary_key)
                scope_units = set(
                    prune_units(
                        self._logical_stats(prev.stats, prev.column_mapping),
                        prev.data_units, delete_scope,
                    )
                )
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
            unit = self._write_unit(
                self._to_physical(merged, prev.column_mapping),
                prev.partition_by, compression, max_records_per_file,
            )
            stats = {u: prev.stats[u] for u in untouched if u in prev.stats}
            ustats = self._unit_stats(
                unit, per_file=not prev.partition_by,
                props=prev.properties, mapping=prev.column_mapping,
            )
            units = list(untouched)
            if ustats["_rows"] > 0:
                units.append(unit)
                stats[unit] = ustats
            else:
                shutil.rmtree(
                    os.path.join(self._data_dir, unit), ignore_errors=True
                )
            commit = Commit(
                version=prev.version + 1,
                action="upsert",
                data_units=units,
                schema_json=prev.schema_json,
                partition_by=prev.partition_by,
                primary_key=primary_key,
                timestamp_ms=int(time.time() * 1000),
                properties=prev.properties,
                stats=stats,
                delete_sets=self._carry_delete_sets(
                    prev.delete_sets, untouched
                ),
                column_mapping=dict(prev.column_mapping),
            )
            self._publish(commit, prev)
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
                changes.write.mode("overwrite").parquet(
                    os.path.join(self._changes_dir, f"v{commit.version}")
                )
        finally:
            src.unpersist()
        return commit

    def _unit_partition_values(self, unit: str) -> dict[str, set]:
        """{partition col: set of on-disk value strings (None=NULL)}
        from one walk of the unit's hive directory tree."""
        from component_delta_lake_writer_spark.sinks.hive_layout import (
            decode_segments,
        )

        base = os.path.join(self._data_dir, unit)
        seen: dict[str, set] = {}
        for root, _dirs, _files in os.walk(base):
            for k, v in decode_segments(
                os.path.relpath(root, base)
            ).items():
                seen.setdefault(k, set()).add(v)
        return seen

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
        else carries by reference with its delete sets intact. The
        hot-partition maintenance play: compact today's churn without
        touching years of cold data.

        ``unit_per_file`` (clustered, unpartitioned tables only) then
        splits the compacted output into ONE DATA UNIT PER FILE —
        driver-side renames after a single Spark job, no extra pass
        over the data. Because clustered files cover disjoint key
        ranges, this keeps the table prunable at unit granularity, so
        later selective MERGEs rewrite only the key ranges a batch
        touches instead of the whole compacted snapshot."""
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
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
            from component_delta_lake_writer_spark.sinks.unit_stats import (
                prune_units,
            )

            touched = prune_units(
                self._logical_stats(prev.stats, prev.column_mapping),
                prev.data_units, where,
            )
            untouched = [
                u for u in prev.data_units if u not in set(touched)
            ]
            if not touched:
                return prev  # nothing in scope — no-op
        tracked = _prop_on(prev.properties, "delta.enableRowTracking")
        df = self._read_units(prev, touched, with_row_ids=tracked)
        if tracked:
            # OPTIMIZE is dataChange=false: rows keep their identity.
            # Materialize each row's id into the physical rewrite
            # columns (absent from the committed schema — plain reads
            # never see them); _attach_row_ids coalesces them over the
            # fresh base ids the new unit draws.
            df = df.withColumnRenamed(
                "_row_id", _MAT_ROW_ID
            ).withColumnRenamed("_row_commit_version", _MAT_RCV)
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
        # a scoped optimize that CARRIES physically-named units must
        # write the rewrite under the same physical names (uniform
        # on-disk naming); a full optimize materializes renames and
        # resets the mapping (REORG), as before
        unit = self._write_unit(
            self._to_physical(
                df, prev.column_mapping if untouched else {}
            ),
            prev.partition_by, "snappy", target_file_rows,
        )
        if unit_per_file:
            units = self._split_unit_per_file(unit)
            stats = {
                u: self._unit_stats(
                    u, per_file=True, props=prev.properties,
                ) for u in units
            }
        else:
            units = [unit]
            stats = {
                unit: self._unit_stats(
                    unit, per_file=not prev.partition_by,
                    props=prev.properties,
                    mapping=(
                        prev.column_mapping if untouched else None
                    ),
                )
            }
        stats.update(
            {u: prev.stats[u] for u in untouched if u in prev.stats}
        )
        commit = Commit(
            version=prev.version + 1,
            action="optimize",
            data_units=untouched + units,
            schema_json=prev.schema_json,
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=prev.properties,
            stats=stats,
            delete_sets=self._carry_delete_sets(
                prev.delete_sets, untouched
            ),
            column_mapping=(
                dict(prev.column_mapping) if untouched else {}
            ),
            # a clustering optimize (re)declares the table's
            # clustering columns (Delta clustered-table state); a
            # plain compaction keeps whatever stood
            clustered_by=list(
                cluster_by or zorder_by or prev.clustered_by or []
            ),
        )
        self._publish(commit, prev)
        return commit

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
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
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
        # delete-set files are part of the snapshot too: restoring a
        # MOR-era version whose equality-delete files were vacuumed
        # would publish a snapshot whose every read crashes later —
        # the loud failure belongs HERE, same as the units check
        missing_ds = [
            ds["path"]
            for ds in old.delete_sets
            if not os.path.isdir(os.path.join(self._deletes_dir, ds["path"]))
        ]
        if missing_ds:
            raise UserException(
                f"Cannot restore to version {version}: merge-on-read "
                f"delete sets {missing_ds} were vacuumed."
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
        commit = Commit(
            version=prev.version + 1,
            action="restore",
            data_units=list(old.data_units),
            schema_json=old.schema_json,
            partition_by=old.partition_by,
            primary_key=old.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=props,
            stats={u: s for u, s in old.stats.items() if u in old.data_units},
            delete_sets=list(old.delete_sets),
            column_mapping=dict(old.column_mapping),
            # clustering is part of the restored snapshot (the
            # restored units' physical layout), not of the pre-restore
            # head — _publish skips its carry-forward for restores
            clustered_by=list(old.clustered_by or []),
        )
        self._publish(commit, prev)
        return commit

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
        live = set(prev.data_units)
        live_deletes = {ds["path"] for ds in prev.delete_sets}
        live_versions = {prev.version}
        ever_referenced: set = set()
        for c in self.history():
            ever_referenced.update(c.data_units)
            if c.timestamp_ms >= cutoff_ms:
                live.update(c.data_units)
                live_deletes.update(ds["path"] for ds in c.delete_sets)
                live_versions.add(c.version)
        # a unit referenced by NO commit at all may be a CONCURRENT
        # writer's just-written, not-yet-published data: reclaiming it
        # would permanently break the commit about to reference it.
        # Delta's VACUUM protects in-flight files by modification age;
        # same here — orphans younger than the grace window survive.
        orphan_grace_ms = 20 * 60 * 1000

        def _orphan_in_flight(unit: str) -> bool:
            if unit in ever_referenced:
                return False
            try:
                mt = os.path.getmtime(
                    os.path.join(self._data_dir, unit)
                ) * 1000
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
        if os.path.isdir(self._deletes_dir):
            for d in os.listdir(self._deletes_dir):
                if d not in live_deletes:
                    if not dry_run:
                        shutil.rmtree(
                            os.path.join(self._deletes_dir, d),
                            ignore_errors=True,
                        )
                    removed += 1
        # CDF change sets follow the same liveness rule as data units:
        # _changes/vN belongs to commit N, so it is reclaimed exactly
        # when commit N falls outside the retention window (otherwise a
        # CDF-enabled table accumulates per-upsert change parquet
        # forever).
        if os.path.isdir(self._changes_dir):
            for d in os.listdir(self._changes_dir):
                if not d.startswith("v"):
                    continue
                try:
                    v = int(d[1:])
                except ValueError:
                    continue
                if v not in live_versions:
                    if not dry_run:
                        shutil.rmtree(
                            os.path.join(self._changes_dir, d),
                            ignore_errors=True,
                        )
                    removed += 1
            # abandoned pre-publish stages (a loser of a version race
            # crashed before its cleanup): never referenced, safe
            # beyond the in-flight grace
            for d in os.listdir(self._changes_dir):
                if not d.startswith("stage-"):
                    continue
                sp = os.path.join(self._changes_dir, d)
                try:
                    fresh = (
                        os.path.getmtime(sp) * 1000
                        > now_ms - orphan_grace_ms
                    )
                except OSError:
                    continue  # racing with its writer
                if not fresh:
                    if not dry_run:
                        shutil.rmtree(sp, ignore_errors=True)
                    removed += 1
        # mirrored CDF files (_change_data/cdc-{version}-*.parquet,
        # hardlinks of _changes/vN) follow the same version liveness
        cd_dir = os.path.join(self.path, "_change_data")
        if os.path.isdir(cd_dir):
            for fn in os.listdir(cd_dir):
                if not fn.startswith("cdc-"):
                    continue
                try:
                    v = int(fn.split("-")[1])
                except (IndexError, ValueError):
                    continue
                if v not in live_versions:
                    if not dry_run:
                        try:
                            os.unlink(os.path.join(cd_dir, fn))
                        except OSError:
                            pass
                    removed += 1
        # deletion-vector files (deletion_vector_*.bin at the table
        # root) follow mirror-action liveness: referenced by any
        # add/remove action of a retained version, or by the current
        # live replay (live adds can be older than the window) → kept;
        # every DV swap / optimize otherwise orphans its predecessor
        # forever. Fresh unreferenced files get the same in-flight
        # grace as data units (written before their log entry lands).
        log_dir = os.path.join(self.path, "_delta_log")
        if os.path.isdir(log_dir):
            from component_delta_lake_writer_spark.sinks.delta_log import (
                _log_versions,
                _read_version_actions,
                live_dv_descriptors,
            )
            from component_delta_lake_writer_spark.sinks.deletion_vectors import (  # noqa: E501
                dv_relative_path,
            )

            # A DV file is live iff some RETAINED SNAPSHOT references
            # it: (a) the snapshot AT the oldest retained version
            # (whose live adds may carry descriptors introduced long
            # before the window — per-version add deltas alone would
            # reclaim them and break the promised in-window time
            # travel), (b) any add action within the window, (c) the
            # head snapshot (the loop's final state). Remove-only
            # references never pin a file — reconciliation does not
            # open it.
            dv_live: set = set()
            min_live = min(live_versions) if live_versions else 0

            def _ref(d) -> None:
                try:
                    dv_live.add(dv_relative_path(d))
                except (ValueError, KeyError):
                    pass

            live_map: dict = {}
            for v in _log_versions(log_dir):
                for a in _read_version_actions(log_dir, v):
                    if "add" in a:
                        d = a["add"].get("deletionVector")
                        live_map[a["add"]["path"]] = d
                        if v >= min_live and d is not None:
                            _ref(d)
                    elif "remove" in a:
                        live_map.pop(a["remove"]["path"], None)
                if v == min_live:
                    for d in live_map.values():
                        if d is not None:
                            _ref(d)
            for d in live_map.values():  # head snapshot
                if d is not None:
                    _ref(d)
            # head again via CHECKPOINT-AWARE replay: this engine
            # never truncates JSON entries, but an external cleanup
            # (delta-rs metadata cleanup past a checkpoint) can —
            # then the raw loop above misses adds that only the
            # checkpoint carries, and reclaiming their DV files would
            # break every head read. Mid-window snapshots of a
            # truncated history are unreconstructable either way.
            for d in live_dv_descriptors(self.path).values():
                _ref(d)
            for fn in os.listdir(self.path):
                if not (
                    fn.startswith("deletion_vector_")
                    and fn.endswith(".bin")
                ):
                    continue
                if fn in dv_live:
                    continue
                try:
                    mt = os.path.getmtime(
                        os.path.join(self.path, fn)
                    ) * 1000
                except OSError:
                    continue  # racing with its writer
                if mt > now_ms - orphan_grace_ms:
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
        mirror JSON entries and checkpoints older than the advertised
        checkpoint once past the retention window, and GC unreferenced
        sidecar files. Engine history (``_commits``) is untouched —
        engine time travel keeps working; external readers replay from
        the checkpoint, losing only sub-checkpoint time travel beyond
        retention, exactly the Delta contract. Returns files deleted."""
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
        full independent copy — data units, commit history, delete
        sets, stats — at the destination. Later writes to either side
        never affect the other.

        ``shallow=True`` is the zero-data-copy variant: parquet bytes
        under ``_data``/``_deletes`` are HARDLINKED instead of copied
        (O(files) metadata ops, zero data movement — the cost profile
        of Delta's shallow clone), while the commit log and mirror are
        real copies so each table's metadata stays self-contained.
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
        if self.latest_commit() is None:
            raise UserException(f"No table at {self.path}")
        if not shallow:
            shutil.copytree(self.path, dest, dirs_exist_ok=True)
            return ManagedTable(self.spark, dest)
        link_roots = (_DATA, "_deletes")
        src_root = self.path

        def _link_or_copy(s: str, d: str) -> None:
            rel = os.path.relpath(s, src_root)
            if rel.split(os.sep, 1)[0] in link_roots:
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
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
        stats = {
            u: self._unit_stats(
                u, per_file=not prev.partition_by,
                props=prev.properties, mapping=prev.column_mapping,
            )
            for u in prev.data_units
        }
        commit = Commit(
            version=prev.version + 1,
            action="analyze",
            data_units=list(prev.data_units),
            schema_json=prev.schema_json,
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=prev.properties,
            stats=stats,
            delete_sets=self._carry_delete_sets(
                prev.delete_sets, prev.data_units
            ),
            column_mapping=dict(prev.column_mapping),
        )
        self._publish(commit, prev)
        return commit

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
        action ``convert`` so the Delta mirror exposes the adopted
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
        from component_delta_lake_writer_spark.sinks.unit_stats import (
            count_unit_rows as _count_unit_rows,
        )
        commit = Commit(
            version=0,
            action="convert",
            data_units=[unit],
            schema_json=json.dumps(schema.jsonValue()),
            partition_by=partition_by,
            primary_key=primary_key or [],
            timestamp_ms=int(time.time() * 1000),
            properties=props,
            stats={
                unit: (
                    self._unit_stats(
                        unit, per_file=not partition_by, props=props
                    )
                    if collect_stats
                    # NO STATISTICS: row counts only (footer headers —
                    # needed for metadata-only COUNT(*)), no min/max;
                    # data skipping stays off until ANALYZE.
                    # Distributed past the same file-count threshold
                    # as the stats pass.
                    else {
                        "_rows": _count_unit_rows(
                            udir, spark=self.spark
                        )
                    }
                )
            },
            delete_sets=[],
        )
        self._publish(commit, None)
        return commit

    def drop(self) -> None:
        """W13: DROP TABLE IF EXISTS (src/component.py:147-148)."""
        shutil.rmtree(self.path, ignore_errors=True)

    def sync_metadata(self) -> int:
        """W14: ``MSCK REPAIR TABLE … SYNC METADATA`` (reference
        src/component.py:113-115 resyncs Unity Catalog from the Delta
        log after an external write). Here the external-reader
        metadata IS the ``_delta_log`` mirror; repair regenerates any
        log entry missing for a committed version (e.g. a table
        produced before the mirror existed, or a partially-copied
        table). Returns the number of entries regenerated."""
        from component_delta_lake_writer_spark.sinks.delta_log import (
            write_delta_log_entry,
        )

        log_dir = os.path.join(self.path, "_delta_log")
        repaired = 0
        repaired_with_sets = False
        prev: Commit | None = None
        for v in self._versions():
            c = self.commit_at(v)
            if not os.path.exists(os.path.join(log_dir, f"{v:020d}.json")):
                prev_units = set(prev.data_units) if prev else set()
                # commit.txns is the carried-forward MERGED map; only
                # the watermark this commit ADVANCED re-emits here
                new_txns = {
                    k: ver
                    for k, ver in (c.txns or {}).items()
                    if prev is None or (prev.txns or {}).get(k) != ver
                }
                rt_arg, ict_arg = _mirror_feature_args(c, prev)
                write_delta_log_entry(
                    table_path=self.path,
                    data_dir_name=_DATA,
                    version=c.version,
                    schema_json=c.schema_json,
                    partition_by=c.partition_by,
                    timestamp_ms=c.timestamp_ms,
                    new_units=[
                        u for u in c.data_units if u not in prev_units
                    ],
                    removed_units=[
                        u for u in prev_units if u not in set(c.data_units)
                    ],
                    prev_schema_json=prev.schema_json if prev else None,
                    # a commit with pending MOR delete sets must keep
                    # the mirror STALE-marked (regenerating with the
                    # default False would clear the marker and serve
                    # deleted rows to external readers) and its txn
                    # watermark must survive the repair
                    rows_diverge=bool(c.delete_sets),
                    column_mapping=c.column_mapping,
                    prev_column_mapping=(
                        prev.column_mapping if prev else None
                    ),
                    operation=_OPERATION_NAMES.get(
                        c.action, c.action.upper()
                    ),
                    txn=next(iter(new_txns.items()), None),
                    # row-tracking ids / in-commit timestamps /
                    # clustering are committed state: a repaired entry
                    # must carry them or external readers lose row
                    # identity / the ICT clock / clustering columns
                    row_tracking=rt_arg,
                    ict=ict_arg,
                    clustering=_mirror_clustering_arg(c, prev),
                    checkpoint_policy=_mirror_checkpoint_arg(c, prev),
                    table_properties=c.properties,
                    prev_table_properties=(
                        prev.properties if prev else None
                    ),
                )
                repaired += 1
                if c.delete_sets:
                    repaired_with_sets = True
            prev = c
        if repaired_with_sets:
            # regenerated entries carry NO deletionVector actions (the
            # descriptors lived in the lost entry); drop those sets
            # from the sidecar's covered list so the stale marker is
            # honest now and the next commit re-materializes the DVs
            from component_delta_lake_writer_spark.sinks.deletion_vectors import (  # noqa: E501
                load_dv_state,
                save_dv_state,
            )

            state = load_dv_state(self.path)
            if state.get("covered"):
                save_dv_state(self.path, {"covered": []})
        return repaired

    def history(self) -> list[Commit]:
        return [self.commit_at(v) for v in self._versions()]

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
        which referenced data units / delete-set files / bloom
        sidecars are missing, plus the newest fully-intact version —
        the safe `restore()` target. Read-only; never mutates."""
        report: dict = {"versions": {}, "last_intact_version": None}
        for v in self._versions():
            c = self.commit_at(v)
            missing_units = [
                u
                for u in c.data_units
                if not os.path.isdir(os.path.join(self._data_dir, u))
            ]
            missing_deletes = [
                ds["path"]
                for ds in c.delete_sets or []
                if not os.path.isdir(
                    os.path.join(self._deletes_dir, ds["path"])
                )
            ]
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
            if missing_deletes:
                issues["missing_delete_sets"] = missing_deletes
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
            if not missing_units and not missing_deletes:
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
        prev = self.latest_commit()
        if prev is None:
            raise UserException(f"No table at {self.path}")
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
        commit = Commit(
            version=prev.version + 1,
            action="set_properties",
            data_units=list(prev.data_units),
            schema_json=prev.schema_json,
            partition_by=prev.partition_by,
            primary_key=prev.primary_key,
            timestamp_ms=int(time.time() * 1000),
            properties=props,
            stats=prev.stats,
            delete_sets=list(prev.delete_sets),
            column_mapping=dict(prev.column_mapping),
        )
        self._publish(commit, prev)
        return commit

    def column_bounds(self, column: str):
        """``SELECT MIN(col), MAX(col)`` answered from COMMIT METADATA
        when sound — zero data IO: exact when no merge-on-read delete
        sets are pending (deletes could remove the extreme row) and
        every unit records usable stats for the column. Temporal
        columns come back as datetimes (stats hold their fixed-width
        string form). Falls back to one distributed agg otherwise."""
        import datetime as _dt

        c = self.latest_commit()
        if c is None:
            raise UserException(f"No table at {self.path}")
        phys = (c.column_mapping or {}).get(column, column)
        ok = not c.delete_sets and c.data_units
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
        metadata-only count optimization over add-action stats). Exact
        from the summed unit stats when the snapshot carries no
        merge-on-read delete sets and every unit has recorded rows;
        otherwise falls back to one distributed count (delete-set
        anti-joins make stats-only counting wrong)."""
        c = self.latest_commit()
        if c is None:
            raise UserException(f"No table at {self.path}")
        have_stats = all(
            (c.stats.get(u) or {}).get("_rows") is not None
            for u in c.data_units
        )
        if not c.delete_sets and have_stats:
            return sum(c.stats[u]["_rows"] for u in c.data_units)
        if c.delete_sets and have_stats:
            # merge-on-read snapshot: still metadata-only when the
            # mirror's deletion vectors FULLY cover the pending sets —
            # live rows = summed unit rows − summed DV cardinalities
            # (each live file's bitmap is the union of every deletion
            # hitting it). A stale mirror or uncovered set falls back.
            from component_delta_lake_writer_spark.sinks.delta_log import (
                delta_log_is_stale,
                live_dv_descriptors,
            )
            from component_delta_lake_writer_spark.sinks.deletion_vectors import (  # noqa: E501
                load_dv_state,
            )

            if delta_log_is_stale(self.path) is None:
                covered = set(load_dv_state(self.path).get("covered", []))
                if {ds["path"] for ds in c.delete_sets} <= covered:
                    deleted = sum(
                        int(d.get("cardinality") or 0)
                        for d in live_dv_descriptors(self.path).values()
                    )
                    return (
                        sum(c.stats[u]["_rows"] for u in c.data_units)
                        - deleted
                    )
        return self.read().count()

    def generate_symlink_manifest(self) -> str:
        """``GENERATE symlink_format_manifest FOR TABLE t`` (Delta's
        GENERATE command): writes
        ``_symlink_format_manifest/manifest`` — one absolute parquet
        path per line for the CURRENT snapshot — the handshake legacy
        engines (Presto/Trino/Athena/Hive external tables) use to read
        a Delta table without a Delta reader. Refused while
        merge-on-read delete sets are pending (the file list would
        resurrect deleted rows; same honesty rule as the _delta_log
        _STALE marker). Atomic tmp+rename publish; regenerate after
        every commit you want visible (exactly Delta's contract).
        Returns the manifest path."""
        c = self.latest_commit()
        if c is None:
            raise UserException(f"No table at {self.path}")
        if c.delete_sets:
            raise UserException(
                "symlink manifest refused: pending merge-on-read "
                "delete sets would resurrect deleted rows; run "
                "optimize() first."
            )
        lines = []
        for u in c.data_units:
            base = os.path.join(self._data_dir, u)
            for root, _dirs, files in os.walk(base):
                for fn in sorted(files):
                    if fn.endswith(".parquet") and not fn.startswith(
                        (".", "_")
                    ):
                        lines.append(os.path.join(root, fn))
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
        counts, total data bytes, row count from commit stats (no data
        scan), partition/PK columns, properties, feature flags."""
        c = self.latest_commit()
        if c is None:
            raise UserException(f"No table at {self.path}")
        n_files = 0
        size_bytes = 0
        for u in c.data_units:
            base = os.path.join(self._data_dir, u)
            for root, _dirs, files in os.walk(base):
                for fn in files:
                    if fn.endswith(".parquet"):
                        n_files += 1
                        size_bytes += os.path.getsize(
                            os.path.join(root, fn)
                        )
        rows = sum(
            (c.stats.get(u) or {}).get("_rows") or 0 for u in c.data_units
        )
        return {
            "format": "parquet+commit-log (delta-mirrored)",
            "location": self.path,
            "version": c.version,
            "num_units": len(c.data_units),
            "num_files": n_files,
            "size_bytes": size_bytes,
            "num_rows_from_stats": rows,
            "partition_columns": list(c.partition_by or []),
            "primary_key": list(c.primary_key or []),
            "properties": dict(c.properties or {}),
            "column_mapping_active": bool(c.column_mapping),
            "pending_delete_sets": len(c.delete_sets or []),
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

    @property
    def _changes_dir(self) -> str:
        return os.path.join(self.path, "_changes")

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
        - upsert commits contribute their persisted per-commit change
          set (``_changes/v{N}``: inserts + update post-images, the
          rows the MERGE actually applied);
        - optimize commits contribute nothing (pure rewrite,
          dataChange=false in Delta terms) and are skipped;
        - overwrite/restore replace the snapshot wholesale — reading
          across one raises, mirroring Delta's CDF on non-CDF rewrites.

        ``with_change_type=True`` appends the ``_change_type`` column.
        """
        versions = [v for v in self._versions() if v > from_version]
        if to_version is not None:
            versions = [v for v in versions if v <= to_version]
        if not versions:
            raise UserException(
                f"No commits after version {from_version} at {self.path}"
            )
        prev_units = set(self.commit_at(from_version).data_units)
        new_units: list[str] = []
        change_dirs: list[str] = []
        last = None
        for v in versions:
            c = self.commit_at(v)
            if c.action == "append":
                new_units.extend(u for u in c.data_units if u not in prev_units)
            elif c.action in CDF_METADATA_ONLY_ACTIONS:
                pass  # identical rows / metadata-only — no logical change
            elif c.action in CDF_CHANGE_SET_ACTIONS and os.path.isdir(
                os.path.join(self._changes_dir, f"v{c.version}")
            ):
                change_dirs.append(os.path.join(self._changes_dir, f"v{c.version}"))
            elif c.action in CDF_CHANGE_SET_ACTIONS:
                raise UserException(
                    f"read_changes crosses {c.action} v{c.version} with no "
                    "persisted change set — set the table property "
                    "enableChangeDataFeed before mutating (same contract "
                    "as delta.enableChangeDataFeed)."
                )
            else:
                raise UserException(
                    f"read_changes crosses a '{c.action}' commit (v{c.version}); "
                    "only append/upsert/delete/update/optimize ranges are "
                    "attributable."
                )
            prev_units = set(c.data_units)
            last = c
        # one multi-path scan under the range-end schema (older units'
        # missing columns read as NULL), same plan shape as read().
        # _scan_units, NOT a raw parquet read: appended units store
        # PHYSICAL column names under column mapping (a renamed
        # column would read back NULL), and multi-unit partitioned
        # appends need the per-root hive-discovery workaround.
        schema = T.StructType.fromJson(json.loads(last.schema_json))
        parts: list[DataFrame] = []
        if new_units:
            parts.append(
                self._scan_units(
                    [os.path.join(self._data_dir, u) for u in new_units],
                    schema, last.column_mapping or {}, last.partition_by,
                ).withColumn("_change_type", F.lit("insert"))
            )
        ctype_schema = T.StructType(
            schema.fields + [T.StructField("_change_type", T.StringType(), True)]
        )
        if change_dirs:
            parts.append(
                self.spark.read.schema(ctype_schema).parquet(*change_dirs)
            )
        if not parts:
            out = local_relation(self.spark, ctype_schema)
        else:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        return out if with_change_type else out.drop("_change_type")
