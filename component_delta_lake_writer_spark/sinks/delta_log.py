"""Delta-compatible transaction log emission for ManagedTable.

The reference writes true Delta tables via delta-rs
(``write_deltalake``, src/component.py:356 era — any Delta reader can
open them). delta-spark is not a dependency in this environment, so
ManagedTable keeps its own ``_commits`` snapshot log as the engine's
source of truth — and ALSO emits the equivalent ``_delta_log/``
JSON actions per the open Delta protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md) so that
external Delta readers (delta-rs, delta-spark, DuckDB's delta
extension) can open the same table:

- ``_delta_log/{version:020d}.json`` — one file per commit, newline-
  delimited JSON actions
- version 0 carries ``protocol`` + ``metaData`` (schemaString is the
  Spark schema JSON — the exact format Delta uses)
- every commit carries ``add`` actions for new parquet files and
  ``remove`` actions for files dropped from the snapshot (overwrite /
  upsert copy-on-write / optimize compaction)
- ``metaData`` is re-emitted when the schema evolves
  (schema_mode='merge')
- partition values are recovered from the Hive-style directory layout
  Spark wrote (the same layout delta-rs produces for partitioned
  tables)

The TIMESTAMP_NTZ type requires the ``timestampNtz`` table feature
(reader v3 / writer v7); the emitted protocol is upgraded exactly when
the schema needs it.

Merge-on-read: ``delete_where``/``delete_keys`` and
``upsert(strategy='merge-on-read')`` delete rows as real Delta
**deletion vectors** (binary RoaringBitmapArray files +
``deletionVector`` descriptors on add/remove, reader v3 / writer v7
feature ``deletionVectors`` — see ``deletion_vectors.py``). The
engine's commit records the same descriptors, so each entry is the
commit's diff against its parent: a file whose bitmap changed gets a
remove of its previous incarnation and an add carrying the new
descriptor, and external readers skip exactly the rows the engine
skips, at every version.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid

_DELTA_LOG = "_delta_log"


_VERSION_RE = None


def _log_versions(log_dir: str) -> list[int]:
    """Committed version numbers in a log dir — STRICT 20-digit name
    match, so tmp files, checkpoints and compacted ranges never parse
    as versions."""
    import re as _re

    global _VERSION_RE
    if _VERSION_RE is None:
        _VERSION_RE = _re.compile(r"^(\d{20})\.json$")
    out = []
    for f in os.listdir(log_dir):
        m = _VERSION_RE.match(f)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _walk_parquet(root: str, unit_dir: str) -> list[tuple[str, int, int, dict]]:
    """All parquet files of one data unit as
    (table-relative path, size, mtime_ms, partitionValues)."""
    out = []
    base = os.path.join(root, unit_dir)
    for dirpath, _dirnames, filenames in os.walk(base):
        rel_dir = os.path.relpath(dirpath, base)
        # hive_layout is the single source of truth for col=value
        # decoding — this was a fourth inline copy that would drift
        from component_delta_lake_writer_spark.sinks.hive_layout import (
            decode_segments,
        )

        pvals = decode_segments(rel_dir)
        for fn in sorted(filenames):
            if not fn.endswith(".parquet") or fn.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, fn)
            st = os.stat(full)
            out.append(
                (
                    os.path.relpath(full, root),
                    st.st_size,
                    int(st.st_mtime * 1000),
                    pvals,
                )
            )
    return out


def _type_uses_ntz(t) -> bool:
    """Does a Spark schema-JSON dataType use timestamp_ntz anywhere
    (struct/array/map nesting included)? Walks TYPE positions only —
    a column merely NAMED 'timestamp_ntz' must not trigger the
    feature (substring probing did, escalating the protocol and
    making feature-less readers refuse a perfectly readable table)."""
    if isinstance(t, str):
        return t == "timestamp_ntz"
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            return any(
                _type_uses_ntz(f.get("type")) for f in t.get("fields", [])
            )
        if k == "array":
            return _type_uses_ntz(t.get("elementType"))
        if k == "map":
            return _type_uses_ntz(t.get("keyType")) or _type_uses_ntz(
                t.get("valueType")
            )
    return False


def _needs_timestamp_ntz(schema_json: str) -> bool:
    s = json.loads(schema_json)
    return any(_type_uses_ntz(f.get("type")) for f in s.get("fields", []))


def _protocol_action(
    schema_json: str,
    column_mapping: bool = False,
    extra_caps: frozenset | set = frozenset(),
) -> dict:
    """Minimal protocol covering the capabilities the schema actually
    uses, per the legacy version ladder (PROTOCOL.md): writer 4 =
    generatedColumns, 5 = columnMapping (reader 2), 6 =
    identityColumns; timestampNtz / deletionVectors force table
    features (3/7) and the in-use capabilities become explicit feature
    names. ``extra_caps`` carries commit-driven (non-schema)
    capabilities — deletionVectors, rowTracking (which per the spec
    requires domainMetadata alongside), inCommitTimestamp."""
    caps = _used_caps(schema_json, column_mapping) | set(extra_caps)
    if "rowTracking" in caps:
        caps.add("domainMetadata")
    generated = "generatedColumns" in caps
    identity = "identityColumns" in caps
    defaults = "allowColumnDefaults" in caps
    widened = "typeWidening" in caps
    checks = "checkConstraints" in caps
    # writer-only table features with no legacy ladder version: their
    # presence forces the writer-7 feature-list form but never a
    # reader escalation (readers ignore them by construction)
    wonly = sorted(
        caps
        & {"rowTracking", "domainMetadata", "inCommitTimestamp",
           "clustering"}
    )
    if caps & {"timestampNtz", "deletionVectors", "v2Checkpoint"}:
        reader = [
            f
            for f in ("timestampNtz", "deletionVectors", "v2Checkpoint")
            if f in caps
        ] + (
            ["columnMapping"] if column_mapping else []
        ) + (["typeWidening"] if widened else [])
        writer = (
            list(reader)
            + (["checkConstraints"] if checks else [])
            + (["generatedColumns"] if generated else [])
            + (["identityColumns"] if identity else [])
            # defaultColumns is writer-only (spec: allowColumnDefaults)
            + (["allowColumnDefaults"] if defaults else [])
            + wonly
        )
        return {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": reader,
                "writerFeatures": writer,
            }
        }
    writer = 2
    if checks:
        writer = 3
    if generated:
        writer = max(writer, 4)
    if column_mapping:
        writer = max(writer, 5)
    if identity:
        writer = max(writer, 6)
    reader = 2 if column_mapping else 1
    if defaults or widened or wonly:
        # allowColumnDefaults/typeWidening/rowTracking/domainMetadata/
        # inCommitTimestamp exist only as table features (writer 7, no
        # legacy version); writer 7 must enumerate every in-use
        # feature, including the legacy ladder's implications
        feats = ["appendOnly", "invariants"]
        if checks:
            feats.append("checkConstraints")
        if generated:
            feats.append("generatedColumns")
        if column_mapping:
            feats.append("columnMapping")
        if identity:
            feats.append("identityColumns")
        if defaults:
            feats.append("allowColumnDefaults")
        feats.extend(wonly)
        if widened:
            # typeWidening is reader-relevant: narrower pages must be
            # read under the widened schema -> reader 3 + feature
            feats.append("typeWidening")
            return {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": (
                        ["typeWidening"]
                        + (["columnMapping"] if column_mapping else [])
                    ),
                    "writerFeatures": feats,
                }
            }
        return {
            "protocol": {
                "minReaderVersion": reader,
                "minWriterVersion": 7,
                "writerFeatures": feats,
            }
        }
    return {"protocol": {"minReaderVersion": reader, "minWriterVersion": writer}}


def _prior_mapping_ids(log_dir: str) -> tuple[dict, int]:
    """(physical path → columnMapping id, maxColumnId) from the
    mirror's most recent metaData. Ids are IMMUTABLE per the spec — a
    column keeps its id across renames (physical name is the stable
    key) and drops must not renumber survivors; maxColumnId only
    grows. Keys MUST mirror ``_mapped_schema_string.assign``'s exactly:
    top-level fields by physicalName, nested struct/array/map fields by
    the dotted physical path (``parent.child``, ``parent.element``, …)
    — walking only top level would lose every nested id and re-emission
    would renumber them, violating id immutability for nested data."""
    md = _latest_metadata(log_dir)
    if md is None:
        return {}, 0
    ids: dict = {}

    def walk(t, prefix: str) -> None:
        if not isinstance(t, dict):
            return
        if t.get("type") == "struct":
            for nf in t.get("fields", []):
                # nested names are identity-physical (only top level
                # renames), so the dotted key uses the field name —
                # same derivation as _mapped_schema_string.walk_nested
                key = f"{prefix}.{nf['name']}"
                pid = (nf.get("metadata") or {}).get(
                    "delta.columnMapping.id"
                )
                if pid is not None:
                    ids[key] = int(pid)
                walk(nf.get("type"), key)
        elif t.get("type") == "array":
            walk(t.get("elementType"), prefix + ".element")
        elif t.get("type") == "map":
            walk(t.get("keyType"), prefix + ".key")
            walk(t.get("valueType"), prefix + ".value")

    try:
        for f in json.loads(md["schemaString"]).get("fields", []):
            meta = f.get("metadata") or {}
            pid = meta.get("delta.columnMapping.id")
            phys = meta.get("delta.columnMapping.physicalName")
            if pid is not None and phys is not None:
                ids[phys] = int(pid)
                walk(f.get("type"), phys)
    except (ValueError, KeyError):
        return {}, 0
    cfg = md.get("configuration") or {}
    try:
        max_id = int(cfg.get("delta.columnMapping.maxColumnId", 0))
    except ValueError:
        max_id = 0
    return ids, max(max_id, max(ids.values(), default=0))


def _mapped_schema_string(
    schema_json: str,
    column_mapping: dict,
    prior_ids: dict | None = None,
    max_id: int = 0,
) -> tuple[str, int]:
    """Embed delta.columnMapping.{id,physicalName} field metadata into
    the Spark schema JSON — the schemaString Delta writes under
    columnMapping mode=name. Ids come from ``prior_ids`` (keyed by
    physical name) when the column existed before, else allocate past
    ``max_id`` — NEVER positionally, which would renumber every column
    after a drop and violate id immutability. Nested struct fields get
    ids too (spec: every field under mode=name carries mapping
    metadata; nested names are identity-physical — the engine renames
    only top level). Returns (schemaString, new maxColumnId)."""
    prior = dict(prior_ids or {})
    counter = [max(max_id, max(prior.values(), default=0))]

    def assign(meta: dict, phys: str) -> dict:
        meta = dict(meta)
        if phys in prior:
            meta["delta.columnMapping.id"] = prior[phys]
        else:
            counter[0] += 1
            prior[phys] = counter[0]
            meta["delta.columnMapping.id"] = counter[0]
        meta["delta.columnMapping.physicalName"] = phys
        return meta

    def walk_nested(t, prefix: str):
        # nested fields key their ids by a dotted physical path so two
        # structs with same-named children never collide
        if isinstance(t, dict):
            if t.get("type") == "struct":
                for nf in t.get("fields", []):
                    phys = f"{prefix}.{nf['name']}"
                    nf["metadata"] = assign(
                        nf.get("metadata") or {}, phys
                    )
                    # spec: physicalName metadata holds the LEAF name
                    nf["metadata"]["delta.columnMapping.physicalName"] = (
                        nf["name"]
                    )
                    walk_nested(nf.get("type"), phys)
            elif t.get("type") == "array":
                walk_nested(t.get("elementType"), prefix + ".element")
            elif t.get("type") == "map":
                walk_nested(t.get("keyType"), prefix + ".key")
                walk_nested(t.get("valueType"), prefix + ".value")

    schema = json.loads(schema_json)
    for f in schema.get("fields", []):
        phys = column_mapping.get(f["name"], f["name"])
        f["metadata"] = assign(f.get("metadata") or {}, phys)
        walk_nested(f.get("type"), phys)
    return json.dumps(schema), counter[0]


def _metadata_action(
    table_id: str,
    schema_json: str,
    partition_by: list[str],
    created_ms: int,
    column_mapping: dict | None = None,
    prior_ids: dict | None = None,
    prior_max_id: int = 0,
    extra_config: dict | None = None,
) -> dict:
    configuration: dict[str, str] = dict(extra_config or {})
    if column_mapping is not None:
        # mode=name once enabled stays enabled (the spec forbids
        # disabling it); an empty dict means identity physical names
        # (e.g. after optimize materialized all renames)
        schema_json, max_id = _mapped_schema_string(
            schema_json, column_mapping, prior_ids, prior_max_id
        )
        configuration.update(
            {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": str(max_id),
            }
        )
    return {
        "metaData": {
            "id": table_id,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json,
            "partitionColumns": partition_by,
            "configuration": configuration,
            "createdTime": created_ms,
        }
    }


def write_delta_log_entry(
    table_path: str,
    data_dir_name: str,
    version: int,
    schema_json: str,
    partition_by: list[str],
    timestamp_ms: int,
    new_units: list[str],
    removed_units: list[str],
    prev_schema_json: str | None,
    column_mapping: dict | None = None,
    prev_column_mapping: dict | None = None,
    operation: str = "WRITE",
    txn: tuple[str, int] | None = None,
    dv_adds: dict | None = None,
    current_dvs: dict | None = None,
    row_tracking: dict | None = None,
    ict: dict | None = None,
    clustering: dict | None = None,
    checkpoint_policy: dict | None = None,
    table_properties: dict | None = None,
    prev_table_properties: dict | None = None,
    cdc_files: list | None = None,
) -> str:
    """Emit ``_delta_log/{version}.json`` for one commit. Returns the
    written path. Idempotent per version (atomic link, first wins).

    ``dv_adds`` maps table-relative parquet paths of live files to
    their NEW ``deletionVector`` descriptor (None: the file's DV is
    gone, e.g. after RESTORE). A file of a ``new_units`` unit gets the
    descriptor on its add; any other file gets a remove of its
    previous incarnation (carrying the prior descriptor from
    ``current_dvs`` when one exists — Delta reconciliation keys
    actions by (path, dvId)) followed by an add carrying the new one.
    The first descriptor also brings a protocol upgrade to the
    ``deletionVectors`` table feature and a metaData re-emission
    setting ``delta.enableDeletionVectors=true``. ``current_dvs`` (the
    parent snapshot's descriptors) also attaches them to removed-unit
    removes.

    ``column_mapping`` (logical→physical names from RENAME COLUMN) is
    mirrored as Delta columnMapping mode=name: schemaString fields
    carry ``delta.columnMapping.{id,physicalName}`` metadata and the
    protocol upgrades to reader 2 / writer 5 the first time the map
    becomes non-empty (3/7 + feature names when timestampNtz already
    forced table features).

    ``row_tracking`` (Delta rowTracking writer feature, PROTOCOL.md
    §Row Tracking): ``{"high_water": int, "files": {table-relative
    path: {"baseRowId": int, "defaultRowCommitVersion": int}},
    "newly": bool}``. Emits the ``delta.rowTracking`` domainMetadata
    action carrying ``rowIdHighWaterMark``, stamps every add (and DV
    re-add) with its file's baseRowId/defaultRowCommitVersion, and on
    first enablement ("newly") re-emits metaData with
    ``delta.enableRowTracking=true`` plus a protocol upgrade to the
    ``rowTracking``+``domainMetadata`` writer features.

    ``ict`` (Delta inCommitTimestamp writer feature):
    ``{"timestamp": int, "config": {…enablement properties…},
    "newly": bool}``. Makes commitInfo the FIRST action of the commit
    (spec requirement) carrying ``inCommitTimestamp``; "newly"
    re-emits metaData with ``delta.enableInCommitTimestamps=true``
    (+ the enablement version/timestamp properties when enabled after
    table creation) and upgrades the protocol.

    ``table_properties`` / ``prev_table_properties``: the commit's
    engine table properties. Scalar-valued entries are mirrored into
    ``metaData.configuration`` — Delta's TBLPROPERTIES ARE the
    metaData configuration, so external readers must see them (and a
    SET/UNSET TBLPROPERTIES commit re-emits metaData exactly when the
    mirrored view changed). Composite engine-internal values
    (constraint dicts, column lists) are engine state, not
    TBLPROPERTIES, and stay out. Feature-derived flags override on
    key collision (they are authoritative).

    ``cdc_files`` ([(table-relative path, size), …]): this commit's
    change-data files (Delta CDF) — each becomes a ``cdc`` action
    (``dataChange=false``), the spec's signal that readers computing
    table_changes for this version must use these files INSTEAD of
    deriving changes from add/remove. Never checkpointed (cdc actions
    are not snapshot state).

    ``checkpoint_policy`` (Delta v2Checkpoint table feature):
    ``{"policy": "v2", "newly": bool}``. "newly" re-emits metaData
    with ``delta.checkpointPolicy=v2`` and upgrades the protocol to
    reader 3 / writer 7 with the ``v2Checkpoint`` feature in BOTH
    lists (the spec requires readers to understand checkpointMetadata
    + sidecar actions before trusting such checkpoints).

    ``clustering`` (Delta clustered-table writer feature):
    ``{"columns": [logical col, …], "newly": bool}``. "newly" (the
    clustering columns changed this commit) emits the
    ``delta.clustering`` domainMetadata carrying ``clusteringColumns``
    and upgrades the protocol to the ``clustering`` (+
    ``domainMetadata``) writer features; unchanged clustering emits
    nothing — the standing domain metadata (and its checkpoint row)
    already describes the table."""
    log_dir = os.path.join(table_path, _DELTA_LOG)
    os.makedirs(log_dir, exist_ok=True)

    cm = column_mapping or {}
    prev_cm = prev_column_mapping or {}

    def _scalar_props(d: dict | None) -> dict:
        out = {}
        for k, v in (d or {}).items():
            if k == "constraints" and isinstance(v, dict):
                # Delta's CHECK-constraint convention: one
                # delta.constraints.<name> = <expr> property each —
                # external writers must see (and enforce) them
                for name, expr in v.items():
                    out[f"delta.constraints.{name}"] = str(expr)
            elif isinstance(v, bool):
                out[k] = "true" if v else "false"
            elif isinstance(v, (str, int, float)):
                out[k] = str(v)
        return out

    user_cfg = _scalar_props(table_properties)
    _has_constraints = bool(
        (table_properties or {}).get("constraints")
    ) or any(k.startswith("delta.constraints.") for k in user_cfg)
    dv_adds = dv_adds or {}
    current_dvs = current_dvs or {}
    dv_new = any(d is not None for d in dv_adds.values())

    # deletionVectors is a commit-driven capability: live once the log
    # carries (or this commit introduces) any descriptor. Resolved
    # LAZILY — _log_has_dv_config is an O(history) newest-first scan
    # and only the (rare) metaData/protocol emission branches need it;
    # evaluating it per commit made every append pay the scan.
    _dv_cfg_cache: list = []

    def _log_dv_cfg() -> bool:
        if not _dv_cfg_cache:
            _dv_cfg_cache.append(_log_has_dv_config(log_dir))
        return _dv_cfg_cache[0]

    def _dv_live() -> bool:
        return dv_new or _log_dv_cfg()

    # v2Checkpoint is sticky the same way (the spec's checkpoint
    # policy cannot silently revert: readers may hold v2 manifests);
    # resolved lazily — only metaData/protocol emission branches ask
    _cp_cache: list = []

    def _cp_live() -> bool:
        if checkpoint_policy is not None:
            return True
        if not _cp_cache:
            md = _latest_metadata(log_dir) or {}
            _cp_cache.append(
                (md.get("configuration") or {}).get(
                    "delta.checkpointPolicy"
                )
                == "v2"
            )
        return _cp_cache[0]

    def _extra_caps() -> set:
        caps = {"deletionVectors"} if _dv_live() else set()
        if row_tracking is not None:
            caps |= {"rowTracking", "domainMetadata"}
        if ict is not None:
            caps.add("inCommitTimestamp")
        if clustering is not None:
            caps |= {"clustering", "domainMetadata"}
        if _cp_live():
            caps.add("v2Checkpoint")
        if _has_constraints:
            caps.add("checkConstraints")
        return caps

    def _feature_config() -> dict:
        """metaData ``configuration`` entries for every live
        commit-driven feature — any metaData re-emission must carry
        all of them or external readers would see a feature's
        property flip off."""
        cfg: dict = {}
        if _dv_live():
            cfg["delta.enableDeletionVectors"] = "true"
        if row_tracking is not None:
            cfg["delta.enableRowTracking"] = "true"
            if row_tracking.get("mat_row_id_col"):
                cfg[
                    "delta.rowTracking.materializedRowIdColumnName"
                ] = row_tracking["mat_row_id_col"]
            if row_tracking.get("mat_rcv_col"):
                cfg[
                    "delta.rowTracking."
                    "materializedRowCommitVersionColumnName"
                ] = row_tracking["mat_rcv_col"]
        if ict is not None:
            cfg["delta.enableInCommitTimestamps"] = "true"
            cfg.update(ict.get("config") or {})
        if _cp_live():
            cfg["delta.checkpointPolicy"] = "v2"
        # TBLPROPERTIES ride metaData.configuration; feature-derived
        # flags above override on collision (authoritative)
        return {**user_cfg, **cfg}

    actions: list[dict] = []
    if txn is not None:
        # Delta txn action (setTransaction): the idempotent-writer
        # watermark external writers consult before re-applying
        actions.append(
            {"txn": {"appId": txn[0], "version": txn[1],
                     "lastUpdated": timestamp_ms}}
        )
    need_meta = (
        version == 0
        or (prev_schema_json is not None and prev_schema_json != schema_json)
        or cm != prev_cm
        # first DV emission: metaData re-emits to carry
        # delta.enableDeletionVectors (the protocol feature is what
        # readers REQUIRE; the property is what real writers set)
        or (dv_new and not _log_dv_cfg())
        # first rowTracking / inCommitTimestamp enablement: same rule
        or bool(row_tracking and row_tracking.get("newly"))
        or bool(ict and ict.get("newly"))
        # first clustering declaration: the protocol upgrade path
        # below runs only when metaData re-emits
        or bool(clustering and clustering.get("newly"))
        or bool(checkpoint_policy and checkpoint_policy.get("newly"))
        # TBLPROPERTIES changed (SET/UNSET or a properties-carrying
        # write): the mirrored configuration view must update
        or (
            table_properties is not None
            and user_cfg != _scalar_props(prev_table_properties)
        )
    )
    if version == 0:
        actions.append(
            _protocol_action(schema_json, bool(cm), _extra_caps())
        )
        actions.append(
            _metadata_action(
                uuid.uuid4().hex, schema_json, partition_by, timestamp_ms,
                column_mapping=cm if cm else None,
                extra_config=_feature_config(),
            )
        )
    elif need_meta:
        # schema evolution, a mapping change (rename / REORG reset) or
        # DV enablement: re-emit metaData, keeping the table id from
        # version 0. Once any commit enabled column mapping the mode
        # stays name (spec: cannot be disabled), with identity
        # physical names after a materializing rewrite.
        tid = _table_id(log_dir) or uuid.uuid4().hex
        # createdTime is fixed at table creation (Delta convention);
        # re-emissions must carry v0's value, not this commit's clock
        created = _table_created_ms(log_dir)
        mapped_mode = bool(cm or prev_cm or _log_has_mapping(log_dir))
        # re-emit the protocol whenever the capabilities the schema
        # needs actually GREW (timestampNtz flip, mapping enabled,
        # first DEFAULT column, first type widening, first DV, …).
        # Delta never auto-downgrades: when a rewrite drops a
        # capability (e.g. an overwrite losing CURRENT_DEFAULT), the
        # prior protocol stands and nothing is emitted —
        # _protocol_upgrade returns the monotonic max or None.
        needed = _protocol_action(schema_json, bool(cm), _extra_caps())
        last = _log_last_protocol(log_dir)
        if last is None:
            actions.append(needed)
        else:
            up = _protocol_upgrade(
                last, needed,
                _used_caps(schema_json, bool(cm)) | _extra_caps(),
            )
            if up is not None:
                actions.append(up)
        prior_ids, prior_max = (
            _prior_mapping_ids(log_dir) if mapped_mode else ({}, 0)
        )
        actions.append(
            _metadata_action(
                tid, schema_json, partition_by,
                created if created is not None else timestamp_ms,
                column_mapping=cm if mapped_mode else None,
                prior_ids=prior_ids, prior_max_id=prior_max,
                extra_config=_feature_config(),
            )
        )

    if clustering is not None and clustering.get("newly"):
        # domainMetadata delta.clustering: the table's clustering
        # columns (Delta clustered-table state; latest-wins per
        # domain) — nested-array form per the spec, one single-element
        # path per top-level column
        actions.append(
            {
                "domainMetadata": {
                    "domain": "delta.clustering",
                    "configuration": json.dumps(
                        {
                            "clusteringColumns": [
                                [c] for c in clustering["columns"]
                            ]
                        }
                    ),
                    "removed": False,
                }
            }
        )
    if row_tracking is not None:
        # domainMetadata delta.rowTracking (latest-wins per domain in
        # replay/checkpoint): the fresh-row-id high-water mark every
        # spec-compliant row-tracking writer must advance through
        actions.append(
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": json.dumps(
                        {
                            "rowIdHighWaterMark": int(
                                row_tracking.get("high_water", -1)
                            )
                        }
                    ),
                    "removed": False,
                }
            }
        )

    def _rt_fields(rel: str) -> dict:
        """baseRowId/defaultRowCommitVersion for one file's add (or
        DV re-add — a re-added file KEEPS its ids; that is the whole
        stability contract)."""
        if row_tracking is None:
            return {}
        ent = (row_tracking.get("files") or {}).get(rel)
        if ent is None:
            return {}
        return {
            "baseRowId": ent["baseRowId"],
            "defaultRowCommitVersion": ent["defaultRowCommitVersion"],
        }

    for unit in removed_units:
        for rel, _size, _mtime, _pvals in _walk_parquet(table_path, os.path.join(data_dir_name, unit)):
            rm = {
                "path": _encode_path(rel),
                "deletionTimestamp": timestamp_ms,
                "dataChange": True,
                # optional per spec; carried so the version checksum
                # (.crc) can maintain tableSizeBytes incrementally
                "size": _size,
            }
            if rel in current_dvs:
                # reconciliation is keyed by (path, dvId): a remove
                # without the descriptor would not cancel the
                # DV-bearing add
                rm["deletionVector"] = current_dvs[rel]
            actions.append({"remove": rm})
    emitted_adds: set = set()
    for unit in new_units:
        for rel, size, mtime, pvals in _walk_parquet(table_path, os.path.join(data_dir_name, unit)):
            emitted_adds.add(rel)
            add = {
                "path": _encode_path(rel),
                "partitionValues": pvals,
                "size": size,
                "modificationTime": mtime,
                "dataChange": True,
                **_rt_fields(rel),
            }
            if dv_adds.get(rel) is not None:
                # a re-added unit (RESTORE) brings its deletions along
                add["deletionVector"] = dv_adds[rel]
            actions.append({"add": add})
    if row_tracking is not None and row_tracking.get("newly") and version > 0:
        # mid-history enablement BACKFILL (Delta's own enablement
        # shape): every live file already in the log re-commits its
        # add with baseRowId/defaultRowCommitVersion, dataChange=false
        # — reconciliation is last-add-wins by path, and without this
        # the external reader would resolve NULL ids for every
        # pre-enablement row while the engine returns real ones. The
        # prior add supplies partitionValues/size AND any live
        # deletionVector descriptor — re-adding without the descriptor
        # would resurrect the masked rows.
        prior_adds = _replay_state(table_path)["adds"]
        for rel in sorted(row_tracking.get("files") or {}):
            if rel in emitted_adds or rel in dv_adds:
                continue
            pa_act = prior_adds.get(rel)
            if pa_act is None:
                continue  # not in the mirror yet (fresh this commit)
            new_add = dict(pa_act)
            # _replay_state decodes action paths to fs form; re-encode
            new_add["path"] = _encode_path(rel)
            new_add["dataChange"] = False
            new_add.update(_rt_fields(rel))
            actions.append({"add": new_add})
    # DV swap: retract each affected file's previous incarnation and
    # re-add it with the new descriptor (same physical parquet)
    for rel in sorted(set(dv_adds) - emitted_adds):
        rm = {
            "path": _encode_path(rel),
            "deletionTimestamp": timestamp_ms,
            "dataChange": True,
            "size": os.stat(os.path.join(table_path, rel)).st_size,
        }
        if rel in current_dvs:
            rm["deletionVector"] = current_dvs[rel]
        actions.append({"remove": rm})
        full = os.path.join(table_path, rel)
        st = os.stat(full)
        from component_delta_lake_writer_spark.sinks.hive_layout import (
            decode_segments,
        )

        # partition values come from the hive dirs between the unit
        # dir and the file name (same derivation as _walk_parquet)
        parts = rel.split("/")
        mid = "/".join(parts[2:-1])  # data_dir/unit/<mid...>/file
        add = {
            "path": _encode_path(rel),
            "partitionValues": decode_segments(mid if mid else "."),
            "size": st.st_size,
            "modificationTime": int(st.st_mtime * 1000),
            "dataChange": True,
            **_rt_fields(rel),
        }
        if dv_adds[rel] is not None:
            add["deletionVector"] = dv_adds[rel]
        actions.append({"add": add})
    for rel, size in cdc_files or []:
        actions.append(
            {
                "cdc": {
                    "path": _encode_path(rel),
                    "partitionValues": {},
                    "size": int(size),
                    "dataChange": False,
                }
            }
        )
    commit_info = {
        "commitInfo": {
            "timestamp": timestamp_ms,
            "operation": operation,
            "engineInfo": "component-delta-lake-writer-spark",
        }
    }
    if ict is not None:
        # spec: under inCommitTimestamp, commitInfo MUST be the FIRST
        # action and carry the monotonic in-commit timestamp
        commit_info["commitInfo"]["inCommitTimestamp"] = int(
            ict["timestamp"]
        )
        actions.insert(0, commit_info)
    else:
        actions.append(commit_info)

    final = os.path.join(log_dir, f"{version:020d}.json")
    tmp = final + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    try:
        os.link(tmp, final)  # same conditional-publish as _commits
    except FileExistsError:
        pass  # a racing writer already published this version's entry
    finally:
        os.unlink(tmp)
    _write_version_crc(table_path, version, actions)
    return final


def _write_version_crc(
    table_path: str, version: int, actions: list[dict]
) -> None:
    """Delta VERSION CHECKSUM: ``{version}.crc`` next to each commit
    with the post-commit state aggregates (tableSizeBytes, numFiles,
    metadata, protocol) — what delta-spark emits per commit and uses
    to validate snapshot state. Maintained INCREMENTALLY from the
    previous version's .crc (+add sizes, -remove sizes; our removes
    carry the optional ``size``), falling back to one checkpoint-
    bounded replay when the previous .crc is missing or the commit
    re-adds live files (dataChange=false re-adds: row-tracking
    backfill / carried DV re-adds — reconciliation replaces by path,
    which per-aggregate increments cannot express)."""
    log_dir = os.path.join(table_path, _DELTA_LOG)
    adds = [a["add"] for a in actions if "add" in a]
    removes = [a["remove"] for a in actions if "remove" in a]
    meta = next((a["metaData"] for a in actions if "metaData" in a), None)
    proto = next((a["protocol"] for a in actions if "protocol" in a), None)
    prev_p = os.path.join(log_dir, f"{version - 1:020d}.crc")
    prev: dict | None = None
    if version > 0 and os.path.exists(prev_p):
        try:
            with open(prev_p) as f:
                prev = json.load(f)
        except ValueError:
            prev = None
    incremental = (
        (version == 0 or prev is not None)
        and all(a.get("dataChange", True) for a in adds)
        and all(r.get("size") is not None for r in removes)
    )
    if incremental:
        base_bytes = prev["tableSizeBytes"] if prev else 0
        base_files = prev["numFiles"] if prev else 0
        size = (
            base_bytes
            + sum(int(a["size"]) for a in adds)
            - sum(int(r["size"]) for r in removes)
        )
        nfiles = base_files + len(adds) - len(removes)
        meta = meta or (prev or {}).get("metadata")
        proto = proto or (prev or {}).get("protocol")
    else:
        st = _replay_state(table_path)
        size = sum(int(a["size"]) for a in st["adds"].values())
        nfiles = len(st["adds"])
        meta = meta or _latest_metadata(log_dir)
        pr = _log_last_protocol(log_dir)
        proto = proto or (pr["protocol"] if pr else None)
    crc = {
        "tableSizeBytes": int(size),
        "numFiles": int(nfiles),
        "numMetadata": 1,
        "numProtocol": 1,
        "metadata": meta,
        "protocol": proto,
    }
    final = os.path.join(log_dir, f"{version:020d}.crc")
    tmp = final + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(crc, f)
    os.replace(tmp, final)


def verify_version_checksum(table_path: str) -> dict:
    """Validate the latest ``.crc`` against a full checkpoint-aware
    replay (the integrity check a reader performs). Returns the crc on
    success; raises ValueError naming the diverging field."""
    log_dir = os.path.join(table_path, _DELTA_LOG)
    versions = _log_versions(log_dir)
    if not versions:
        raise ValueError("no log entries")
    v = versions[-1]
    p = os.path.join(log_dir, f"{v:020d}.crc")
    if not os.path.exists(p):
        raise ValueError(f"no .crc for version {v}")
    with open(p) as f:
        crc = json.load(f)
    st = _replay_state(table_path)
    size = sum(int(a["size"]) for a in st["adds"].values())
    if crc["tableSizeBytes"] != size:
        raise ValueError(
            f"tableSizeBytes diverges: crc={crc['tableSizeBytes']} "
            f"replay={size}"
        )
    if crc["numFiles"] != len(st["adds"]):
        raise ValueError(
            f"numFiles diverges: crc={crc['numFiles']} "
            f"replay={len(st['adds'])}"
        )
    return crc


_WRITER_LADDER_FEATURES = {
    2: {"appendOnly", "invariants"},
    3: {"checkConstraints"},
    4: {"generatedColumns", "changeDataFeed"},
    5: {"columnMapping"},
    6: {"identityColumns"},
}

# Features a READER must understand (everything else is writer-only)
_READER_RELEVANT = {
    "timestampNtz", "columnMapping", "typeWidening", "deletionVectors",
    "v2Checkpoint",
}

# What the in-repo external reader (read_delta_table) implements — the
# refuse-set for the spec's forward-compatibility rule
_READER_SUPPORTED = set(_READER_RELEVANT)


def _used_caps(schema_json: str, column_mapping: bool) -> set:
    """The capabilities the schema ACTUALLY uses — the requirement set
    protocol coverage is judged against (a legacy ladder version also
    implies features the table never touched; those must not count as
    requirements or a later schema change would spuriously escalate)."""
    caps = set()
    schema = json.loads(schema_json)
    for f in schema.get("fields", []):
        meta = f.get("metadata") or {}
        # feature markers live in field METADATA KEYS — probing the
        # raw JSON string would also match column names/comments
        if "delta.generationExpression" in meta:
            caps.add("generatedColumns")
        if any(k.startswith("delta.identity.") for k in meta):
            caps.add("identityColumns")
        if "CURRENT_DEFAULT" in meta:
            caps.add("allowColumnDefaults")
        if "delta.typeChanges" in meta:
            caps.add("typeWidening")
        if _type_uses_ntz(f.get("type")):
            caps.add("timestampNtz")
    if column_mapping:
        caps.add("columnMapping")
    return caps


def _supported_caps(p: dict) -> set:
    """Everything a protocol action grants: listed features for the
    table-features form, the full implied ladder for legacy versions,
    plus columnMapping for legacy reader >= 2 (the hybrid
    (2, 7, writerFeatures) shape carries its mapping grant in the
    READER version, not the feature list)."""
    pr = p["protocol"]
    caps: set = set()
    if "readerFeatures" in pr or "writerFeatures" in pr:
        caps |= set(pr.get("readerFeatures") or ())
        caps |= set(pr.get("writerFeatures") or ())
        if "readerFeatures" not in pr and pr["minReaderVersion"] >= 2:
            # the hybrid (2, 7, writerFeatures) shape: mapping granted
            # via the LEGACY reader version, feature list writer-only
            caps.add("columnMapping")
    else:
        for v in range(2, pr["minWriterVersion"] + 1):
            caps |= _WRITER_LADDER_FEATURES.get(v, set())
        if pr["minReaderVersion"] >= 2:
            caps.add("columnMapping")
    # NOTE: a feature-form protocol WITH readerFeatures grants exactly
    # what it lists — reader 3 alone must NOT imply columnMapping, or
    # enabling mapping on a timestampNtz table would emit no upgrade
    # and external readers would reject the unlisted feature.
    return caps


def _protocol_upgrade(prev: dict, new: dict, used: set) -> dict | None:
    """Delta never downgrades protocol: return the action to emit for
    this commit, or None when the previous protocol already covers
    ``used`` (the capabilities the NEW schema actually needs — NOT the
    ladder expansion of the derived action, which would count implied-
    but-unused features as requirements and escalate on capability
    LOSS). A shape-wise upgrade emits ``new`` verbatim; the (rare)
    mixed case emits the monotonic MAX as a table-features protocol —
    the spec's own rule for legacy→features conversion requires
    enumerating every implied ladder feature, which is exactly the
    supported-caps union."""
    if used <= _supported_caps(prev):
        return None  # covered (incl. capability loss): keep the prior
    sup_p, sup_n = _supported_caps(prev), _supported_caps(new)
    ppr, npr = prev["protocol"], new["protocol"]
    if (
        sup_n >= sup_p
        and npr["minReaderVersion"] >= ppr["minReaderVersion"]
        and npr["minWriterVersion"] >= ppr["minWriterVersion"]
    ):
        return new  # strict upgrade
    allf = sup_p | sup_n
    rf = sorted(allf & _READER_RELEVANT)
    if any(f != "columnMapping" for f in rf):
        mr = 3  # a genuinely feature-form reader requirement
    else:
        # columnMapping alone rides the legacy reader-2 grant; nothing
        # reader-relevant keeps whatever reader version already stood
        mr = max(npr["minReaderVersion"], ppr["minReaderVersion"])
        if "columnMapping" in rf:
            mr = max(mr, 2)
    out = {
        "minReaderVersion": mr,
        "minWriterVersion": 7,
        "writerFeatures": sorted(allf),
    }
    if mr >= 3:
        out["readerFeatures"] = rf
    return {"protocol": out}


def _log_last_protocol(log_dir: str) -> dict | None:
    """The most recent protocol action in the mirror (external readers
    hold the LAST one replayed), or None for a fresh log. Checkpoint-
    bounded like _latest_metadata — only v0 carries a protocol on a
    never-escalated table, and consulting the checkpoint's protocol
    row keeps the scan <=CHECKPOINT_INTERVAL files."""
    pr = _latest_action(log_dir, "protocol")
    return {"protocol": pr} if pr is not None else None


def _latest_action(log_dir: str, key: str) -> dict | None:
    """Most recent action of kind ``key`` ('metaData' / 'protocol'),
    CHECKPOINT-BOUNDED: JSON entries are scanned newest-first only
    down to the advertised checkpoint, whose own row answers for
    everything older. A never-evolved table keeps its only metaData at
    v0, so the unbounded newest-first scan was O(history) — paid by
    every rewrite commit's DV-config probe; with checkpoints every
    CHECKPOINT_INTERVAL commits this is <=interval file opens. Returns
    the action's INNER dict (already unwrapped)."""
    if not os.path.isdir(log_dir):
        return None
    ckpt_v: int | None = None
    last_cp: dict | None = None
    p = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(p):
        try:
            with open(p) as f:
                last_cp = json.load(f)
            ckpt_v = int(last_cp["version"])
        except (ValueError, KeyError):
            ckpt_v = None
            last_cp = None
    needle = f'"{key}"'
    for v in reversed(_log_versions(log_dir)):
        if ckpt_v is not None and v <= ckpt_v:
            break
        with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
            for line in f:
                if needle not in line:
                    continue
                a = json.loads(line)
                if key in a:
                    return a[key]
    if ckpt_v is None or last_cp is None:
        return None
    import pyarrow.parquet as pq

    # part 1 is enough: the writer pins protocol/metaData rows there
    rows = pq.read_table(
        _checkpoint_part_paths(log_dir, last_cp)[0],
        columns=[key],
    ).to_pylist()
    for r in rows:
        act = r.get(key)
        if act:
            # the checkpoint's struct columns materialize EVERY field
            # (absent JSON keys come back as None) — strip them so
            # presence checks ('readerFeatures' in protocol) behave as
            # on the JSON form; map-typed fields arrive as item pairs
            act = {k: v for k, v in act.items() if v is not None}
            if isinstance(act.get("configuration"), list):
                act["configuration"] = dict(act["configuration"])
            if isinstance(act.get("format"), dict):
                fmt = dict(act["format"])
                if isinstance(fmt.get("options"), list):
                    fmt["options"] = dict(fmt["options"])
                act["format"] = fmt
            return act
    return None


def _latest_metadata(log_dir: str) -> dict | None:
    return _latest_action(log_dir, "metaData")


def _log_has_mapping(log_dir: str) -> bool:
    """True iff the most recent metaData action in the mirror already
    enabled columnMapping mode=name (which the spec says can never be
    disabled) — consulted when a later schema evolution happens after
    all renames were materialized by a rewrite."""
    md = _latest_metadata(log_dir)
    if md is None:
        return False
    cfg = md.get("configuration") or {}
    return cfg.get("delta.columnMapping.mode") == "name"


def _log_has_dv_config(log_dir: str) -> bool:
    """True iff the most recent metaData already carries
    delta.enableDeletionVectors (set at first DV emission; like column
    mapping, the table feature never downgrades)."""
    md = _latest_metadata(log_dir)
    if md is None:
        return False
    cfg = md.get("configuration") or {}
    return cfg.get("delta.enableDeletionVectors") == "true"


def live_dv_descriptors(table_path: str) -> dict:
    """{table-relative fs path: deletionVector descriptor} of every
    live file currently carrying a DV, as an external reader sees it
    (checkpoint-aware replay of the log alone) — after every commit it
    equals the engine commit's ``deletion_vectors``."""
    _files, _schema, _pcols, dvs = _replay_full(table_path)
    return dvs


def _encode_path(rel: str) -> str:
    """Delta-spec action paths are PERCENT-ENCODED relative URIs: a
    hive-escaped directory like ``k=a%25b`` must emit as
    ``k=a%2525b`` or a spec-compliant reader URL-decodes it to a
    nonexistent ``k=a%b``. '=' stays literal (legal in URI path
    segments; the form every Delta writer produces for partition
    dirs). Plain hex/part-file names are identity-encoded, so logs of
    unpartitioned tables are byte-identical to before."""
    from urllib.parse import quote

    return quote(rel, safe="/=")


def _decode_path(rel: str) -> str:
    from urllib.parse import unquote

    return unquote(rel)


def _table_id(log_dir: str) -> str | None:
    v0 = os.path.join(log_dir, f"{0:020d}.json")
    if os.path.exists(v0):
        with open(v0) as f:
            for line in f:
                a = json.loads(line)
                if "metaData" in a:
                    return a["metaData"]["id"]
        return None
    # v0 cleaned up by metadata retention: the id is immutable and
    # every re-emission carries it, so the latest (checkpoint-bounded)
    # metaData answers identically
    md = _latest_metadata(log_dir)
    return md.get("id") if md else None


def _table_created_ms(log_dir: str) -> int | None:
    """v0's createdTime — fixed for the table's lifetime, carried
    through every metaData re-emission (same anchoring as _table_id),
    so the latest metaData is an equivalent source once v0 is cleaned
    up by metadata retention."""
    v0 = os.path.join(log_dir, f"{0:020d}.json")
    if os.path.exists(v0):
        with open(v0) as f:
            for line in f:
                a = json.loads(line)
                if "metaData" in a:
                    return a["metaData"].get("createdTime")
        return None
    md = _latest_metadata(log_dir)
    return md.get("createdTime") if md else None


def _replay_json(table_path: str):
    """Full-JSON replay → (live {path: dv descriptor | None}, schema,
    partitionColumns). Within one commit a DV swap is remove-then-add
    in action order, so last-add-wins by path reproduces the
    (path, dvId)-keyed reconciliation external readers perform."""
    log_dir = os.path.join(table_path, _DELTA_LOG)
    versions = _log_versions(log_dir)
    live: dict[str, dict | None] = {}
    schema: str | None = None
    partition_cols: list[str] = []
    for v in versions:
        with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
            for line in f:
                a = json.loads(line)
                if "metaData" in a:
                    schema = a["metaData"]["schemaString"]
                    partition_cols = a["metaData"]["partitionColumns"]
                elif "add" in a:
                    live[a["add"]["path"]] = a["add"].get("deletionVector")
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
    return live, schema, partition_cols


def replay_delta_log(table_path: str) -> tuple[list[str], str | None, list[str]]:
    """Reconstruct the live snapshot purely from ``_delta_log/`` —
    (live file paths relative to the table root, schemaString,
    partitionColumns). This is what any external Delta reader does;
    used by tests and the delta-read probe to prove the log is
    self-describing (never consults ``_commits``)."""
    live, schema, partition_cols = _replay_json(table_path)
    # action paths are spec percent-encoded; callers get FILESYSTEM
    # paths back (what any external reader does after URL-decoding)
    return sorted(_decode_path(p) for p in live), schema, partition_cols


def read_delta_table(spark, table_path: str):
    """What a spec-compliant external Delta reader does with this
    mirror: checkpoint-aware replay → schemaString → scan the live
    files, resolving columns through ``delta.columnMapping.
    physicalName`` field metadata when the table uses columnMapping
    mode=name (RENAME COLUMN tables), and SKIPPING the row positions
    each add's ``deletionVector`` marks deleted (parsed from the
    binary DV file; row identity is the parquet ``_metadata.row_index``
    — the position the descriptor's bitmap indexes).

    Partitioned tables read per the spec's rule: a partition column's
    values come from the add action's ``partitionValues`` (never from
    the data files, which do not store them) — files group by their
    partition tuple and each group scans with the tuple attached as
    typed literals. Plan size is O(#distinct live partition tuples),
    the same shape any log-driven reader produces before engine-side
    scan planning."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from component_delta_lake_writer_spark.session import local_relation
    from component_delta_lake_writer_spark.sinks.deletion_vectors import (
        read_dv,
    )

    # Forward-compatibility gate (the spec's FIRST reader rule): a
    # reader must refuse tables whose protocol demands a reader
    # version or reader feature it does not implement — guessing
    # yields silently-wrong rows (unapplied DVs, unresolved column
    # mapping). This reader implements everything the engine writes.
    pr = _log_last_protocol(os.path.join(table_path, _DELTA_LOG))
    if pr is not None:
        p = pr["protocol"]
        if int(p.get("minReaderVersion", 1)) > 3:
            raise ValueError(
                f"unsupported minReaderVersion {p['minReaderVersion']}"
            )
        unknown = set(p.get("readerFeatures") or ()) - _READER_SUPPORTED
        if unknown:
            raise ValueError(
                f"unsupported reader features: {sorted(unknown)}"
            )

    st = _replay_state(table_path)
    files = sorted(st["adds"])
    schema_str, pcols = st["schema"], st["pcols"]
    dvs = {
        p: a["deletionVector"]
        for p, a in st["adds"].items()
        if a.get("deletionVector") is not None
    }
    sj = json.loads(schema_str)
    logical = T.StructType.fromJson(sj)
    if pcols:
        return _read_partitioned(
            spark, table_path, st, logical, pcols, read_dv
        )
    phys_names = [
        (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in sj.get("fields", [])
    ]
    physical = T.StructType(
        [
            T.StructField(pn, lf.dataType, lf.nullable)
            for pn, lf in zip(phys_names, logical.fields)
        ]
    )
    if not files:
        # zero live files (everything deleted/overwritten-empty):
        # an empty relation under the physical schema, not IndexError
        df = local_relation(spark, physical)
        return df.select(
            *[
                df[pn].alias(lf.name)
                for pn, lf in zip(phys_names, logical.fields)
            ]
        )
    parts = []
    clean = [f for f in files if f not in dvs]
    if clean:
        parts.append(
            spark.read.schema(physical).parquet(
                *[os.path.join(table_path, f) for f in clean]
            )
        )
    for f in files:
        if f not in dvs:
            continue
        idx = read_dv(table_path, dvs[f])
        df_f = (
            spark.read.schema(physical)
            .parquet(os.path.join(table_path, f))
            .withColumn("_dv_ri", F.col("_metadata.row_index"))
        )
        dropped = local_relation(spark, "_dv_ri bigint", [idx])
        parts.append(
            df_f.join(F.broadcast(dropped), "_dv_ri", "left_anti").drop(
                "_dv_ri"
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df.select(
        *[
            df[pn].alias(lf.name)
            for pn, lf in zip(phys_names, logical.fields)
        ]
    )


def _read_partitioned(spark, table_path, st, logical, pcols, read_dv):
    """Partitioned branch of ``read_delta_table``: per the protocol,
    partition column values live ONLY in each add's
    ``partitionValues`` (string-encoded; None = null) — reconstruct
    them as typed literal columns per partition-tuple file group.
    Partition columns never rename in this engine, so names are
    identity; the remaining columns resolve physicalName as usual."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from component_delta_lake_writer_spark.session import local_relation

    pset = set(pcols)
    data_fields = [f for f in logical.fields if f.name not in pset]
    sj_fields = {
        f["name"]: f for f in json.loads(st["schema"]).get("fields", [])
    }
    phys = {
        f.name: (sj_fields[f.name].get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f.name
        )
        for f in data_fields
    }
    physical = T.StructType(
        [
            T.StructField(phys[f.name], f.dataType, f.nullable)
            for f in data_fields
        ]
    )
    ftypes = {f.name: f.dataType for f in logical.fields}
    groups: dict[tuple, list[str]] = {}
    for p, a in st["adds"].items():
        pv = a.get("partitionValues") or {}
        if isinstance(pv, list):  # checkpoint map comes back as pairs
            pv = dict(pv)
        key = tuple((c, pv.get(c)) for c in pcols)
        groups.setdefault(key, []).append(p)
    parts = []
    # nulls sort first (key tuples may carry None partition values)
    for key, paths in sorted(
        groups.items(),
        key=lambda kv: [(v is not None, v or "") for _c, v in kv[0]],
    ):
        clean = [
            p for p in paths
            if st["adds"][p].get("deletionVector") is None
        ]
        masked = [p for p in paths if p not in set(clean)]
        for batch, dv in (
            [(clean, None)] if clean else []
        ) + [([p], st["adds"][p]["deletionVector"]) for p in masked]:
            df = spark.read.schema(physical).parquet(
                *[os.path.join(table_path, p) for p in batch]
            )
            if dv is not None:
                idx = read_dv(table_path, dv)
                df = (
                    df.withColumn("_dv_ri", F.col("_metadata.row_index"))
                    .join(
                        F.broadcast(
                            local_relation(spark, "_dv_ri bigint", [idx])
                        ),
                        "_dv_ri",
                        "left_anti",
                    )
                    .drop("_dv_ri")
                )
            cols = []
            pvals = dict(key)
            for f in logical.fields:
                if f.name in pset:
                    cols.append(
                        F.lit(pvals[f.name]).cast(ftypes[f.name]).alias(
                            f.name
                        )
                    )
                else:
                    cols.append(df[phys[f.name]].alias(f.name))
            parts.append(df.select(*cols))
    if not parts:
        return local_relation(spark, logical)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_delta_table_row_ids(spark, table_path: str):
    """External ROW-TRACKING reader: the data of ``read_delta_table``
    plus each row's stable ``_row_id`` / ``_row_commit_version``,
    resolved from the MIRROR ALONE — proof that ``_delta_log`` carries
    complete row identity with no help from the engine's ``_commits``:

    - fresh ids: the add action's ``baseRowId`` + the row's parquet
      ``_metadata.row_index``, attributed to ``defaultRowCommitVersion``
    - preserved ids: the materialized columns named by the metaData's
      ``delta.rowTracking.materializedRow*ColumnName`` properties
      (written by dataChange=false rewrites) COALESCE over the fresh
      arithmetic — exactly the spec's resolution order
    - rows masked by a ``deletionVector`` are skipped first

    Unpartitioned tables only (same probe surface as
    ``read_delta_table``)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from component_delta_lake_writer_spark.session import local_relation
    from component_delta_lake_writer_spark.sinks.deletion_vectors import (
        read_dv,
    )

    st = _replay_state(table_path)
    if st["pcols"]:
        raise ValueError(
            "read_delta_table_row_ids handles unpartitioned tables"
        )
    cfg = st["config"]
    if str(cfg.get("delta.enableRowTracking")).lower() != "true":
        raise ValueError("table does not advertise delta.enableRowTracking")
    mat_id = cfg.get("delta.rowTracking.materializedRowIdColumnName")
    mat_rcv = cfg.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    sj = json.loads(st["schema"])
    logical = T.StructType.fromJson(sj)
    phys_names = [
        (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in sj.get("fields", [])
    ]
    physical = T.StructType(
        [
            T.StructField(pn, lf.dataType, lf.nullable)
            for pn, lf in zip(phys_names, logical.fields)
        ]
        + [
            T.StructField(c, T.LongType(), True)
            for c in (mat_id, mat_rcv)
            if c
        ]
    )
    out_schema = T.StructType(
        list(logical.fields)
        + [
            T.StructField("_row_id", T.LongType(), True),
            T.StructField("_row_commit_version", T.LongType(), True),
        ]
    )
    if not st["adds"]:
        # zero live files (empty create / everything deleted): an
        # empty relation under the id-extended logical schema
        return local_relation(spark, out_schema)
    adds = st["adds"]
    base = local_relation(
        spark,
        "_f string, _base long, _dcv long",
        [
            list(adds),
            [a.get("baseRowId") for a in adds.values()],
            [a.get("defaultRowCommitVersion") for a in adds.values()],
        ],
    )

    def _one(paths: list[str], dv_idx=None):
        # join key = the table-relative path exactly as add actions
        # spell it ("_data/<unit>/<file>"): the scan's file_path is a
        # file: URI, so take the suffix after the table's data dir
        df = spark.read.schema(physical).parquet(*paths).withColumn(
            "_f",
            F.concat(
                F.lit("_data/"),
                F.substring_index(
                    F.col("_metadata.file_path"), "/_data/", -1
                ),
            ),
        ).withColumn("_ri", F.col("_metadata.row_index"))
        if dv_idx is not None:
            dropped = local_relation(spark, "_ri bigint", [dv_idx])
            df = df.join(F.broadcast(dropped), "_ri", "left_anti")
        return df

    parts = []
    clean = [
        p for p, a in st["adds"].items()
        if a.get("deletionVector") is None
    ]
    if clean:
        parts.append(
            _one([os.path.join(table_path, p) for p in clean])
        )
    for p, a in st["adds"].items():
        if a.get("deletionVector") is None:
            continue
        parts.append(
            _one(
                [os.path.join(table_path, p)],
                read_dv(table_path, a["deletionVector"]),
            )
        )
    df = parts[0]
    for x in parts[1:]:
        df = df.unionByName(x)
    df = df.join(F.broadcast(base), "_f", "left")
    rid = F.col("_base") + F.col("_ri")
    rcv = F.col("_dcv")
    if mat_id:
        rid = F.coalesce(F.col(mat_id), rid)
    if mat_rcv:
        rcv = F.coalesce(F.col(mat_rcv), rcv)
    return df.select(
        *[
            df[pn].alias(lf.name)
            for pn, lf in zip(phys_names, logical.fields)
        ],
        rid.alias("_row_id"),
        rcv.alias("_row_commit_version"),
    )


# ---------------------------------------------------------------------------
# Checkpoints (Delta protocol §checkpoints): every CHECKPOINT_INTERVAL
# commits, the reconstructed state (protocol + metaData + live add
# actions) is written as {version:020d}.checkpoint.parquet and
# advertised in _last_checkpoint. Readers then load one parquet file +
# the JSON entries after it instead of replaying the whole log — the
# thing that keeps open-table reads O(1) as commit history grows, and
# what lets delta-rs/Spark eventually truncate old JSON.
# ---------------------------------------------------------------------------

CHECKPOINT_INTERVAL = 10

# Multi-part classic checkpoints (PROTOCOL.md §checkpoints): past this
# many action rows, the checkpoint splits into
# ``{version}.checkpoint.{part}.{parts}.parquet`` files and
# ``_last_checkpoint`` advertises ``parts`` — at 100 TB a snapshot is
# millions of add rows, and a single-file checkpoint becomes both the
# write bottleneck and an unsplittable read. Protocol/metaData rows
# always land in part 1 so metadata probes open one file.
CHECKPOINT_PART_ROWS = 50_000


def _checkpoint_part_paths(log_dir: str, last: dict) -> list[str]:
    """The checkpoint parquet file(s) ``_last_checkpoint`` advertises —
    one legacy single-file path, the spec-named part series, or the
    V2 UUID-named manifest (discovered by listing, per the v2 spec —
    ``_last_checkpoint`` carries only {version, size})."""
    v = int(last["version"])
    parts = int(last.get("parts") or 0)
    if parts:
        return [
            os.path.join(
                log_dir,
                f"{v:020d}.checkpoint.{i:010d}.{parts:010d}.parquet",
            )
            for i in range(1, parts + 1)
        ]
    classic = os.path.join(log_dir, f"{v:020d}.checkpoint.parquet")
    if os.path.exists(classic):
        return [classic]
    import glob as _glob

    uuids = sorted(
        p
        for p in _glob.glob(
            os.path.join(log_dir, f"{v:020d}.checkpoint.*.parquet")
        )
        if ".tmp." not in p
    )
    if uuids:
        return [uuids[-1]]  # any complete manifest is equivalent
    return [classic]


def _read_version_actions(log_dir: str, version: int) -> list[dict]:
    with open(os.path.join(log_dir, f"{version:020d}.json")) as f:
        return [json.loads(line) for line in f]


def _dv_pa_field():
    """deletionVector struct for checkpoint add/remove rows — a
    checkpoint that dropped descriptors would resurrect deleted rows
    for every reader loading from it."""
    import pyarrow as pa

    return pa.field(
        "deletionVector",
        pa.struct(
            [
                pa.field("storageType", pa.string()),
                pa.field("pathOrInlineDv", pa.string()),
                pa.field("offset", pa.int32()),
                pa.field("sizeInBytes", pa.int32()),
                pa.field("cardinality", pa.int64()),
            ]
        ),
    )


def write_checkpoint(
    table_path: str, version: int, part_rows: int | None = None
) -> str:
    """Materialize the state at ``version`` into a checkpoint parquet
    (one row per action; null struct columns for the other kinds — the
    protocol's flattened-action layout) + ``_last_checkpoint``. Past
    ``part_rows`` (default CHECKPOINT_PART_ROWS) action rows the
    checkpoint becomes the spec's multi-part series. Returns the
    (first) checkpoint file path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _DV_PA_FIELD = _dv_pa_field()

    log_dir = os.path.join(table_path, _DELTA_LOG)
    protocol: dict | None = None
    metadata: dict | None = None
    live: dict[str, dict] = {}
    tombstones: dict[str, dict] = {}
    txns: dict[str, dict] = {}
    domains: dict[str, dict] = {}
    # Seed from the previous checkpoint when one exists: (a) the cost
    # of checkpointing becomes O(interval + snapshot) instead of
    # O(full history), and (b) after metadata cleanup
    # (cleanup_metadata) the JSON below the checkpoint no longer
    # exists to replay.
    start_v = 0
    prev_cp = read_last_checkpoint(table_path)
    if prev_cp is not None and int(prev_cp["version"]) < version:
        import pyarrow.parquet as _pq

        def _cp_rows():
            for path in _checkpoint_part_paths(log_dir, prev_cp):
                for r in _pq.read_table(path).to_pylist():
                    if r.get("sidecar"):
                        side = os.path.join(
                            log_dir, "_sidecars", r["sidecar"]["path"]
                        )
                        yield from _pq.read_table(side).to_pylist()
                    else:
                        yield r

        for r in _cp_rows():
            if r.get("protocol"):
                protocol = {
                    k: v for k, v in r["protocol"].items()
                    if v is not None
                }
            elif r.get("metaData"):
                metadata = r["metaData"]
            elif r.get("txn"):
                txns[r["txn"]["appId"]] = r["txn"]
            elif r.get("domainMetadata"):
                domains[r["domainMetadata"]["domain"]] = (
                    r["domainMetadata"]
                )
            elif r.get("add"):
                live[r["add"]["path"]] = r["add"]
            elif r.get("remove"):
                tombstones[r["remove"]["path"]] = r["remove"]
        start_v = int(prev_cp["version"]) + 1
    for v in range(start_v, version + 1):
        for a in _read_version_actions(log_dir, v):
            if "protocol" in a:
                protocol = a["protocol"]
            elif "metaData" in a:
                metadata = a["metaData"]
            elif "txn" in a:
                # latest setTransaction per appId — the spec REQUIRES
                # checkpoints to carry these; an external idempotent
                # writer replaying from the checkpoint would otherwise
                # find no watermark and re-apply committed batches
                txns[a["txn"]["appId"]] = a["txn"]
            elif "domainMetadata" in a:
                # latest per domain (spec: checkpoints carry domain
                # metadata; a row-tracking reader loading from the
                # checkpoint needs the rowIdHighWaterMark)
                domains[a["domainMetadata"]["domain"]] = a["domainMetadata"]
            elif "add" in a:
                live[a["add"]["path"]] = a["add"]
                tombstones.pop(a["add"]["path"], None)
            elif "remove" in a:
                live.pop(a["remove"]["path"], None)
                tombstones[a["remove"]["path"]] = a["remove"]

    # One row carries protocol, one carries metaData, one per live
    # file, one per unexpired remove tombstone (the spec requires
    # tombstones inside the retention window so readers reconciling
    # against stale listings do not resurrect removed files; every
    # tombstone since log start is kept — a superset of any retention
    # window, and harmless to replay).
    def _row(**kw) -> dict:
        base = {"protocol": None, "metaData": None, "add": None,
                "remove": None, "txn": None, "domainMetadata": None}
        base.update(kw)
        return base

    rows = [_row(protocol=protocol), _row(metaData=metadata)]
    rows += [_row(add=add) for add in live.values()]
    rows += [_row(remove=rm) for rm in tombstones.values()]
    rows += [_row(txn=t) for t in txns.values()]
    rows += [_row(domainMetadata=d) for d in domains.values()]

    schema = pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [
                        pa.field("minReaderVersion", pa.int32()),
                        pa.field("minWriterVersion", pa.int32()),
                        # readerFeatures/writerFeatures are REQUIRED
                        # whenever the versions are 3/7 (e.g.
                        # timestampNtz tables); dropping them here
                        # would advertise an invalid protocol row that
                        # spec-compliant readers reject
                        pa.field("readerFeatures", pa.list_(pa.string())),
                        pa.field("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        pa.field("id", pa.string()),
                        pa.field("name", pa.string()),
                        pa.field("description", pa.string()),
                        pa.field(
                            "format",
                            pa.struct(
                                [
                                    pa.field("provider", pa.string()),
                                    pa.field(
                                        "options", pa.map_(pa.string(), pa.string())
                                    ),
                                ]
                            ),
                        ),
                        pa.field("schemaString", pa.string()),
                        pa.field("partitionColumns", pa.list_(pa.string())),
                        pa.field(
                            "configuration", pa.map_(pa.string(), pa.string())
                        ),
                        pa.field("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field(
                            "partitionValues", pa.map_(pa.string(), pa.string())
                        ),
                        pa.field("size", pa.int64()),
                        pa.field("modificationTime", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                        _DV_PA_FIELD,
                        # rowTracking: ids must survive the checkpoint
                        # or readers loading from it lose row identity
                        pa.field("baseRowId", pa.int64()),
                        pa.field("defaultRowCommitVersion", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "remove",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("deletionTimestamp", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                        _DV_PA_FIELD,
                    ]
                ),
            ),
            pa.field(
                "txn",
                pa.struct(
                    [
                        pa.field("appId", pa.string()),
                        pa.field("version", pa.int64()),
                        pa.field("lastUpdated", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "domainMetadata",
                pa.struct(
                    [
                        pa.field("domain", pa.string()),
                        pa.field("configuration", pa.string()),
                        pa.field("removed", pa.bool_()),
                    ]
                ),
            ),
        ]
    )
    # map-typed fields arrive as dicts; pyarrow wants item lists
    def _maps(action: dict | None, keys: tuple[str, ...]) -> dict | None:
        if action is None:
            return None
        out = dict(action)
        for k in keys:
            if isinstance(out.get(k), dict):
                out[k] = list(out[k].items())
        return out

    def _norm_meta(m: dict | None) -> dict | None:
        if m is None:
            return None
        out = _maps(m, ("configuration",))
        out["format"] = _maps(m.get("format"), ("options",))
        return out

    norm_rows = [
        {
            "protocol": r["protocol"],
            "metaData": _norm_meta(r["metaData"]),
            "add": _maps(r["add"], ("partitionValues",)),
            "remove": r["remove"],
            "txn": r["txn"],
            "domainMetadata": r["domainMetadata"],
        }
        for r in rows
    ]
    # v2 checkpoints (PROTOCOL.md §V2 Spec; delta.checkpointPolicy=v2):
    # file actions move to sidecar parquet files under
    # _delta_log/_sidecars/, and a UUID-named manifest carries
    # checkpointMetadata + protocol/metaData/txn/domainMetadata +
    # one `sidecar` action per sidecar file. At 100 TB this is the
    # modern layout: the snapshot's millions of add rows split across
    # independently-readable sidecars while metadata probes open one
    # small manifest.
    md_now = _latest_metadata(log_dir) or {}
    if (md_now.get("configuration") or {}).get(
        "delta.checkpointPolicy"
    ) == "v2":
        return _write_checkpoint_v2(
            log_dir, version, norm_rows, schema, part_rows
        )

    # floor 2: protocol AND metaData must land in part 1 together —
    # _latest_action reads only part 1, and a cap of 1 would strand
    # metaData in part 2 (forgetting column-mapping ids / sticky DV
    # config on the next re-emission)
    part_cap = max(2, part_rows or CHECKPOINT_PART_ROWS)
    if len(norm_rows) > part_cap:
        # multi-part checkpoint: split the action rows across
        # spec-named part files (protocol/metaData ride in part 1 by
        # row order). Each part publishes via tmp+rename; the series
        # becomes visible only through _last_checkpoint's "parts".
        chunks = [
            norm_rows[i:i + part_cap]
            for i in range(0, len(norm_rows), part_cap)
        ]
        n = len(chunks)
        last = {"version": version, "size": len(norm_rows), "parts": n}
        paths = _checkpoint_part_paths(log_dir, last)
        for chunk, final in zip(chunks, paths):
            t = pa.Table.from_pylist(chunk, schema=schema)
            tmp_pq = final + f".tmp.{uuid.uuid4().hex}"
            pq.write_table(t, tmp_pq)
            os.replace(tmp_pq, final)
        out_path = paths[0]
    else:
        table = pa.Table.from_pylist(norm_rows, schema=schema)
        final = os.path.join(
            log_dir, f"{version:020d}.checkpoint.parquet"
        )
        # tmp + atomic rename (same publish pattern as
        # _last_checkpoint): a reader that discovers checkpoints by
        # listing the log dir must never open a partially written
        # parquet file
        tmp_pq = final + f".tmp.{uuid.uuid4().hex}"
        pq.write_table(table, tmp_pq)
        os.replace(tmp_pq, final)
        last = {"version": version, "size": table.num_rows}
        out_path = final
    tmp = os.path.join(log_dir, f"_last_checkpoint.tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(last, f)
    os.replace(tmp, os.path.join(log_dir, "_last_checkpoint"))
    return out_path


def _write_checkpoint_v2(
    log_dir: str,
    version: int,
    norm_rows: list[dict],
    classic_schema,
    part_rows: int | None,
) -> str:
    """V2 checkpoint layout: add/remove rows go to sidecar parquet
    files under ``_delta_log/_sidecars/{uuid}.parquet``; the manifest
    ``{version}.checkpoint.{uuid}.parquet`` carries checkpointMetadata
    first, then protocol/metaData/txn/domainMetadata rows, then one
    ``sidecar`` action per sidecar file. ``_last_checkpoint`` keeps
    advertising {version, size} so discovery stays O(1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    file_rows = [
        r for r in norm_rows if r.get("add") or r.get("remove")
    ]
    meta_rows = [
        r
        for r in norm_rows
        if not (r.get("add") or r.get("remove"))
        # classic padding rows (all-null) have no place in a manifest
        and any(v is not None for v in r.values())
    ]
    by_name = {f.name: f for f in classic_schema}
    sidecar_schema = pa.schema([by_name["add"], by_name["remove"]])
    sidecar_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(sidecar_dir, exist_ok=True)
    part_cap = max(1, part_rows or CHECKPOINT_PART_ROWS)
    chunks = [
        file_rows[i:i + part_cap]
        for i in range(0, len(file_rows), part_cap)
    ] or [[]]
    sidecar_actions: list[dict] = []
    for chunk in chunks:
        t = pa.Table.from_pylist(
            [{"add": r["add"], "remove": r["remove"]} for r in chunk],
            schema=sidecar_schema,
        )
        name = f"{uuid.uuid4().hex}.parquet"
        final = os.path.join(sidecar_dir, name)
        tmp = final + f".tmp.{uuid.uuid4().hex}"
        pq.write_table(t, tmp)
        os.replace(tmp, final)
        st = os.stat(final)
        sidecar_actions.append(
            {
                "path": name,  # relative to _delta_log/_sidecars/
                "sizeInBytes": int(st.st_size),
                "modificationTime": int(st.st_mtime * 1000),
            }
        )
    manifest_schema = pa.schema(
        list(classic_schema)
        + [
            pa.field(
                "checkpointMetadata",
                pa.struct([pa.field("version", pa.int64())]),
            ),
            pa.field(
                "sidecar",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("sizeInBytes", pa.int64()),
                        pa.field("modificationTime", pa.int64()),
                    ]
                ),
            ),
        ]
    )

    def _mrow(**kw) -> dict:
        base = {f.name: None for f in manifest_schema}
        base.update(kw)
        return base

    manifest_rows = [
        _mrow(checkpointMetadata={"version": version})
    ]
    manifest_rows += [_mrow(**r) for r in meta_rows]
    manifest_rows += [_mrow(sidecar=s) for s in sidecar_actions]
    table = pa.Table.from_pylist(manifest_rows, schema=manifest_schema)
    final = os.path.join(
        log_dir, f"{version:020d}.checkpoint.{uuid.uuid4().hex}.parquet"
    )
    tmp = final + f".tmp.{uuid.uuid4().hex}"
    pq.write_table(table, tmp)
    os.replace(tmp, final)
    last = {
        "version": version,
        "size": len(manifest_rows) + len(file_rows),
    }
    tmp = os.path.join(
        log_dir, f"_last_checkpoint.tmp.{uuid.uuid4().hex}"
    )
    with open(tmp, "w") as f:
        json.dump(last, f)
    os.replace(tmp, os.path.join(log_dir, "_last_checkpoint"))
    return final


def maybe_write_checkpoint(
    table_path: str,
    version: int,
    interval: int = CHECKPOINT_INTERVAL,
    properties: dict | None = None,
) -> str | None:
    """Checkpoint when the version hits the interval boundary (the
    Delta default is every 10 commits)."""
    # delta.checkpointInterval: per-table cadence override (a
    # high-frequency writer checkpoints more often so readers replay
    # less; an archival table checkpoints rarely). Read from the
    # caller's commit properties — zero extra IO on the hot path.
    try:
        iv = int(
            (properties or {}).get("delta.checkpointInterval", interval)
        )
        if iv >= 1:
            interval = iv
    except (TypeError, ValueError):
        pass
    if (version + 1) % interval == 0:
        out = write_checkpoint(table_path, version)
        # delta-spark behavior: expired-log cleanup piggybacks on
        # checkpointing, gated on delta.enableExpiredLogCleanup
        # (default true) with delta.logRetentionDuration (default
        # "interval 30 days") — so tests and short-lived tables never
        # lose history unless they opt into a shorter retention.
        log_dir = os.path.join(table_path, _DELTA_LOG)
        cfg = (_latest_metadata(log_dir) or {}).get("configuration") or {}
        if str(cfg.get("delta.enableExpiredLogCleanup", "true")).lower() != "false":
            try:
                cleanup_metadata(
                    table_path,
                    retention_ms=_parse_interval_ms(
                        cfg.get("delta.logRetentionDuration")
                    ),
                )
            except OSError:
                pass  # cleanup is best-effort housekeeping
        return out
    return None


def _parse_interval_ms(spec: str | None) -> int:
    """Delta duration properties: ``interval <n> <unit>`` (also bare
    ``<n> <unit>``); unknown/absent => the 30-day default."""
    default = 30 * 24 * 3600 * 1000
    if not spec:
        return default
    parts = str(spec).strip().lower().split()
    if parts and parts[0] == "interval":
        parts = parts[1:]
    if len(parts) != 2:
        return default
    try:
        n = float(parts[0])
    except ValueError:
        return default
    unit = parts[1].rstrip("s")
    scale = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60 * 1000,
        "hour": 3600 * 1000,
        "day": 24 * 3600 * 1000,
        "week": 7 * 24 * 3600 * 1000,
    }.get(unit)
    if scale is None:
        return default
    return int(n * scale)


def read_delta_table_changes(
    spark,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
):
    """External table_changes (Delta CDF): compute the changed rows of
    commits in (from_version, to_version] FROM THE MIRROR ALONE —
    ``cdc`` actions when a commit carries them (the spec's signal that
    add/remove derivation is wrong for it), else adds with
    ``dataChange=true`` read as inserts. Returns the table columns +
    ``_change_type`` + ``_commit_version`` — what
    ``table_changes(t, v)`` yields minus the wall-clock timestamp
    column. Raises on a changing commit that neither carries cdc
    actions nor is derivable (a rewrite without CDF enabled), like
    delta-spark does."""
    from pyspark.sql import functions as F

    log_dir = os.path.join(table_path, _DELTA_LOG)
    versions = [
        v
        for v in _log_versions(log_dir)
        if v > from_version
        and (to_version is None or v <= to_version)
    ]
    if not versions:
        raise ValueError(
            f"no log entries after version {from_version}"
        )
    # metadata cleanup may have reclaimed the range's early entries:
    # every requested version must still exist, or the feed would
    # silently skip committed changes (delta-spark raises the same
    # way when CDF is requested below the earliest available version)
    missing = sorted(
        set(range(from_version + 1, versions[-1] + 1)) - set(versions)
    )
    if missing:
        raise ValueError(
            f"log entries for versions {missing[:5]}… were cleaned up "
            "(metadata retention); start from a retained version"
        )
    out = None

    def _with_meta(df, ct: str | None, v: int):
        if ct is not None:
            df = df.withColumn("_change_type", F.lit(ct))
        return df.withColumn("_commit_version", F.lit(v).cast("long"))

    for v in versions:
        actions = _read_version_actions(log_dir, v)
        cdc = [a["cdc"] for a in actions if "cdc" in a]
        if cdc:
            files = [
                os.path.join(table_path, _decode_path(c["path"]))
                for c in cdc
            ]
            df = _with_meta(spark.read.parquet(*files), None, v)
        else:
            adds = [
                a["add"]
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            ]
            removes = [
                a["remove"]
                for a in actions
                if "remove" in a
                and a["remove"].get("dataChange", True)
            ]
            if removes:
                raise ValueError(
                    f"version {v} removes data without cdc actions — "
                    "not derivable (enable delta.enableChangeDataFeed)"
                )
            if not adds:
                continue  # metadata-only commit
            files = [
                os.path.join(table_path, _decode_path(a["path"]))
                for a in adds
            ]
            df = _with_meta(spark.read.parquet(*files), "insert", v)
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=True
        )
    if out is None:
        raise ValueError(
            f"no data-changing commits after version {from_version}"
        )
    return out


def write_log_compaction(
    table_path: str, start: int, end: int
) -> str:
    """Delta minor log compaction: ``{start}.{end}.compacted.json``
    holds the RECONCILED actions of versions [start, end] — replaying
    it is equivalent to replaying the range's JSON entries in order.
    The original entries stay (compaction is a read optimization, not
    retention); readers that know the format open one file instead of
    ``end - start + 1``. At a 100 TB table's commit rates this is what
    keeps the post-checkpoint tail cheap between checkpoints.

    Reconciliation: final add per path (adds superseded or removed
    within the range drop out), remove tombstones for paths removed
    in-range and not re-added after (files added before the range need
    them), latest metaData/protocol in range, latest txn per appId,
    latest domainMetadata per domain."""
    log_dir = os.path.join(table_path, _DELTA_LOG)
    if start > end:
        raise ValueError(f"bad compaction range [{start}, {end}]")
    adds: dict[str, dict] = {}
    removes: dict[str, dict] = {}
    meta: dict | None = None
    proto: dict | None = None
    txns: dict[str, dict] = {}
    domains: dict[str, dict] = {}
    for v in range(start, end + 1):
        for a in _read_version_actions(log_dir, v):
            if "add" in a:
                adds[a["add"]["path"]] = a["add"]
                removes.pop(a["add"]["path"], None)
            elif "remove" in a:
                removes[a["remove"]["path"]] = a["remove"]
                adds.pop(a["remove"]["path"], None)
            elif "metaData" in a:
                meta = a["metaData"]
            elif "protocol" in a:
                proto = a["protocol"]
            elif "txn" in a:
                txns[a["txn"]["appId"]] = a["txn"]
            elif "domainMetadata" in a:
                domains[a["domainMetadata"]["domain"]] = a["domainMetadata"]
    actions: list[dict] = []
    if proto is not None:
        actions.append({"protocol": proto})
    if meta is not None:
        actions.append({"metaData": meta})
    actions += [{"txn": t} for t in txns.values()]
    actions += [{"domainMetadata": d} for d in domains.values()]
    actions += [{"remove": r} for r in removes.values()]
    actions += [{"add": a} for a in adds.values()]
    final = os.path.join(
        log_dir, f"{start:020d}.{end:020d}.compacted.json"
    )
    tmp = final + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    os.replace(tmp, final)
    return final


def _compacted_ranges(log_dir: str) -> dict[int, int]:
    """{start: end} of available minor-compaction files."""
    import re as _re

    out: dict[int, int] = {}
    pat = _re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")
    for f in os.listdir(log_dir):
        m = pat.match(f)
        if m:
            a, b = int(m.group(1)), int(m.group(2))
            # prefer the widest range starting at a
            if a not in out or b > out[a]:
                out[a] = b
    return out


def cleanup_metadata(
    table_path: str,
    retention_ms: int = 30 * 24 * 3600 * 1000,
    now_ms: int | None = None,
) -> int:
    """Delta's log retention (delta.logRetentionDuration, default 30
    days): delete commit JSON entries and checkpoint files strictly
    OLDER than the advertised checkpoint once they age out of the
    retention window, plus sidecar files no remaining manifest
    references. External readers replay from the checkpoint; engine
    time travel is unaffected (it reads ``_commits``). Returns the
    number of files deleted.

    At 100 TB this is what bounds the log: without it a
    high-frequency writer accumulates JSON + checkpoints forever and
    listing ``_delta_log/`` itself becomes the bottleneck."""
    log_dir = os.path.join(table_path, _DELTA_LOG)
    last = read_last_checkpoint(table_path)
    if last is None:
        return 0
    ckpt_v = int(last["version"])
    now = int(time.time() * 1000) if now_ms is None else now_ms
    cutoff = now - retention_ms
    removed = 0

    def _old_enough(p: str) -> bool:
        # truncate BOTH sides to whole ms: `cutoff` is an int, and a
        # file written in the same millisecond would otherwise compare
        # greater by its fractional microseconds
        return int(os.path.getmtime(p) * 1000) <= cutoff

    # commit JSON (and its .crc sibling) strictly below the checkpoint
    for v in _log_versions(log_dir):
        if v >= ckpt_v:
            continue
        p = os.path.join(log_dir, f"{v:020d}.json")
        if _old_enough(p):
            os.unlink(p)
            removed += 1
            crc = os.path.join(log_dir, f"{v:020d}.crc")
            if os.path.exists(crc):
                os.unlink(crc)
                removed += 1
    # minor-compaction files fully below the checkpoint
    for a, b in list(_compacted_ranges(log_dir).items()):
        if b < ckpt_v:
            p = os.path.join(
                log_dir, f"{a:020d}.{b:020d}.compacted.json"
            )
            if _old_enough(p):
                os.unlink(p)
                removed += 1
    # checkpoint files (classic / parts / uuid manifests) below the
    # advertised one
    import glob as _glob

    for p in _glob.glob(os.path.join(log_dir, "*.checkpoint*.parquet")):
        base = os.path.basename(p)
        if ".tmp." in base:
            continue
        try:
            v = int(base.split(".", 1)[0])
        except ValueError:
            continue
        if v < ckpt_v and _old_enough(p):
            os.unlink(p)
            removed += 1
    # sidecars: live = referenced by any REMAINING manifest
    sidecar_dir = os.path.join(log_dir, "_sidecars")
    if os.path.isdir(sidecar_dir):
        import pyarrow.parquet as pq

        live: set = set()
        for p in _glob.glob(
            os.path.join(log_dir, "*.checkpoint*.parquet")
        ):
            if ".tmp." in os.path.basename(p):
                continue
            try:
                t = pq.read_table(p, columns=["sidecar"])
            except Exception:  # classic checkpoint: no sidecar column
                continue
            for r in t.to_pylist():
                if r.get("sidecar"):
                    live.add(r["sidecar"]["path"])
        for fn in os.listdir(sidecar_dir):
            if fn.endswith(".parquet") and fn not in live:
                p = os.path.join(sidecar_dir, fn)
                if _old_enough(p):
                    os.unlink(p)
                    removed += 1
    return removed


def read_last_checkpoint(table_path: str) -> dict | None:
    p = os.path.join(table_path, _DELTA_LOG, "_last_checkpoint")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _replay_state(table_path: str) -> dict:
    """Checkpoint-aware replay of the FULL reader-visible state:
    ``{"adds": {fs path: full add action}, "schema": schemaString,
    "pcols": [...], "config": metaData configuration}``. Falls back
    to full JSON replay with no checkpoint. The single replay every
    external-reader helper builds on."""
    import pyarrow.parquet as pq

    last = read_last_checkpoint(table_path)
    log_dir = os.path.join(table_path, _DELTA_LOG)
    adds: dict[str, dict] = {}
    schema: str | None = None
    partition_cols: list[str] = []
    config: dict = {}

    def _meta(m: dict) -> None:
        nonlocal schema, partition_cols, config
        schema = m["schemaString"]
        partition_cols = list(m["partitionColumns"] or [])
        cfg = m.get("configuration") or {}
        # checkpoint metaData stores configuration as a parquet MAP —
        # pyarrow hands it back as a list of (key, value) pairs
        config = dict(cfg) if isinstance(cfg, dict) else dict(cfg or [])

    start_after = -1
    if last is not None:
        for path in _checkpoint_part_paths(log_dir, last):
            for r in pq.read_table(path).to_pylist():
                if r.get("metaData"):
                    _meta(r["metaData"])
                if r.get("add"):
                    adds[r["add"]["path"]] = r["add"]
                if r.get("sidecar"):
                    # V2 checkpoint: file actions live in sidecar
                    # parquet under _delta_log/_sidecars/
                    side = os.path.join(
                        log_dir, "_sidecars", r["sidecar"]["path"]
                    )
                    for sr in pq.read_table(side).to_pylist():
                        if sr.get("add"):
                            adds[sr["add"]["path"]] = sr["add"]
        start_after = last["version"]
    def _apply(a: dict) -> None:
        if "metaData" in a:
            _meta(a["metaData"])
        elif "add" in a:
            adds[a["add"]["path"]] = a["add"]
        elif "remove" in a:
            adds.pop(a["remove"]["path"], None)

    versions = _log_versions(log_dir)
    vset = set(versions)
    compacted = _compacted_ranges(log_dir)
    head = max(
        [versions[-1] if versions else -1]
        + [b for b in compacted.values()]
    )
    v = start_after + 1
    while v <= head:
        b = compacted.get(v)
        if b is not None and b <= head:
            # minor log compaction: one reconciled file replaces the
            # range's individual entries
            with open(
                os.path.join(
                    log_dir, f"{v:020d}.{b:020d}.compacted.json"
                )
            ) as f:
                for line in f:
                    _apply(json.loads(line))
            v = b + 1
            continue
        if v in vset:
            for a in _read_version_actions(log_dir, v):
                _apply(a)
        v += 1
    return {
        "adds": {_decode_path(p): a for p, a in adds.items()},
        "schema": schema,
        "pcols": partition_cols,
        "config": config,
    }


def _replay_full(
    table_path: str,
) -> tuple[list[str], str | None, list[str], dict]:
    """Checkpoint-aware replay → (live fs paths, schemaString,
    partitionColumns, {fs path: deletionVector descriptor})."""
    st = _replay_state(table_path)
    files = sorted(st["adds"])
    dvs = {
        p: a["deletionVector"]
        for p, a in st["adds"].items()
        if a.get("deletionVector") is not None
    }
    return files, st["schema"], st["pcols"], dvs


def replay_delta_log_from_checkpoint(
    table_path: str,
) -> tuple[list[str], str | None, list[str]]:
    """Checkpoint-aware replay: load the advertised checkpoint parquet
    (if any), then apply only the JSON entries after it — what a real
    reader does. Falls back to full JSON replay with no checkpoint."""
    files, schema, partition_cols, _dvs = _replay_full(table_path)
    return files, schema, partition_cols
