"""The Delta transaction log — ManagedTable's one and only log.

The reference writes true Delta tables via delta-rs
(``write_deltalake``, src/component.py:356 era — any Delta reader can
open them). delta-spark is not a dependency in this environment, so
this module implements the log directly per the open Delta protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md); the
engine and external Delta readers (delta-rs, delta-spark, DuckDB's
delta extension) read the same ``_delta_log/``:

- ``_delta_log/{version:020d}.json`` — one file per commit, newline-
  delimited JSON actions, claimed by exclusive create (the spec's
  put-if-absent): two writers racing for one version get one winner
  and one "Concurrent commit conflict"
- ``protocol`` + ``metaData`` at version 0 and whenever they change
  (schemaString is the Spark schema JSON — the exact format Delta
  uses)
- ``add`` actions for new parquet files (with Delta-standard
  ``stats``) and ``remove`` actions for files dropped from the
  snapshot; partition values come from the Hive-style directory
  layout Spark wrote (the same layout delta-rs produces)
- ``txn``, ``domainMetadata`` and ``commitInfo`` for writer
  watermarks, table-level state and the commit clock
- ``cdc`` actions naming a change-data-feed commit's change files
  under ``_change_data/`` — the one copy of its change rows
- ``{version}.crc`` checksums, Parquet checkpoints every 10 commits
  (classic, multi-part or v2) and optional minor log compactions

``_replay_steps`` is the one checkpoint-aware replay: the engine's
snapshot, the external-reader helpers, checkpoints and compactions
all fold the same ``_apply_actions`` over the same files.

The TIMESTAMP_NTZ type requires the ``timestampNtz`` table feature
(reader v3 / writer v7); the emitted protocol is upgraded exactly when
the schema needs it.

Merge-on-read: ``delete_where``/``delete_keys`` and
``upsert(strategy='merge-on-read')`` delete rows as real Delta
**deletion vectors** (binary RoaringBitmapArray files +
``deletionVector`` descriptors on add/remove, reader v3 / writer v7
feature ``deletionVectors`` — see ``deletion_vectors.py``): a file
whose bitmap changed gets a remove of its previous incarnation and an
add carrying the new descriptor.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.parse
import uuid

_DELTA_LOG = "_delta_log"


_VERSION_RE = re.compile(r"^(\d{20})\.json$")


def _log_versions(log_dir: str) -> list[int]:
    """Committed version numbers in a log dir — STRICT 20-digit name
    match, so tmp files, checkpoints and compacted ranges never parse
    as versions."""
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


def _mapping_ids(md: dict | None) -> tuple[dict, int]:
    """(physical path → columnMapping id, maxColumnId) from a metaData
    action (the parent snapshot's). Ids are IMMUTABLE per the spec — a
    column keeps its id across renames (physical name is the stable
    key) and drops must not renumber survivors; maxColumnId only
    grows. Keys MUST mirror ``_mapped_schema_string.assign``'s exactly:
    top-level fields by physicalName, nested struct/array/map fields by
    the dotted physical path (``parent.child``, ``parent.element``, …)
    — walking only top level would lose every nested id and re-emission
    would renumber them, violating id immutability for nested data."""
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


def scalar_properties(props: dict | None) -> dict:
    """The TBLPROPERTIES view of engine table properties that external
    Delta readers see in ``metaData.configuration``: Delta's
    CHECK-constraint convention (one ``delta.constraints.<name>`` per
    constraint — external writers must see and enforce them),
    booleans as ``true``/``false``, numbers as strings; composite
    engine values (column lists) have no TBLPROPERTIES form and only
    ride the ``engine.properties`` entry."""
    out = {}
    for k, v in (props or {}).items():
        if k == "constraints" and isinstance(v, dict):
            for name, expr in v.items():
                out[f"delta.constraints.{name}"] = str(expr)
        elif isinstance(v, bool):
            out[k] = "true" if v else "false"
        elif isinstance(v, (str, int, float)):
            out[k] = str(v)
    return out


def table_actions(
    state: dict,
    schema_json: str,
    partition_by: list[str],
    column_mapping: dict,
    configuration: dict,
    extra_caps: set,
    timestamp_ms: int,
) -> list[dict]:
    """The ``protocol`` / ``metaData`` actions a commit must emit
    against its parent snapshot ``state``: metaData exactly when its
    content changed (schema, partitioning, mapping, configuration),
    keeping the table id and createdTime of the table's creation;
    protocol whenever the capabilities in use GREW. Delta never
    auto-downgrades: when a rewrite drops a capability (e.g. an
    overwrite losing CURRENT_DEFAULT) the prior protocol stands —
    ``_protocol_upgrade`` returns the monotonic max or None.

    ``column_mapping`` (logical→physical names from RENAME COLUMN) is
    mirrored as Delta columnMapping mode=name: schemaString fields
    carry ``delta.columnMapping.{id,physicalName}`` metadata (ids from
    the parent's schemaString — immutable), and once enabled the mode
    stays name (the spec forbids disabling it), with identity physical
    names after a materializing rewrite. ``extra_caps`` are the
    commit-driven (non-schema) capabilities: deletionVectors,
    rowTracking, inCommitTimestamp, clustering, v2Checkpoint,
    checkConstraints."""
    prev_md = state["metaData"]
    prev_cfg = (prev_md or {}).get("configuration") or {}
    mapped = bool(column_mapping) or (
        prev_cfg.get("delta.columnMapping.mode") == "name"
    )
    ids, max_id = _mapping_ids(prev_md) if mapped else ({}, 0)
    md = _metadata_action(
        prev_md["id"] if prev_md else uuid.uuid4().hex,
        schema_json,
        partition_by,
        prev_md.get("createdTime", timestamp_ms) if prev_md else timestamp_ms,
        column_mapping=column_mapping if mapped else None,
        prior_ids=ids,
        prior_max_id=max_id,
        extra_config=configuration,
    )
    out: list[dict] = []
    needed = _protocol_action(schema_json, bool(column_mapping), extra_caps)
    if state["protocol"] is None:
        out.append(needed)
    else:
        up = _protocol_upgrade(
            {"protocol": state["protocol"]},
            needed,
            _used_caps(schema_json, bool(column_mapping)) | set(extra_caps),
        )
        if up is not None:
            out.append(up)
    if md["metaData"] != prev_md:
        out.append(md)
    return out


def domain_action(domain: str, config: dict) -> dict:
    """A ``domainMetadata`` action (latest-wins per domain)."""
    return {
        "domainMetadata": {
            "domain": domain,
            "configuration": json.dumps(config),
            "removed": False,
        }
    }


def write_delta_log_entry(
    table_path: str, version: int, actions: list[dict], state: dict
) -> list | None:
    """Commit ``actions`` as ``_delta_log/{version}.json``: the version
    is claimed by exclusive create (``os.link`` fails with EEXIST when
    the entry exists, so two racing writers cannot both claim it — a
    plain rename would silently replace; on object stores this maps to
    a conditional PUT, if-none-match). The loser gets the "Concurrent
    commit conflict" UserException and ``state`` is untouched. The
    winner folds the actions into ``state`` (the parent snapshot,
    advanced in place), writes the version checksum and returns
    ``_apply_actions``' touched paths."""
    from component_delta_lake_writer_spark.errors import UserException

    log_dir = os.path.join(table_path, _DELTA_LOG)
    os.makedirs(log_dir, exist_ok=True)
    final = os.path.join(log_dir, f"{version:020d}.json")
    tmp = final + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise UserException(
            f"Concurrent commit conflict at version {version}"
        ) from None
    finally:
        os.unlink(tmp)
    touched = _apply_actions(state, actions, version)
    _write_version_crc(table_path, version, actions, state)
    return touched


def _write_version_crc(
    table_path: str, version: int, actions: list[dict], state: dict
) -> None:
    """Delta VERSION CHECKSUM: ``{version}.crc`` next to each commit
    with the post-commit state aggregates (tableSizeBytes, numFiles,
    metadata, protocol) — what delta-spark emits per commit and uses
    to validate snapshot state. Maintained INCREMENTALLY from the
    previous version's .crc (+add sizes, -remove sizes; our removes
    carry the optional ``size``), falling back to the post-commit
    snapshot ``state`` when the previous .crc is missing or the commit
    re-adds live files (dataChange=false re-adds: row-tracking
    backfill / conversion — reconciliation replaces by path, which
    per-aggregate increments cannot express)."""
    log_dir = os.path.join(table_path, _DELTA_LOG)
    adds = [a["add"] for a in actions if "add" in a]
    removes = [a["remove"] for a in actions if "remove" in a]
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
        size = (
            (prev["tableSizeBytes"] if prev else 0)
            + sum(int(a["size"]) for a in adds)
            - sum(int(r["size"]) for r in removes)
        )
        nfiles = (prev["numFiles"] if prev else 0) + len(adds) - len(removes)
    else:
        size = sum(int(a["size"]) for a in state["adds"].values())
        nfiles = len(state["adds"])
    crc = {
        "tableSizeBytes": int(size),
        "numFiles": int(nfiles),
        "numMetadata": 1,
        "numProtocol": 1,
        "metadata": state["metaData"],
        "protocol": state["protocol"],
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


def live_dv_descriptors(table_path: str) -> dict:
    """{table-relative fs path: deletionVector descriptor} of every
    live file currently carrying a DV, as an external reader sees it
    (checkpoint-aware replay of the log) — after every commit it
    equals the engine commit's ``deletion_vectors``."""
    return {
        p: a["deletionVector"]
        for p, a in _replay_state(table_path)["adds"].items()
        if a.get("deletionVector")
    }


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
    partitionColumns) by a plain JSON replay that shares no code with
    the engine's checkpoint-aware one — the independent reference the
    tests and the delta-read probe compare against."""
    live, schema, partition_cols = _replay_json(table_path)
    # action paths are spec percent-encoded; callers get FILESYSTEM
    # paths back (what any external reader does after URL-decoding)
    return sorted(_decode_path(p) for p in live), schema, partition_cols


def _snapshot_scan(spark, table_path: str, md: dict, files: dict, **kw):
    """``scan.scan_files`` over ``files`` under the logical schema of
    the metaData action ``md`` (column mapping resolved through
    ``delta.columnMapping.physicalName``)."""
    from pyspark.sql import types as T

    from component_delta_lake_writer_spark.sinks.scan import (
        scan_files,
        schema_view,
    )

    schema_json, mapping, _temporal = schema_view(md["schemaString"])
    return scan_files(
        spark, table_path, T.StructType.fromJson(json.loads(schema_json)),
        files, mapping=mapping, partition_by=md["partitionColumns"], **kw,
    )


def read_delta_table(spark, table_path: str):
    """What a spec-compliant external Delta reader does with the
    table's ``_delta_log``: checkpoint-aware replay → schemaString →
    one scan of exactly the live files (``scan.scan_files``, the scan
    the engine reads with). Columns resolve through ``delta.
    columnMapping.physicalName`` field metadata when the table uses
    columnMapping mode=name (RENAME COLUMN tables); the row positions
    each add's ``deletionVector`` marks deleted are skipped (parsed
    from the binary DV file; row identity is the parquet
    ``_metadata.row_index`` — the position the descriptor's bitmap
    indexes); a partition column's values come from the add action's
    ``partitionValues`` (never from the data files, which do not store
    them, nor from their paths). The plan is one FileScan and at most
    two broadcast joins, at any file or partition count."""
    # Forward-compatibility gate (the spec's FIRST reader rule): a
    # reader must refuse tables whose protocol demands a reader
    # version or reader feature it does not implement — guessing
    # yields silently-wrong rows (unapplied DVs, unresolved column
    # mapping). This reader implements everything the engine writes.
    st = _replay_state(table_path)
    p = st["protocol"]
    if p is not None:
        if int(p.get("minReaderVersion", 1)) > 3:
            raise ValueError(
                f"unsupported minReaderVersion {p['minReaderVersion']}"
            )
        unknown = set(p.get("readerFeatures") or ()) - _READER_SUPPORTED
        if unknown:
            raise ValueError(
                f"unsupported reader features: {sorted(unknown)}"
            )
    return _snapshot_scan(spark, table_path, st["metaData"], st["adds"])


def read_delta_table_row_ids(spark, table_path: str):
    """External ROW-TRACKING reader: the data of ``read_delta_table``
    plus each row's stable ``_row_id`` / ``_row_commit_version``,
    resolved from the log alone, with none of the engine's row-id
    bookkeeping — proof that ``_delta_log`` carries complete row
    identity:

    - fresh ids: the add action's ``baseRowId`` + the row's parquet
      ``_metadata.row_index``, attributed to ``defaultRowCommitVersion``
    - preserved ids: the materialized columns named by the metaData's
      ``delta.rowTracking.materializedRow*ColumnName`` properties
      (written by dataChange=false rewrites) COALESCE over the fresh
      arithmetic — exactly the spec's resolution order
    - rows masked by a ``deletionVector`` are skipped first

    Partitioned tables read as ``read_delta_table`` reads them: the
    same one scan, with the per-file ids beside the partition values."""
    st = _replay_state(table_path)
    cfg = st["metaData"].get("configuration") or {}
    if str(cfg.get("delta.enableRowTracking")).lower() != "true":
        raise ValueError("table does not advertise delta.enableRowTracking")
    return _snapshot_scan(
        spark, table_path, st["metaData"], st["adds"],
        row_ids=(
            cfg.get("delta.rowTracking.materializedRowIdColumnName"),
            cfg.get(
                "delta.rowTracking.materializedRowCommitVersionColumnName"
            ),
        ),
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
    # the one replay, tombstones included (seeded from the previous
    # checkpoint, so checkpointing costs O(interval + snapshot) and
    # still works once cleanup_metadata reclaimed the older JSON)
    st = _replay_state(table_path, version, tombstones=True)
    if st["version"] != version:
        raise ValueError(f"no log entry for version {version}")

    # One row carries protocol, one carries metaData, one per live
    # file, one per unexpired remove tombstone: the spec keeps a
    # tombstone until it is older than delta.deletedFileRetentionDuration
    # (default one week) so readers reconciling against stale listings
    # do not resurrect removed files, and an upsert-heavy table's
    # checkpoint does not grow with its whole rewrite history.
    cfg = st["metaData"].get("configuration") or {}
    horizon = int(time.time() * 1000) - _parse_interval_ms(
        cfg.get("delta.deletedFileRetentionDuration"), _WEEK_MS
    )

    def _row(**kw) -> dict:
        row = dict.fromkeys(
            ("protocol", "metaData", "add", "remove", "txn", "domainMetadata")
        )
        row.update({k: _arrow(v) for k, v in kw.items()})
        return row

    rows = [_row(protocol=st["protocol"]), _row(metaData=st["metaData"])]
    rows += [_row(add=add) for add in st["adds"].values()]
    rows += [
        _row(remove=rm)
        for rm in st["removes"].values()
        if (rm.get("deletionTimestamp") or 0) >= horizon
    ]
    rows += [_row(txn=t) for t in st["txns"].values()]
    rows += [_row(domainMetadata=d) for d in st["domains"].values()]

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
                        # data-skipping stats and engine tags are
                        # snapshot state the engine replays from here
                        pa.field("stats", pa.string()),
                        pa.field(
                            "tags", pa.map_(pa.string(), pa.string())
                        ),
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
    # v2 checkpoints (PROTOCOL.md §V2 Spec; delta.checkpointPolicy=v2):
    # file actions move to sidecar parquet files under
    # _delta_log/_sidecars/, and a UUID-named manifest carries
    # checkpointMetadata + protocol/metaData/txn/domainMetadata +
    # one `sidecar` action per sidecar file. At 100 TB this is the
    # modern layout: the snapshot's millions of add rows split across
    # independently-readable sidecars while metadata probes open one
    # small manifest.
    if (st["metaData"].get("configuration") or {}).get(
        "delta.checkpointPolicy"
    ) == "v2":
        return _write_checkpoint_v2(
            log_dir, version, rows, schema, part_rows
        )

    part_cap = max(1, part_rows or CHECKPOINT_PART_ROWS)
    if len(rows) > part_cap:
        # multi-part checkpoint: split the action rows across
        # spec-named part files (protocol/metaData ride in part 1 by
        # row order). Each part publishes via tmp+rename; the series
        # becomes visible only through _last_checkpoint's "parts".
        chunks = [
            rows[i:i + part_cap] for i in range(0, len(rows), part_cap)
        ]
        n = len(chunks)
        last = {"version": version, "size": len(rows), "parts": n}
        paths = _checkpoint_part_paths(log_dir, last)
        for chunk, final in zip(chunks, paths):
            t = pa.Table.from_pylist(chunk, schema=schema)
            tmp_pq = final + f".tmp.{uuid.uuid4().hex}"
            pq.write_table(t, tmp_pq)
            os.replace(tmp_pq, final)
        out_path = paths[0]
    else:
        table = pa.Table.from_pylist(rows, schema=schema)
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
        cfg = scalar_properties(properties)
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


_WEEK_MS = 7 * 24 * 3600 * 1000


def _parse_interval_ms(
    spec: str | None, default: int = 30 * 24 * 3600 * 1000
) -> int:
    """Delta duration properties: ``interval <n> <unit>`` (also bare
    ``<n> <unit>``); unknown/absent => ``default`` (30 days, Delta's
    log retention)."""
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
    commits in (from_version, to_version] FROM THE LOG ALONE — the
    files of a commit's ``cdc`` actions when it carries them (the
    spec's signal that add/remove derivation is wrong for it), else
    adds with ``dataChange=true`` read as inserts. Columns resolve
    through the range end's schema exactly as ``read_delta_table``
    resolves them (``delta.columnMapping.physicalName``). Returns the
    table columns + ``_change_type`` + ``_commit_version`` — what
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
    md = _replay_state(table_path, versions[-1])["metaData"]
    sj = json.loads(md["schemaString"])
    # change files store every column, partition columns included,
    # plus _change_type
    cdc_md = {
        "schemaString": json.dumps({**sj, "fields": sj["fields"] + [{
            "name": "_change_type", "type": "string", "nullable": True,
            "metadata": {},
        }]}),
        "partitionColumns": [],
    }
    out = None
    for v in versions:
        actions = _read_version_actions(log_dir, v)
        cdc = {
            _decode_path(a["cdc"]["path"]): a["cdc"]
            for a in actions if "cdc" in a
        }
        if cdc:
            df = _snapshot_scan(spark, table_path, cdc_md, cdc)
        else:
            if any(
                "remove" in a and a["remove"].get("dataChange", True)
                for a in actions
            ):
                raise ValueError(
                    f"version {v} removes data without cdc actions — "
                    "not derivable (enable delta.enableChangeDataFeed)"
                )
            adds = {
                _decode_path(a["add"]["path"]): a["add"]
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            }
            if not adds:
                continue  # metadata-only commit
            df = _snapshot_scan(spark, table_path, md, adds).withColumn(
                "_change_type", F.lit("insert")
            )
        df = df.withColumn("_commit_version", F.lit(v).cast("long"))
        out = df if out is None else out.unionByName(df)
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
    st = _empty_state(tombstones=True)
    for v in range(start, end + 1):
        _apply_actions(st, _read_version_actions(log_dir, v), v)
    actions: list[dict] = []
    if st["protocol"] is not None:
        actions.append({"protocol": st["protocol"]})
    if st["metaData"] is not None:
        actions.append({"metaData": st["metaData"]})
    actions += [{"txn": t} for t in st["txns"].values()]
    actions += [{"domainMetadata": d} for d in st["domains"].values()]
    actions += [{"remove": r} for r in st["removes"].values()]
    actions += [{"add": a} for a in st["adds"].values()]
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
    out: dict[int, int] = {}
    pat = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")
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
    references. Every reader — the engine included — then replays from
    the checkpoint, so time travel to a version below it fails, as it
    does in Delta once its log is cleaned up. Returns the number of
    files deleted.

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




# ---------------------------------------------------------------------------
# Replay: checkpoint + JSON tail → snapshot state. One fold
# (``_apply_actions``) serves the engine's snapshot, the external-reader
# helpers, checkpoints, compactions and checksums.
# ---------------------------------------------------------------------------


def _empty_state(tombstones: bool = False) -> dict:
    """Snapshot state before version 0. ``adds`` maps fs paths (action
    paths URL-decoded) to their add action in first-add order;
    ``removes`` (tombstones) is tracked only when asked — checkpoints
    and compactions need it, a reader never does."""
    return {
        "version": -1,
        "protocol": None,
        "metaData": None,
        "adds": {},
        "removes": {} if tombstones else None,
        "txns": {},
        "domains": {},
        "commitInfo": None,
        "cdc": [],
    }


def _apply_actions(
    state: dict, actions: list[dict], version: int
) -> list | None:
    """Fold one commit's (or one compacted range's) actions into
    ``state`` in place. Returns the fs paths its add/remove actions
    touched, in action order — or None when metaData changed (every
    derived view of the files must then be rebuilt).

    A remove followed by an add of the same path in the same commit (a
    deletion-vector swap) replaces the add IN PLACE: reconciliation is
    keyed by path, and keeping the file's position keeps the snapshot's
    file order a pure function of the log."""
    state["version"] = version
    state["commitInfo"], state["cdc"] = None, []
    adds, removes = state["adds"], state["removes"]
    readded = {
        a["add"]["path"]: i for i, a in enumerate(actions) if "add" in a
    }
    touched: list = []
    md_changed = False
    for i, a in enumerate(actions):
        if "add" in a:
            p = _decode_path(a["add"]["path"])
            adds[p] = a["add"]
            if removes is not None:
                removes.pop(p, None)
            touched.append(p)
        elif "remove" in a:
            p = _decode_path(a["remove"]["path"])
            touched.append(p)
            if readded.get(a["remove"]["path"], -1) > i:
                continue
            adds.pop(p, None)
            if removes is not None:
                removes[p] = a["remove"]
        elif "metaData" in a:
            state["metaData"] = a["metaData"]
            md_changed = True
        elif "protocol" in a:
            state["protocol"] = a["protocol"]
        elif "txn" in a:
            state["txns"][a["txn"]["appId"]] = a["txn"]
        elif "domainMetadata" in a:
            state["domains"][a["domainMetadata"]["domain"]] = (
                a["domainMetadata"]
            )
        else:
            _apply_entry_meta(state, a)
    return None if md_changed else touched


def _apply_entry_meta(state: dict, a: dict) -> None:
    """Record one action that describes its version alone: the
    ``commitInfo``, or a ``cdc`` file's fs path."""
    if "commitInfo" in a:
        state["commitInfo"] = a["commitInfo"]
    elif "cdc" in a:
        state["cdc"].append(_decode_path(a["cdc"]["path"]))


def _checkpoints(log_dir: str) -> dict[int, dict]:
    """{version: ``_last_checkpoint``-shaped dict} of every complete
    checkpoint in the log dir (classic, multi-part or v2 manifest) —
    what time travel below the advertised checkpoint starts from."""
    pat = re.compile(
        r"^(\d{20})\.checkpoint(?:\.(\d{10})\.(\d{10})|\.[0-9a-f]+)?\.parquet$"
    )
    out: dict[int, dict] = {}
    for f in os.listdir(log_dir):
        m = pat.match(f)
        if m:
            v = int(m.group(1))
            out[v] = {"version": v}
            if m.group(3):
                out[v]["parts"] = int(m.group(3))
    return out


_MAP_FIELDS = ("partitionValues", "tags", "configuration", "options")


def _actions_of(arr) -> list[dict]:
    """A checkpoint struct column (no null rows) as its JSON actions:
    absent fields dropped, maps as dicts. Built column by column —
    pyarrow's row-wise ``to_pylist`` costs ~2.5x as much on adds, most
    of it in the (usually empty) partitionValues maps."""
    import pyarrow as pa

    cols = []
    for f, c in zip(arr.type, arr.flatten()):
        if pa.types.is_struct(f.type):
            vals = _actions_of(c)
        elif pa.types.is_map(f.type):
            off = c.offsets.to_pylist()
            ks, vs = c.keys.to_pylist(), c.items.to_pylist()
            vals = [dict(zip(ks[b:e], vs[b:e])) for b, e in zip(off, off[1:])]
        else:
            cols.append(c.to_pylist())
            continue
        if c.null_count:
            valid = c.is_valid().to_pylist()
            vals = [v if ok else None for v, ok in zip(vals, valid)]
        cols.append(vals)
    names = [f.name for f in arr.type]
    return [
        {k: v for k, v in zip(names, row) if v is not None}
        for row in zip(*cols)
    ]


def _arrow(d: dict | None) -> dict | None:
    """Inverse of ``_strip``: map fields as the item lists pyarrow
    wants for a checkpoint row."""
    if d is None:
        return None
    return {
        k: list(v.items()) if k in _MAP_FIELDS and isinstance(v, dict)
        else _arrow(v) if k == "format" else v
        for k, v in d.items()
    }


def _load_checkpoint(log_dir: str, last: dict, state: dict) -> None:
    """Seed ``state`` from the checkpoint ``last`` describes, reading
    only the action columns the state keeps (never the tombstones
    unless asked) and materializing only their non-null rows."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    want = ["protocol", "metaData", "txn", "domainMetadata", "add", "sidecar"]
    if state["removes"] is not None:
        want.append("remove")

    def rows(path: str):
        pf = pq.ParquetFile(path)
        cols = [c for c in want if c in pf.schema_arrow.names]
        t = pf.read(columns=cols)
        for c in cols:
            arr = t.column(c).combine_chunks()
            for r in _actions_of(arr.filter(pc.is_valid(arr))):
                yield c, r

    def load(path: str) -> None:
        for kind, r in rows(path):
            if kind == "sidecar":
                load(os.path.join(log_dir, "_sidecars", r["path"]))
            elif kind == "add":
                state["adds"][_decode_path(r["path"])] = r
            elif kind == "remove":
                state["removes"][_decode_path(r["path"])] = r
            elif kind == "txn":
                state["txns"][r["appId"]] = r
            elif kind == "domainMetadata":
                state["domains"][r["domain"]] = r
            else:
                state[kind] = r

    for path in _checkpoint_part_paths(log_dir, last):
        load(path)
    state["version"] = int(last["version"])
    _load_entry_meta(log_dir, state)


def _load_entry_meta(log_dir: str, state: dict) -> None:
    """Set the commitInfo and cdc paths of ``state``'s version from its
    own entry (none once the entry is gone) — a checkpoint or a
    compacted range carries neither. Only those lines are parsed: the
    entry of a CONVERT lists every file."""
    state["commitInfo"], state["cdc"] = None, []
    try:
        with open(
            os.path.join(log_dir, f"{state['version']:020d}.json")
        ) as f:
            for line in f:
                if '"commitInfo"' in line[:16] or '"cdc"' in line[:9]:
                    _apply_entry_meta(state, json.loads(line))
    except FileNotFoundError:
        pass


def _replay_steps(
    table_path: str,
    version: int | None = None,
    base: dict | None = None,
    first: int | None = None,
    tombstones: bool = False,
    compacted: bool = False,
):
    """THE replay: yield ``(state, touched)`` as the snapshot advances
    to ``version`` (None: the head), ``touched`` being
    ``_apply_actions``' result, or None after the checkpoint load.

    ``base`` (a state from an earlier replay) is advanced IN PLACE by
    the JSON tail after its version. Otherwise replay starts from the
    newest checkpoint at or below ``first`` (default ``version``) —
    ``_last_checkpoint`` when it qualifies, so opening the head lists
    nothing — or from an empty state; ``compacted`` lets minor
    compaction files stand in for the ranges they cover. A requested
    version below the retained log (cleaned up past its checkpoint)
    or past the head raises ValueError."""
    log_dir = os.path.join(table_path, _DELTA_LOG)
    if base is not None:
        state = base
    else:
        state = _empty_state(tombstones)
        floor = version if first is None else first
        last = read_last_checkpoint(table_path)
        if last is not None and floor is not None and (
            last["version"] > floor
        ):
            cps = [
                cp for v, cp in _checkpoints(log_dir).items() if v <= floor
            ]
            last = max(cps, key=lambda cp: cp["version"], default=None)
        if last is not None:
            _load_checkpoint(log_dir, last, state)
            yield state, None
    ranges = _compacted_ranges(log_dir) if compacted else {}
    v = state["version"]
    while version is None or v < version:
        end = ranges.get(v + 1)
        if end is not None and (version is None or end <= version):
            name = f"{v + 1:020d}.{end:020d}.compacted.json"
            with open(os.path.join(log_dir, name)) as f:
                touched = _apply_actions(
                    state, [json.loads(line) for line in f], end
                )
            _load_entry_meta(log_dir, state)
            v = end
            yield state, touched
            continue
        try:
            actions = _read_version_actions(log_dir, v + 1)
        except FileNotFoundError:
            if version is None and (
                v >= 0 or read_last_checkpoint(table_path) is None
            ):
                break  # the head (or no table at all)
            raise ValueError(
                f"version {v + 1} of {table_path} is not in the log ("
                + (
                    f"the head is version {v})" if v >= 0
                    else "no checkpoint or entry at or below it is kept)"
                )
            ) from None
        v += 1
        yield state, _apply_actions(state, actions, v)


def _replay_state(
    table_path: str, version: int | None = None, tombstones: bool = False
) -> dict:
    """The snapshot state at ``version`` (None: the head) — what a
    spec-compliant external reader reconstructs: ``{"version",
    "protocol", "metaData", "adds": {fs path: add action}, "txns",
    "domains", "commitInfo"}`` (+ ``"removes"`` with
    ``tombstones``)."""
    state = _empty_state(tombstones)
    for state, _touched in _replay_steps(
        table_path, version, tombstones=tombstones, compacted=True
    ):
        pass
    return state


def oldest_version(table_path: str) -> int | None:
    """The oldest version the log can still reconstruct: 0 while its
    entry exists, else the oldest retained checkpoint (metadata
    cleanup reclaimed the JSON below it)."""
    log_dir = os.path.join(table_path, _DELTA_LOG)
    if os.path.exists(os.path.join(log_dir, f"{0:020d}.json")):
        return 0
    if not os.path.isdir(log_dir):
        return None
    return min(_checkpoints(log_dir), default=None)
