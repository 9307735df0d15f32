"""Change-feed following: keep a downstream table current by applying
only the CHANGES since its last sync — the CDF consumer pattern Delta
documents for downstream syncs, and at 100 TB the difference between
shipping a day's deltas and re-copying the table.

Every follower of a source — batch ``replicate`` here, the streaming
``stream_replicate`` and ``stream_scd2`` (``streaming.sink``) and
``materialized.IncrementalAggregate`` — records the source versions
it has applied as a Delta writer transaction on its target:
txnAppId ``<kind>::<absolute source path>`` (``follower_id``),
txnVersion the source version. A version is applied once the
watermark is at or past it (``managed_table.txn_applied``), and the
txn rides the version's LAST target commit, so a crash between two
ops replays the whole version. Unlike a table property, the watermark
survives interleaved commits from other writers, and a batch and a
streaming replica of one source share it: batch-replicate to
bootstrap, stream to follow.

Replication applies each source version's change rows in version
order (``apply_changes``): delete rows as a ``delete_keys`` key set
first, then inserts + update post-images as a PK upsert (pre-images
are irrelevant — the post-image replaces the matched row wholesale).
Ranges the CDF cannot attribute (overwrite/restore/DML crossings) and
PK-less sources fall back to a full overwrite copy — never to a
silently stale replica.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.errors import UserException
from component_delta_lake_writer_spark.sinks.managed_table import (
    ManagedTable,
    txn_applied,
)

_UPSERT = ("insert", "update_postimage")


def follower_id(kind: str, source: ManagedTable) -> str:
    """The txn app id under which a ``kind`` follower of ``source``
    records the source versions it has applied."""
    return f"{kind}::{os.path.abspath(source.path)}"


def watermark(target: ManagedTable, app_id: str) -> int | None:
    """The last source version ``target`` applied under ``app_id``
    (None: never)."""
    head = target.latest_commit()
    return None if head is None else (head.txns or {}).get(app_id)


def pending_versions(rows: DataFrame, target: ManagedTable, app_id: str):
    """Yield ``(v, n_up, n_del)`` for each source version in the change
    ``rows`` (``_change_type`` + ``_commit_version``; persist them
    first) that ``target`` has not applied under ``app_id``, in version
    order. ``n_up`` counts inserts and update post-images, ``n_del``
    deletes. ONE aggregate job profiles every version — not a distinct
    collect plus emptiness probes per version, each ~0.3 s of fixed
    dispatch. The watermark is re-read before each version, so the
    caller's commit for the previous one counts."""
    kind = F.col("_change_type")
    profile = (
        rows.groupBy("_commit_version")
        .agg(
            F.sum(kind.isin(*_UPSERT).cast("long")).alias("n_up"),
            F.sum((kind == "delete").cast("long")).alias("n_del"),
        )
        .collect()
    )
    for r in sorted(profile, key=lambda r: r["_commit_version"]):
        v = r["_commit_version"]
        if not txn_applied(target.latest_commit(), (app_id, v)):
            yield v, r["n_up"], r["n_del"]


def apply_changes(
    rows: DataFrame,
    target: ManagedTable,
    primary_key: list[str],
    app_id: str,
    strategy: str = "copy-on-write",
    after_version=None,
) -> int:
    """Apply the change ``rows`` of one or more source versions to
    ``target`` by ``primary_key``, each version above the ``app_id``
    watermark in order, and return how many were applied.
    ``after_version()`` (if given) runs after each applied version."""
    rows = rows.persist()
    kind = F.col("_change_type")
    try:
        applied = 0
        for v, n_up, n_del in pending_versions(rows, target, app_id):
            delta = rows.filter(F.col("_commit_version") == v)
            txn = (app_id, v)
            # DELETES FIRST: a replace_where/full-sync commit may
            # delete an old image and insert a new one under the SAME
            # PK in one version — upsert-then-delete would erase the
            # fresh row. The txn rides the LAST op of the version; a
            # crash in between replays the whole version (delete is
            # key-idempotent, upsert last-write-wins — safe).
            if n_del:
                target.delete_keys(
                    delta.filter(kind == "delete").select(*primary_key),
                    txn=None if n_up else txn,
                )
            if n_up:
                ups = delta.filter(kind.isin(*_UPSERT))
                target.upsert(
                    ups.drop("_change_type", "_commit_version"),
                    primary_key, txn=txn, strategy=strategy,
                )
            applied += 1
            if after_version is not None:
                after_version()
        return applied
    finally:
        rows.unpersist()


def replicate(source: ManagedTable, replica: ManagedTable) -> str:
    """Bring ``replica`` up to ``source``'s head. Returns 'full',
    'incremental', or 'noop' — which path actually ran."""
    head = source.latest_commit()
    if head is None:
        raise UserException("source table does not exist")
    app_id = follower_id("replicate", source)
    if txn_applied(replica.latest_commit(), (app_id, head.version)):
        return "noop"
    last = watermark(replica, app_id)
    pk = list(head.primary_key or [])

    def _full() -> str:
        # pinned to the version the txn records: an unpinned read()
        # could see a later commit, and the next sync would re-apply it
        replica.write(
            source.read(version=head.version),
            mode="overwrite",
            primary_key=pk,
            txn=(app_id, head.version),
        )
        return "full"

    if last is None or not pk:
        return _full()
    # per-version change sets, each tagged with its version — the frame
    # the change-feed stream yields — so a key updated in one commit
    # and deleted in a later one lands in that order
    try:
        rows = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [
                source.read_changes(v - 1, v, with_change_type=True)
                .withColumn("_commit_version", F.lit(v))
                for v in range(last + 1, head.version + 1)
            ],
        )
    except UserException:
        return _full()
    applied = apply_changes(rows, replica, pk, app_id)
    return "incremental" if applied else "noop"
