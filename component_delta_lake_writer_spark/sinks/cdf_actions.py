"""Change-feed classification — shared by the batch ``read_changes``
path (sinks.managed_table) and the streaming ``table_changes_stream``
Python Data Source (streaming.cdf_source) so the two can never drift
(a metadata-only action added to one list but not the other would make
the stream raise on a commit the batch API skips).

Lives in its own LIGHT module on purpose: the streaming source's
Python worker processes unpickle reader/partition objects whose module
chain is imported at worker startup — importing the full table engine
(sinks.managed_table, ~5k lines plus its transitive imports) there
added seconds of cold-start to the first micro-batch for two tuples of
strings.
"""

from __future__ import annotations

import os

from component_delta_lake_writer_spark.errors import UserException

CDF_METADATA_ONLY_ACTIONS = (
    "optimize", "add_constraint", "drop_constraint",
    "set_properties", "add_column", "drop_column",
    "rename_column", "alter_column_default",
    "widen_column_type", "sync_metadata",
)
CDF_CHANGE_SET_ACTIONS = ("upsert", "delete", "update", "replace_where")


def commit_changes(
    table_path: str, prev, c, reader: str
) -> tuple[list[str], list[str]]:
    """Where the change rows of commit ``c`` live, by Delta's CDF rule,
    against ``prev`` (the commit before it; None when ``c`` is the
    table's first): (units whose files are all
    inserts, table-relative change files). A change-set commit's cdc
    files are its change rows; without them its added units are
    inserts — none for a DML commit that touched no rows. ``reader``
    names the caller in the errors: a commit that removes data without
    cdc actions, a change file missing from disk, and any action the
    feed cannot attribute all raise."""
    if c.action in CDF_METADATA_ONLY_ACTIONS:
        return [], []
    had = set(prev.data_units) if prev else set()
    had_dvs = prev.deletion_vectors if prev else {}
    added = [u for u in c.data_units if u not in had]
    if c.action == "append":
        return added, []
    if c.action not in CDF_CHANGE_SET_ACTIONS:
        raise UserException(
            f"{reader} crosses a '{c.action}' commit (v{c.version}); "
            "only append/upsert/delete/update/replace_where/optimize "
            "ranges are attributable."
        )
    if c.cdc_files:
        gone = [
            f for f in c.cdc_files
            if not os.path.exists(os.path.join(table_path, f))
        ]
        if gone:
            raise UserException(
                f"{reader}: the change files of {c.action} v{c.version} "
                f"are missing from disk ({gone[0]}, {len(gone)} in all)."
            )
        return [], list(c.cdc_files)
    removes = bool(had - set(c.data_units)) or any(
        had_dvs.get(f) != d
        for f, d in c.deletion_vectors.items()
    )
    if removes:
        raise UserException(
            f"{reader} crosses {c.action} v{c.version}, which removes "
            "data but carries no cdc action — set the table property "
            "enableChangeDataFeed before mutating (same contract as "
            "delta.enableChangeDataFeed)."
        )
    return added, []
