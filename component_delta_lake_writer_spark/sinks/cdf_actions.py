"""Change-feed action classification — shared by the batch
``read_changes`` path (sinks.managed_table) and the streaming
``table_changes_stream`` Python Data Source (streaming.cdf_source) so
the two can never drift (a metadata-only action added to one list but
not the other would make the stream raise on a commit the batch API
skips).

Lives in its own LIGHT module on purpose: the streaming source's
Python worker processes unpickle reader/partition objects whose module
chain is imported at worker startup — importing the full table engine
(sinks.managed_table, ~5k lines plus its transitive imports) there
added seconds of cold-start to the first micro-batch for two tuples of
strings.
"""

from __future__ import annotations

CDF_METADATA_ONLY_ACTIONS = (
    "optimize", "add_constraint", "drop_constraint",
    "set_properties", "add_column", "drop_column",
    "rename_column", "alter_column_default",
    "widen_column_type", "sync_metadata",
)
CDF_CHANGE_SET_ACTIONS = ("upsert", "delete", "update", "replace_where")
