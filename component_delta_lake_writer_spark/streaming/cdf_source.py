"""The managed table's change data feed as a STREAMING source —
a Spark 4 Python streaming Data Source (DataSourceStreamReader).

``spark.readStream.format("table_changes_stream")`` turns a
CDF-enabled ManagedTable into an incremental feed: offsets are table
VERSIONS (the natural exactly-once cursor — the same one Delta's
``readChangeFeed`` streaming uses), each micro-batch covers the
commits between two versions, and every emitted row carries
``_change_type`` ('insert' / 'update_postimage' / 'update_preimage' /
'delete') and ``_commit_version``. This is the engine-native way to
chain pipelines: table A's writer commits, table B's maintainer
streams A's deltas — no file listing, no external queue.

    from component_delta_lake_writer_spark.streaming.cdf_source import (
        register,
    )
    register(spark)
    feed = (spark.readStream.format("table_changes_stream")
            .option("path", table.path).load())

Scale posture: offset planning is driver-side COMMIT METADATA (which
versions, which files — one forward pass over the table's log per
batch); the data plane is one InputPartition per change file, read
worker-side via pyarrow into one Arrow batch per file. Partitioned
tables recover hive partition values from the directory layout; a
change-set commit's rows are the change files its cdc actions name.
Commits a CDF stream cannot attribute (overwrite / restore) raise
rather than silently emitting wrong deltas — the same contract as
``ManagedTable.read_changes``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from component_delta_lake_writer_spark.errors import UserException

# commit classification is SHARED with batch read_changes so the two
# surfaces can never drift on where a commit's changes live; the
# light cdf_actions module keeps the Python-worker import chain free
# of the full table engine (worker cold-start cost)
from component_delta_lake_writer_spark.sinks.cdf_actions import (
    commit_changes,
)


def _table(table_path: str):
    """The table's log reader — imported here, on the planning side
    only: partition reads in the workers never load the table engine."""
    from component_delta_lake_writer_spark.sinks.managed_table import (
        ManagedTable,
    )

    return ManagedTable(None, table_path)


class _ChangeFilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        version: int,
        change_type: str | None,
        partition_values: dict,
        dv: tuple[str, dict] | None = None,
    ):
        self.path = path
        self.version = version
        self.change_type = change_type  # None → column present in file
        self.partition_values = partition_values
        # logical -> physical, the batch's range end's (set by
        # partitions()): every file stores physical names
        self.mapping: dict = {}
        # (table path, deletionVector descriptor) of this file: the
        # worker drops the rows at the positions it marks deleted
        self.dv = dv


class CdfStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.table_path = (options.get("path") or "").rstrip("/")
        if not self.table_path:
            raise UserException(
                "table_changes_stream requires .option('path', <table>)"
            )
        self.schema = schema
        self.starting_version = options.get("startingVersion")

    # ---- offsets: {"version": n} = commits <= n consumed ----

    def initialOffset(self) -> dict:
        vs = _table(self.table_path)._versions()
        if not vs:
            raise UserException(f"No table at {self.table_path}")
        if self.starting_version is not None:
            # INCLUSIVE, Delta semantics: startingVersion=N streams
            # commit N itself (0 → the initial snapshot as inserts).
            # Validated here so a bad option surfaces as a clear
            # UserException, not a FileNotFoundError mid-batch.
            try:
                sv = int(self.starting_version)
            except (TypeError, ValueError):
                raise UserException(
                    f"startingVersion must be an integer, got "
                    f"{self.starting_version!r}"
                ) from None
            if sv < 0 or sv > vs[-1]:
                raise UserException(
                    f"startingVersion {sv} is outside the table's "
                    f"history [0, {vs[-1]}] (Delta raises the same way "
                    "for a version after the latest)."
                )
            return {"version": sv - 1}
        # Delta parity: without startingVersion, the stream's first
        # batch is the LATEST SNAPSHOT emitted as inserts (stamped with
        # the snapshot's commit version), then future changes follow.
        # The extra "snapshot_of" key makes the initial offset differ
        # from latestOffset's JSON, so the bootstrap batch always runs.
        return {"version": vs[-1], "snapshot_of": vs[-1]}

    def latestOffset(self) -> dict:
        vs = _table(self.table_path)._versions()
        return {"version": vs[-1] if vs else 0}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        table = _table(self.table_path)
        parts: list[_ChangeFilePartition] = []
        c = None
        if start.get("snapshot_of") is not None:
            # bootstrap batch (default start): the whole snapshot at
            # that version streams as inserts; changes resume after it.
            # Files with deletion vectors carry their descriptor so
            # workers drop the deleted positions — the snapshot must
            # equal ManagedTable.read(), not the raw union of files.
            snap = int(start["snapshot_of"])
            c = table.commit_at(snap)
            for u in c.data_units:
                parts.extend(
                    self._unit_files(
                        os.path.join(self.table_path, "_data", u),
                        snap, "insert",
                        dvs=c.deletion_vectors,
                        table_path=self.table_path,
                    )
                )
            lo = snap
        # one forward pass over the log from the offset's version
        commits = list(table._walk(max(lo, 0), hi)) if hi > lo else []
        prev = commits.pop(0) if lo >= 0 and commits else None
        for c in commits:
            if c.action in ("create", "overwrite") and not (
                prev and prev.data_units
            ):
                # the stream's first commit: its snapshot IS the
                # insert set (startingVersion=0 bootstrap)
                units, files = c.data_units, []
            else:
                units, files = commit_changes(
                    self.table_path, prev, c, "table_changes_stream"
                )
            for u in units:
                parts.extend(
                    self._unit_files(
                        os.path.join(self.table_path, "_data", u),
                        c.version, "insert",
                    )
                )
            parts += [
                _ChangeFilePartition(
                    os.path.join(self.table_path, f), c.version, None, {}
                )
                for f in files
            ]
            prev = c
        # every file resolves its columns through the range end's
        # mapping (``c``: the last commit seen), as read_changes does
        for p in parts:
            p.mapping = c.column_mapping
        return parts

    @staticmethod
    def _unit_files(base, version, change_type, dvs=None, table_path=None):
        from component_delta_lake_writer_spark.sinks.hive_layout import (
            decode_segments,
        )

        out = []
        for root, _dirs, files in os.walk(base):
            pvals = decode_segments(os.path.relpath(root, base))
            for fn in sorted(files):
                if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                    path = os.path.join(root, fn)
                    d = dvs and dvs.get(os.path.relpath(path, table_path))
                    out.append(
                        _ChangeFilePartition(
                            path, version, change_type, pvals,
                            dv=(table_path, d) if d else None,
                        )
                    )
        return out

    def read(self, partition: _ChangeFilePartition):
        """One Arrow record batch per file, cast once to the stream
        schema — Spark takes it as is, no per-row Python values."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        file_cols = set(pq.ParquetFile(partition.path).schema_arrow.names)
        # Resolve each stream field to its source column FIRST, so the
        # read decodes only the columns actually consumed (files may
        # carry dead physical columns after drops/renames). Data-unit
        # and change files alike store PHYSICAL names — the
        # column-mapping lookup must win, or a logical name would
        # resurrect some other column's shadowed old bytes that
        # add_column/rename deliberately hid (managed_table add_column
        # contract).
        const = {"_commit_version": partition.version}
        if partition.change_type:
            const["_change_type"] = partition.change_type
        resolve = {}
        for f in self.schema.fields:
            phys = partition.mapping.get(f.name, f.name)
            if f.name not in const and phys in file_cols:
                resolve[f.name] = phys
        tbl = pq.read_table(
            partition.path, columns=sorted(set(resolve.values()))
        )
        if partition.dv is not None:
            from component_delta_lake_writer_spark.sinks.deletion_vectors import (  # noqa: E501
                read_dv,
            )

            keep = np.ones(tbl.num_rows, dtype=bool)
            keep[np.fromiter(read_dv(*partition.dv), dtype=np.int64)] = False
            tbl = tbl.filter(pa.array(keep))
        n = tbl.num_rows
        if not n:
            return
        target = to_arrow_schema(self.schema)
        cols = []
        for f in target:
            if f.name in const:
                cols.append(pa.repeat(pa.scalar(const[f.name]), n))
            elif f.name in resolve:
                cols.append(tbl.column(resolve[f.name]))
            elif f.name in partition.partition_values:
                # hive-dir values are strings; a timestamp one carries
                # no zone, so it parses naive and the cast reads it as
                # UTC (the session zone batch reads use)
                v = pa.scalar(partition.partition_values[f.name], pa.string())
                if pa.types.is_timestamp(f.type):
                    v = v.cast(pa.timestamp(f.type.unit))
                cols.append(pa.repeat(v, n))
            else:
                cols.append(pa.nulls(n))
        # files written before a widen_column_type keep their narrower
        # pages (int→double, date→timestamp_ntz): the one cast widens
        # them as Spark's own parquet reader does for batch reads
        out = pa.Table.from_arrays(cols, names=target.names).cast(target)
        yield out.combine_chunks().to_batches()[0]

    def commit(self, end: dict) -> None:
        pass  # offsets are durable table versions; nothing to ack


class CdfStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "table_changes_stream"

    def schema(self):
        path = (self.options.get("path") or "").rstrip("/")
        c = _table(path).latest_commit() if path else None
        if c is None:
            raise UserException(f"No table at {path!r}")
        base = T.StructType.fromJson(json.loads(c.schema_json))
        fields = list(base.fields) + [
            T.StructField("_change_type", T.StringType(), True),
            T.StructField("_commit_version", T.LongType(), False),
        ]
        return T.StructType(fields)

    def streamReader(self, schema: T.StructType):
        return CdfStreamReader(schema, self.options)


def register(spark) -> None:
    spark.dataSource.register(CdfStreamDataSource)
