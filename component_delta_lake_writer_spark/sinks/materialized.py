"""Incrementally-maintained materialized aggregates over ManagedTable.

The continuous-aggregate shape (Timescale continuous aggregates,
Databricks materialized views, Flink upsert sinks): a grouped
count/sum rollup whose refresh cost tracks the CHANGES since the last
refresh, not the source size — at 100 TB the difference between a
per-batch O(delta-groups) upsert and a full recompute.

Mechanics: the source table's change data feed supplies signed deltas
(+1 for ``insert``/``update_postimage``, −1 for ``update_preimage`` —
pre-images require the source table property
``changeDataFeedPreImages``; append-only ranges need no pre-images at
all). Deltas aggregate to per-group adjustments, join against the
CURRENT values of just those groups, and merge back via the ordinary
PK upsert. Groups whose count reaches zero stay as tombstone rows
(n_rows = 0) filtered at read time — strictly O(delta) maintenance
with no per-group DELETE pass; optimize() compacts them away.

Exactness: sums accumulate as exact 6-digit fixed-point values
(``functions.exact``) stored as ``exact.accumulator`` so incremental
adds/subtracts are bit-exact against a full recompute — float sums
would drift and the two paths could never be differentially tested.

Fallback: any range the CDF cannot attribute (overwrite/restore/DML
crossings, pre-images missing while updates occurred) degrades to a
full recompute, never to wrong numbers. Either path records the source
version it reflects as the ``mv::<source path>`` writer txn — the
watermark every change-feed follower keeps (``sinks.replicate``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.errors import UserException
from component_delta_lake_writer_spark.functions.exact import (
    accumulator,
    exact_sum,
    quantize,
)
from component_delta_lake_writer_spark.sinks.managed_table import (
    ManagedTable,
    txn_applied,
)
from component_delta_lake_writer_spark.sinks.replicate import (
    follower_id,
    watermark,
)


class IncrementalAggregate:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        source: ManagedTable,
        group_by: list[str],
        sums: dict[str, str] | None = None,
    ):
        """``sums`` maps output column name → source SQL expression;
        each is maintained as an exact 6-digit sum alongside the
        ``n_rows`` count. Group-key columns must be non-null (they are
        the materialized table's primary key)."""
        if not group_by:
            raise UserException("group_by must name at least one column")
        self.spark = spark
        self.table = ManagedTable(spark, path)
        self.source = source
        self.group_by = list(group_by)
        self.sums = dict(sums or {})

    # ---------- aggregation shapes ----------

    def _compute_full(self, df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")] + [
            accumulator(exact_sum(F.expr(e), 6), 6).alias(name)
            for name, e in self.sums.items()
        ]
        return df.groupBy(*self.group_by).agg(*aggs)

    def _compute_delta(self, changes: DataFrame) -> DataFrame:
        sign = (
            F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                F.lit(1),
            )
            .when(
                F.col("_change_type").isin("update_preimage", "delete"),
                F.lit(-1),
            )
            .otherwise(F.lit(0))
        )
        aggs = [F.sum(sign).cast("long").alias("_dn")] + [
            accumulator(F.sum(sign * quantize(F.expr(e), 6)), 6).alias(
                f"_d_{name}"
            )
            for name, e in self.sums.items()
        ]
        return changes.groupBy(*self.group_by).agg(*aggs)

    # ---------- refresh ----------

    def refresh(self) -> str:
        """Bring the materialization up to the source head. Returns
        'full', 'incremental', or 'noop' — which path actually ran."""
        head = self.source.latest_commit()
        if head is None:
            raise UserException("source table does not exist")
        app_id = follower_id("mv", self.source)
        txn = (app_id, head.version)
        if txn_applied(self.table.latest_commit(), txn):
            return "noop"
        last = watermark(self.table, app_id)
        if last is None:
            return self._full(txn)
        try:
            changes = self.source.read_changes(
                last, head.version, with_change_type=True
            )
        except UserException:
            return self._full(txn)
        # pre-images are persisted per COMMIT under the property in
        # effect at write time — checking only the head's property
        # would run the incremental path over update change sets that
        # lack the -1 pre-image rows (property enabled mid-history),
        # silently overstating every count and sum forever
        crossed = list(self.source._walk(last + 1, head.version))
        for c in crossed:
            if c.action in ("append", "optimize", "delete"):
                continue  # additive / no-op / carries removed images
            if not (c.properties or {}).get("changeDataFeedPreImages"):
                return self._full(txn)
        delta = self._compute_delta(changes)
        current = self.table.read()
        merged = delta.join(current, self.group_by, "left").select(
            *self.group_by,
            (F.coalesce(F.col("n_rows"), F.lit(0)) + F.col("_dn"))
            .cast("long")
            .alias("n_rows"),
            *[
                accumulator(
                    F.coalesce(F.col(name), F.lit(0))
                    # the DELTA coalesces too: a group whose change
                    # rows all carry NULL for this sum yields a NULL
                    # delta, and NULL + current would null the stored
                    # aggregate (a full recompute ignores NULLs)
                    + F.coalesce(F.col(f"_d_{name}"), F.lit(0)),
                    6,
                ).alias(name)
                for name in self.sums
            ],
        )
        self.table.upsert(merged, self.group_by, txn=txn)
        return "incremental"

    def _full(self, txn: tuple[str, int]) -> str:
        # PIN the snapshot to the version the txn records: an unpinned
        # read() can see a commit that landed after the head capture,
        # and the next refresh would re-apply that commit's changes
        mv = self._compute_full(self.source.read(version=txn[1]))
        self.table.write(
            mv, mode="overwrite", primary_key=self.group_by, txn=txn
        )
        return "full"

    def read(self) -> DataFrame:
        """Materialized state, tombstoned groups excluded."""
        return self.table.read().filter(F.col("n_rows") > 0)
