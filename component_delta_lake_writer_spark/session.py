"""SparkSession factory — the engine's single execution substrate.

Replaces the reference's three engines (DuckDB conn src/component.py:367-384,
delta-rs writer src/component.py:353-365, Databricks warehouse
src/component.py:281-299) with one session.

Resource knobs map the reference's X2 surface (threads / max_memory /
temp_directory, src/component.py:371-384) onto ``local[n]`` /
``spark.driver.memory`` / ``spark.local.dir``.

Scale posture (100 TB design, tested on local[32]):
- AQE on: runtime coalescing, skew-join splitting, dynamic join
  strategy switch — the knobs that keep a fixed plan viable at 1000x.
- shuffle.partitions sized to cores locally; on a real cluster this is
  superseded by AQE's coalescing from a high initial number.
- Arrow enabled for the (rare) pandas-UDF paths.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are cluster-location-independent.
- Python call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). PySpark
  otherwise wraps every Column method and ``functions.*`` call so it
  records the caller's ``file:line`` in the JVM: about four Py4J round
  trips per call (active session, a conf read, origin set and clear),
  which made building a dedup plan cost thousands of round trips.
  Without it, errors keep their error class, message and SQL context
  and lose only the Python "DataFrame query context" line. PySpark
  reads the flag once per Python process, at the first Column call,
  and caches it.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    import pyarrow as pa

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _host_memory() -> str:
    """Half the host's physical memory in whole GiB, at least 1g and at
    most 32g. Local mode runs driver AND executors in one JVM whose
    heap defaults to 1g — a 32-thread session with 64 MB broadcast
    joins OOMs on any real workload long before the host's memory is
    touched — but a heap the size of the host leaves nothing for the
    Python workers, and the kernel kills the JVM instead."""
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32, max(1, host // 2 >> 30))}g"


# Default to the host profile (the reference likewise sizes max_memory
# to its host); callers with a capped profile pass ``memory``
# explicitly or set SPARK_GRAFT_MEMORY.
DEFAULT_MEMORY = os.environ.get("SPARK_GRAFT_MEMORY") or _host_memory()


def get_spark(
    app_name: str = "component-delta-lake-writer-spark",
    threads: int | None = None,
    memory: str | None = None,
    temp_directory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    ``threads``/``memory``/``temp_directory`` mirror the reference's
    local-engine caps (src/configuration.py:53-54; defaults there are
    threads=1, max_memory=256MB — we default to the host profile
    instead and let callers opt into the capped profile).

    Python call-site capture is off: with it on, every Column and
    ``functions.*`` call pays about four JVM round trips to record
    where it was made, and errors would gain only a Python ``file:line``
    query context (their class, message and SQL context are the same
    either way). PySpark caches the flag for the life of the Python
    process at the first Column call, so an ``extra_conf`` override
    takes effect only if given before any Column is built.
    """
    n = threads or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # parquet TIMESTAMP(NANOS) (e.g. the events table) is otherwise
        # unreadable: PARQUET_TYPE_ILLEGAL. Read as raw int64 ns and let
        # tables.load_events() convert to TIMESTAMP_NTZ microseconds.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT96 (Spark's legacy default) writes NO parquet min/max
        # stats, killing timestamp file skipping — the single most
        # valuable pruning dimension for time-partitioned tables.
        # TIMESTAMP_MICROS restores footer stats and is what delta-rs
        # and every modern reader expect.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    builder = builder.config(
        "spark.driver.memory", memory or DEFAULT_MEMORY
    )
    if temp_directory:
        builder = builder.config("spark.local.dir", temp_directory)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_relation(
    spark: SparkSession,
    schema: StructType | str | None,
    columns: Sequence[Sequence] | pa.Table = (),
) -> DataFrame:
    """A driver-built relation (lookup map, row-index set, empty frame)
    handed to Spark as Arrow.

    ``createDataFrame(<python list>)`` plans as a ``LogicalRDD``: each
    execution runs a Python-worker job, even for zero rows, and its
    size estimate is ``Long.MAX``, so a join against it is never
    planned as a broadcast up front. An Arrow table plans as a
    ``LocalRelation``: no job of its own and exact size statistics.

    ``columns`` holds one sequence per field of ``schema`` (a
    StructType or DDL string); leave it empty for a zero-row relation.
    A ``pyarrow.Table`` is taken as is, under its own schema when
    ``schema`` is None. A naive datetime in a TIMESTAMP field is local
    wall-clock time, as ``createDataFrame`` and ``collect`` read it
    (pyarrow alone would read it as UTC).
    """
    import datetime

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    def array(values: Sequence, field: pa.Field) -> pa.Array:
        if pa.types.is_timestamp(field.type) and field.type.tz:
            values = [
                v.astimezone(datetime.timezone.utc)
                if isinstance(v, datetime.datetime) and v.tzinfo is None
                else v
                for v in values
            ]
        return pa.array(values, type=field.type)

    if isinstance(columns, pa.Table):
        return spark.createDataFrame(columns, schema)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    table = (
        pa.Table.from_arrays(
            [array(c, f) for c, f in zip(columns, arrow)],
            schema=arrow,
        )
        if columns
        else arrow.empty_table()
    )
    return spark.createDataFrame(table, schema)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
