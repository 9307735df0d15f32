"""Metadata-plane sync actions (E3; reference src/component.py:386-422).

The reference dispatches ``configuration.action`` to Databricks/Keboola
REST listings and prints ``SelectElement`` lists. Spark-first, these
are ``spark.catalog`` calls; each action returns a DataFrame with a
stable (value, label) contract matching the reference's SelectElement
shape (src/component.py:389-390).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from component_delta_lake_writer_spark.errors import UserException
from component_delta_lake_writer_spark.session import local_relation


def _elements(spark: SparkSession, rows: list[tuple[str, str]]) -> DataFrame:
    """(value, label) rows as the actions' SelectElement relation."""
    return local_relation(
        spark, "value string, label string", list(zip(*rows))
    )


def list_catalogs(spark: SparkSession) -> DataFrame:
    """C1 (src/component.py:386-390)."""
    rows = [(c.name, c.name) for c in spark.catalog.listCatalogs()]
    return _elements(spark, rows)


def list_schemas(spark: SparkSession) -> DataFrame:
    """C2 (src/component.py:392-396)."""
    rows = [(d.name, d.name) for d in spark.catalog.listDatabases()]
    return _elements(spark, rows)


def list_tables(spark: SparkSession, db: str | None = None) -> DataFrame:
    """C3 (src/component.py:398-402); includes temp views, like UC
    listings include all addressable tables."""
    tables = spark.catalog.listTables(db) if db else spark.catalog.listTables()
    rows = [(t.name, t.name) for t in tables]
    return _elements(spark, rows)


def list_warehouses(spark: SparkSession) -> DataFrame:
    """C4 (src/component.py:404-408): no warehouse concept — the single
    Spark session is the one execution endpoint."""
    rows = [
        (
            spark.sparkContext.applicationId,
            f"spark:{spark.version}:{spark.sparkContext.master}",
        )
    ]
    return _elements(spark, rows)


def list_table_columns(spark: SparkSession, table: str) -> DataFrame:
    """C5 (src/component.py:410-422): columns of a mapped input."""
    try:
        cols = spark.catalog.listColumns(table)
    except Exception as exc:  # mirror the reference's UserException taxonomy
        raise UserException(f"Cannot list columns of {table!r}: {exc}") from exc
    rows = [(c.name, f"{c.name} ({c.dataType})") for c in cols]
    return _elements(spark, rows)


def table_exists(spark: SparkSession, table: str) -> bool:
    """C6 (src/component.py:118-121)."""
    return spark.catalog.tableExists(table)


def msck_repair(spark: SparkSession, table_path: str) -> DataFrame:
    """W14: ``MSCK REPAIR TABLE … SYNC METADATA``
    (src/component.py:113-115). The reference resyncs Unity Catalog
    from the Delta log after an external write; here it converts a
    table an earlier engine version wrote to the ``_delta_log``-only
    layout (ManagedTable.sync_metadata) and reports the count in the
    action's (value, label) contract."""
    from component_delta_lake_writer_spark.sinks import ManagedTable

    t = ManagedTable(spark, table_path)
    if not t.exists():
        raise UserException(f"No table at {table_path}")
    n = t.sync_metadata()
    return _elements(spark, [(str(n), f"converted {n} legacy table log")])


ACTIONS = {
    "list_uc_catalogs": list_catalogs,
    "list_uc_schemas": list_schemas,
    "list_uc_tables": list_tables,
    "list_warehouses": list_warehouses,
}


def execute_action(spark: SparkSession, action: str, **kwargs) -> DataFrame:
    """E3 dispatch (src/component.py:428-438 execute_action routing).

    The action is RESOLVED before it is called (a KeyError raised
    inside an action must not be misreported as 'Unknown action'),
    required kwargs get the UserException taxonomy, and kwargs pass
    through to the table-list actions (list_uc_tables with db=...
    previously listed the CURRENT database and dropped the scope)."""
    if action == "list_table_columns":
        if "table" not in kwargs:
            raise UserException(
                "Action 'list_table_columns' requires table=<name>."
            )
        return list_table_columns(spark, kwargs["table"])
    if action == "msck_repair":
        if "table_path" not in kwargs:
            raise UserException(
                "Action 'msck_repair' requires table_path=<path>."
            )
        return msck_repair(spark, kwargs["table_path"])
    fn = ACTIONS.get(action)
    if fn is None:
        raise UserException(f"Unknown action: {action!r}")
    import inspect

    accepted = set(inspect.signature(fn).parameters) - {"spark"}
    unknown = set(kwargs) - accepted
    if unknown:
        raise UserException(
            f"Action {action!r} does not accept {sorted(unknown)}."
        )
    return fn(spark, **kwargs)
