"""TPC-H shapes Q2/Q9/Q12/Q16/Q20 — the last five of the 22 canonical
query shapes (the other 17 are in extra_queries.py).  The fixture star
schema has no ``partsupp`` table and lacks a few columns
(``l_shipmode``/``l_commitdate``/``l_receiptdate``, ``s_comment``,
``p_mfgr``/``p_container``), so each probe keeps the *plan shape* —
correlated min over a derived part-supplier relation, multi-way profit
tree, conditional lateness aggregation, distinct-count with NOT IN,
nested IN over an aggregated subquery — while substituting available
columns.  Substitutions are noted per query.

Same determinism rules as query_registry: per-row DOUBLE arithmetic is
written with identical operation order on both engines, every SUM goes
through an exact DECIMAL cast, threshold/equality comparisons happen on
exact decimals, and final projections present DOUBLE (never DECIMAL —
driver-hash rule)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.exact import (
    exact_sum,
    quantize,
    ratio,
)
from component_delta_lake_writer_spark.plans.query_registry import query
from component_delta_lake_writer_spark.tables import load_table


def _part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture has no partsupp; derive the part-supplier relation
    from lineitem with an exact-decimal unit cost (min observed
    extendedprice/quantity per (part, supplier)).  Decimal division
    with a pinned result scale keeps the correlated-min equality in Q2
    safe from double ulps across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(ratio("l_extendedprice", "l_quantity", 8)).alias("ps_supplycost")
    )


_PS_SQL = """
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        MIN(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                 / CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(24,8)))
          AS ps_supplycost
      FROM lineitem GROUP BY 1, 2
"""


@query(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    eu AS (
      SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost,
             s.s_name, s.s_acctbal, n.n_name
      FROM ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand,
           e.ps_suppkey AS s_suppkey,
           CAST(e.ps_supplycost AS DOUBLE) AS supplycost
    FROM part p
    JOIN eu e ON e.ps_partkey = p.p_partkey
    JOIN (
      SELECT ps_partkey, MIN(ps_supplycost) AS min_cost
      FROM eu GROUP BY ps_partkey
    ) m ON m.ps_partkey = p.p_partkey AND e.ps_supplycost = m.min_cost
    WHERE p.p_type = 'LARGE' AND p.p_size <= 5
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey, s_suppkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each filtered part, the region-local
    supplier(s) achieving the minimum supply cost — the canonical
    correlated-MIN subquery, decorrelated into a window-min over the
    region-scoped part-supplier relation (what Catalyst's
    RewriteCorrelatedScalarSubquery produces).  Substitutions:
    partsupp derived from lineitem (_part_supplier), p_mfgr → p_brand,
    comment/address columns dropped.  The min-equality happens on an
    exact DECIMAL(24,8), so no double ulp can flip membership; the
    ORDER BY carries a full tiebreak chain so LIMIT 100 is
    deterministic cross-engine.  Scale: supplier/nation/region are
    broadcast; the only shuffle of the fact-derived ps relation is the
    groupBy in _part_supplier, reused by the window via the same
    partitioning key."""
    ps = _part_supplier(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 5)
    )
    eu = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .select("ps_partkey", "ps_suppkey", "ps_supplycost", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eu.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.col("ps_suppkey").alias("s_suppkey"),
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            "n_name",
            "s_name",
            "p_partkey",
            "s_suppkey",
        )
        .limit(100)
    )


@query(
    "tpch_q9_product_type_profit",
    oracle="""
    SELECT n.n_name AS nation, YEAR(o.o_orderdate) AS o_year,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                    - p.p_retailprice * l.l_quantity * 0.1
               AS DECIMAL(25,6))) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY n.n_name, YEAR(o.o_orderdate)
    """,
)
def tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year over a
    5-table tree keyed by a part-name substring filter.  Substitution:
    no partsupp, so ps_supplycost*l_quantity becomes
    p_retailprice*l_quantity*0.1 (same row-level double expression,
    identical operation order both engines; the SUM is decimal-exact).
    Scale: part (after the name filter), supplier, and nation
    broadcast; lineitem⋈orders is the one big shuffle and partial
    aggregation runs map-side before the (nation, year) exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    profit = quantize(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1),
        6,
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


@query(
    "tpch_q12_late_shipment_priority",
    oracle="""
    SELECT
      CASE WHEN DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE)) > 90
           THEN 'slow' ELSE 'fast' END AS ship_bucket,
      CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
    GROUP BY 1
    """,
)
def tpch_q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional (CASE-sum) aggregation over
    a derived shipping bucket.  Substitution: no l_shipmode /
    l_commitdate / l_receiptdate, so the two ship modes become
    day-lateness buckets (shipdate − orderdate > 90 days ⇒ 'slow') and
    the receipt/commit predicates become shipdate ≥ orderdate.  The
    date difference is computed on DATE-truncated values in both
    engines.  Scale: one fact-fact shuffle join; both CASE sums fold
    into a single partial aggregate."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .withColumn(
            "ship_bucket",
            F.when(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
                > 90,
                F.lit("slow"),
            ).otherwise(F.lit("fast")),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#4'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
      AND ps.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type,
    size) with a NOT IN exclusion of flagged suppliers.  Substitutions:
    part-supplier pairs derived from lineitem; the s_comment
    'Customer Complaints' filter becomes s_acctbal < 0 (empty at
    sf0.001, 6 suppliers at sf0.01 — the anti-join shape is exercised
    either way).  Scale: the exclusion set is a broadcast anti-join
    (NOT IN with non-nullable keys ⇒ left_anti); COUNT(DISTINCT)
    expands to two-phase aggregation over the already-distinct pair
    relation."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    ps = li.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(
            F.broadcast(bad),
            ps.l_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q20_excess_volume_suppliers",
    oracle="""
    SELECT s.s_name, s.s_suppkey, n.n_name,
           CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      WHERE l.l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l.l_suppkey
      HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 1400
    )
    """,
)
def tpch_q20_excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN subqueries — suppliers whose shipped
    volume of 'red%' parts since a date exceeds a threshold.
    Substitution: no partsupp/ps_availqty, so the 0.5*sum(l_quantity)
    stock comparison becomes an absolute decimal-exact HAVING
    threshold over the same grouped relation; the part IN-list keeps
    the inner subquery.  Scale: the part keyset broadcasts into a
    semi-join on lineitem (filter before shuffle), the qualifying
    supplier keyset (≤ |supplier|) broadcasts into the outer
    semi-join — the fact table is scanned once."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem")
    red = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    qualifying = (
        li.filter(
            F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz")
        )
        .join(F.broadcast(red), li.l_partkey == red.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(exact_sum("l_quantity", 2).alias("qty"))
        .filter(F.col("qty") > 1400)
        .select("l_suppkey")
    )
    return (
        s.join(
            F.broadcast(qualifying), s.s_suppkey == F.col("l_suppkey"), "left_semi"
        )
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .select(
            "s_name",
            "s_suppkey",
            "n_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
        )
    )
