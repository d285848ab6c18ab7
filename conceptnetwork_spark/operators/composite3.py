"""Third wave of TPC-H-shaped composites (Q2, Q6, Q9, Q11, Q20 shapes),
adapted to the driver testdata's lean schema (no partsupp table, so
supply-cost/availqty predicates are re-expressed over the columns that do
exist: s_acctbal for Q2's min-cost correlation, p_retailprice for Q9's
cost term, lineitem-derived quantities for Q11/Q20's stock math).

Together with `relational`/`subqueries`/`composite2` this completes the
22-query TPC-H pattern family. New relational patterns exercised here:

- Q2: correlated scalar subquery whose correlation key comes from a JOINED
  dimension (region via nation), decorrelated to a per-region broadcast min;
- Q6: the pure scan query — every predicate must reach the parquet scan,
  zero joins, single partial+final agg to one row;
- Q9: five-way join with an arithmetic profit expression spanning columns
  of three different tables;
- Q11: group-by HAVING against a scalar aggregate over the SAME derived
  relation (computed once, reused for both sides);
- Q20: semi-join driven by a per-group aggregate threshold (qty above the
  part's cross-supplier average).

Scale rules: nation/region/supplier/part broadcast (dimension-sized);
lineitem⋈orders on orderkey is the one unavoidable shuffle; Q11/Q20 reuse
one aggregated lineitem pass rather than re-scanning; every agg is
partial+final so only group partials cross the wire.

Reference anchor: the reference has no relational surface (SURVEY §2.1
"not present" list); these are part of the declared engine surface
(SURVEY §2.2 D4/D6/D9 families).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.registry import register


# --------------------------------------------------------------------------
# Q2 shape — min-value supplier per region (correlated scalar subquery
# whose correlation key is reached through a join)
# --------------------------------------------------------------------------
@register(
    "d04_q2_min_acctbal_supplier",
    oracle="""
    SELECT s_name, n_name, ROUND(s_acctbal, 4) AS acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_acctbal = (SELECT MIN(s2.s_acctbal)
                       FROM supplier s2
                       JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
                       WHERE n2.n_regionkey = nation.n_regionkey)
    ORDER BY s_name
    """,
)
def d04_q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (partsupp-free): the supplier with the minimum
    account balance in each region, where the correlation key (region) is
    only reachable through the nation join. Decorrelated the way Q2 always
    should be at scale: one groupBy(region).min() over the already-joined
    supplier side, broadcast back, equality filter. The min is one of the
    compared values, so the double equality is exact in both engines."""
    t = catalog(spark, sf_dir)
    sup_n = t.supplier.join(
        F.broadcast(t.nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    region_min = sup_n.groupBy("n_regionkey").agg(
        F.min("s_acctbal").alias("min_bal")
    )
    eu = t.region.where(F.col("r_name") == "EUROPE")
    return (
        sup_n.join(F.broadcast(eu), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(region_min), "n_regionkey")
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .select(
            "s_name", "n_name", F.round("s_acctbal", 4).alias("acctbal")
        )
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# Q6 shape — the pure-scan forecast query (no joins at all)
# --------------------------------------------------------------------------
@register(
    "d09_q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def d09_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: scan → filter → one-row agg. The whole point of this shape
    is the plan: all four predicates pushed to the parquet scan (range on
    shipdate prunes row groups via min/max stats), two-column ReadSchema,
    partial+final agg, nothing else. Asserted in test_plans."""
    li = catalog(spark, sf_dir).lineitem
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --------------------------------------------------------------------------
# Q9 shape — product-line profit by nation and year (5-way join,
# cross-table arithmetic in the aggregate)
# --------------------------------------------------------------------------
@register(
    "d09_q9_product_profit",
    oracle="""
    SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)
                     - 0.01 * p_retailprice * l_quantity), 4) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, YEAR(o_orderdate)
    ORDER BY nation, o_year
    """,
)
def d09_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape with cost re-expressed as 1% of retail price per unit
    (no partsupp.ps_supplycost in the lean schema). The selective p_name
    filter lives on the broadcast part side, so it prunes lineitem rows at
    the broadcast-hash probe before the orders shuffle — join order matters
    at 100 TB and is encoded here, not left to chance."""
    t = catalog(spark, sf_dir)
    parts = t.part.where(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.01 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        t.lineitem.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 4).alias("profit"))
        .orderBy("nation", "o_year")
    )


# --------------------------------------------------------------------------
# Q11 shape — important stock: HAVING against a scalar aggregate over the
# same derived relation
# --------------------------------------------------------------------------
@register(
    "d09_q11_important_parts",
    oracle="""
    WITH vals AS (
      SELECT l_partkey AS p_key,
             SUM(l_extendedprice * l_quantity) AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey)
    SELECT p_key, ROUND(value, 4) AS value
    FROM vals
    WHERE value > (SELECT 0.001 * SUM(value) FROM vals)
    ORDER BY value DESC, p_key
    """,
)
def d09_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part stock value for one nation's suppliers,
    keeping parts above a fraction of that nation's total. The derived
    relation is computed ONCE and reused for both the rows and the global
    threshold (cached local view), exactly how Q11 must run at scale — two
    aggregations over one shuffle output, not two scans. The threshold
    compare is a broadcast of a single row (cross join), never a collect."""
    t = catalog(spark, sf_dir)
    nat = t.nation.where(F.col("n_name") == "NATION_3").select("n_nationkey")
    sups = t.supplier.join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    vals = (
        t.lineitem.join(F.broadcast(sups), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_key"))
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
    )
    total = vals.agg((F.sum("value") * 0.001).alias("threshold"))
    return (
        vals.join(F.broadcast(total))
        .where(F.col("value") > F.col("threshold"))
        .select("p_key", F.round("value", 4).alias("value"))
        .orderBy(F.col("value").desc(), "p_key")
    )


# --------------------------------------------------------------------------
# Q20 shape — suppliers exceeding a per-part aggregate threshold
# (aggregate-driven semi-join chain)
# --------------------------------------------------------------------------
@register(
    "d06_q20_heavy_suppliers",
    oracle="""
    WITH sp AS (
      SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%red%'
      GROUP BY l_suppkey, l_partkey),
    avgq AS (
      SELECT l_partkey, AVG(qty) AS aq FROM sp GROUP BY l_partkey)
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5'
      AND s_suppkey IN (SELECT sp.l_suppkey
                        FROM sp JOIN avgq ON sp.l_partkey = avgq.l_partkey
                        WHERE sp.qty > avgq.aq)
    ORDER BY s_name
    """,
)
def d06_q20_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who shipped more of a 'red'
    part than that part's cross-supplier average (availqty > ½·sum in the
    original, re-based on lineitem). The quantity sums are exact (integral
    doubles), so qty > avg is engine-stable. Plan: one (suppkey, partkey)
    aggregate, a per-part re-aggregate of THAT output (tiny), broadcast
    back, then a semi-join into the supplier dimension — the lineitem scan
    happens once."""
    t = catalog(spark, sf_dir)
    red = t.part.where(F.col("p_name").like("%red%")).select("p_partkey")
    sp = (
        t.lineitem.join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    avgq = sp.groupBy("l_partkey").agg(F.avg("qty").alias("aq"))
    heavy = (
        sp.join(F.broadcast(avgq), "l_partkey")
        .where(F.col("qty") > F.col("aq"))
        .select("l_suppkey")
        .distinct()
    )
    nat = t.nation.where(F.col("n_name") == "NATION_5")
    return (
        t.supplier.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )
