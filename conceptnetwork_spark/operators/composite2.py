"""Second wave of TPC-H-shaped composite queries (Q7, Q8, Q12, Q14, Q15,
Q21 shapes), adapted to the driver testdata's leaner schema (no partsupp,
no l_shipmode/l_commitdate/l_receiptdate — lateness is expressed against
o_orderdate instead).

These exercise the remaining classic relational patterns on top of
SURVEY §2.2's D4/D8/D9 families:

- self-join of a dimension (nation) under two roles (Q7/Q8)
- conditional aggregation ratios (Q8 market share, Q14 promo ratio)
- CASE-based pivot counts over a join (Q12)
- max-of-aggregate scalar subquery (Q15)
- "only one among peers" double-EXISTS, decorrelated to per-group
  aggregates instead of per-row probes (Q21)

Scale rule shared by all six: nation/region/supplier are broadcast
dimensions; the lineitem⋈orders shuffle on orderkey is the one heavy
exchange, and every aggregation is partial+final so only group partials
cross the wire.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.registry import register


# --------------------------------------------------------------------------
# Q7 shape — volume shipping between two nations (dimension in two roles)
# --------------------------------------------------------------------------
@register(
    "d04_q7_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           YEAR(l_shipdate) AS l_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def d04_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the nation dimension joined twice under different
    roles (supplier side and customer side). Both nation joins broadcast;
    the pair filter is applied after both to keep either direction. The
    only shuffles are lineitem⋈orders on orderkey and orders⋈customer on
    custkey; supplier broadcasts too at this dimension size."""
    t = catalog(spark, sf_dir)
    n1 = t.nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = t.nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 shape — national market share (conditional-aggregation ratio)
# --------------------------------------------------------------------------
@register(
    "d04_q8_market_share",
    oracle="""
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / SUM(volume), 4) AS mkt_share
    FROM (
      SELECT YEAR(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def d04_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: market share of one supplier nation within a
    customer region, per year — a conditional-aggregation ratio over a
    7-table star. The part filter (p_type) prunes lineitem early through
    the partkey join; region restricts the customer side; all dimensions
    broadcast. One numerator and one denominator come out of a single
    aggregation pass (no second scan)."""
    t = catalog(spark, sf_dir)
    n1 = t.nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = t.nation.select(
        F.col("n_nationkey").alias("c_nkey"),
        F.col("n_regionkey").alias("c_rkey"),
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.lineitem.join(
            F.broadcast(t.part.where(F.col("p_type") == "ECONOMY")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(t.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t.customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t.supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .join(
            F.broadcast(t.region.where(F.col("r_name") == "ASIA")),
            F.col("c_rkey") == F.col("r_regionkey"),
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            F.col("supp_nation"),
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                    .otherwise(F.lit(0.0))
                )
                / F.sum("volume"),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q12 shape — CASE-pivot counts over a join (priority classes per flag)
# --------------------------------------------------------------------------
@register(
    "d09_q12_lateness",
    oracle="""
    SELECT l_returnflag,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def d09_q12_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: lateness = shipped >30 days after the
    order date, since this schema has no commit/receipt dates): CASE-pivot
    counts splitting each group into priority classes in one aggregation
    pass. COUNT(CASE ...) keeps both engines in 64-bit integer counts.
    The theta condition is a residual filter on the equi-join, evaluated
    before the shuffle to the aggregation."""
    t = catalog(spark, sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t.lineitem.join(t.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_count"),
            F.count(F.when(~high, 1)).alias("low_count"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Q14 shape — promotion revenue ratio per year
# --------------------------------------------------------------------------
@register(
    "d09_q14_promo",
    oracle="""
    SELECT YEAR(l_shipdate) AS l_year,
           ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY l_year
    ORDER BY l_year
    """,
)
def d09_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of revenue from promotional parts, per
    ship year. part broadcasts into the lineitem scan; numerator and
    denominator are two aggregates of the same pass. Reading only the
    two part columns used keeps the broadcast small (column pruning
    reaches the parquet scan)."""
    t = catalog(spark, sf_dir)
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.lineitem.join(
            F.broadcast(t.part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                4,
            ).alias("promo_revenue")
        )
        .orderBy("l_year")
    )


# --------------------------------------------------------------------------
# Q15 shape — top supplier(s) via max-of-aggregate scalar subquery
# --------------------------------------------------------------------------
@register(
    "d09_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-07-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, ROUND(total_revenue, 4) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def d09_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: an aggregate view consumed twice — once for the
    global max (a 1-row broadcast) and once as the join input. The view is
    computed a single time and reused (same plan subtree); the max is
    cross-joined as a broadcast scalar, never re-derived per row. The date
    filter pushes to the lineitem scan."""
    t = catalog(spark, sf_dir)
    revenue = (
        t.lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(t.supplier), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_revenue", 4).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q21 shape — "only late supplier in a multi-supplier order" (double EXISTS
# decorrelated to per-order aggregates)
# --------------------------------------------------------------------------
@register(
    "d09_q21_waiting",
    oracle="""
    WITH late AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def d09_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted lateness, see Q12): suppliers who were the
    ONLY late supplier in an order that involved other suppliers. The
    classic double-EXISTS is decorrelated into per-order aggregates:
    one pass computes distinct-supplier counts per order, one computes the
    distinct late (order, supplier) pairs; an order qualifies when it has
    >1 suppliers total and exactly 1 late supplier. Both aggregates are
    partial+final on orderkey — the same partitioning the join then reuses,
    so one shuffle feeds all three steps. No per-row subquery probes."""
    t = catalog(spark, sf_dir)
    late = (
        t.lineitem.join(
            t.orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    supps_per_order = t.lineitem.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp")
    )
    late_per_order = late.groupBy(F.col("l_orderkey").alias("lo_orderkey")).agg(
        F.count(F.lit(1)).alias("n_late"), F.max("l_suppkey").alias("late_supp")
    )
    return (
        late_per_order.where(F.col("n_late") == 1)
        .join(
            supps_per_order.where(F.col("n_supp") > 1),
            F.col("lo_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(t.supplier), F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )
