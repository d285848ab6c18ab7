"""Subquery / decorrelation-shaped composite queries (TPC-H Q4, Q10, Q13,
Q16, Q19, Q22 shapes) plus window-distribution and exact-percentile probes.

These widen SURVEY §2.2's D4-D14 families with the classic patterns a
relational engine must decorrelate or reorder well:

- EXISTS / NOT EXISTS  -> left-semi / left-anti joins (never a per-row probe)
- NOT IN               -> anti join against a filtered build side
- scalar subquery      -> 1-row aggregate broadcast-cross-joined to the fact
- disjunctive join predicates (OR-of-ANDs) pushed into one join
- outer join + re-aggregation (Q13's two-level group-by)

Scale notes per query in the docstrings; the common rule is that the heavy
side is always the streamed/shuffled side and the filtered/aggregated side is
small enough to broadcast — Catalyst + AQE pick that up from the declared
plan without hints except where a bound is structurally guaranteed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.registry import register


# --------------------------------------------------------------------------
# Q4 shape — EXISTS decorrelated to a left-semi join + aggregation
# --------------------------------------------------------------------------
@register(
    "d09_q4_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def d09_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated range condition, expressed
    directly as a left-semi join (equi key + extra theta condition). Both
    sides are facts, so this is a shuffle semi-join on l_orderkey; the semi
    form means lineitem rows are never duplicated into the output — the
    shuffle carries at most one match bit per order."""
    t = catalog(spark, sf_dir)
    o, li = t.orders, t.lineitem
    return (
        o.join(
            li,
            (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q10 shape — returned-item revenue, top 20 customers
# --------------------------------------------------------------------------
@register(
    "d04_q10_returned",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def d04_q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: fact⋈fact⋈dim star with a selective fact filter,
    grouped on customer, global top-20 by revenue. The returnflag filter is
    pushed to the lineitem scan; nation broadcasts; orders⋈lineitem shuffles
    on orderkey; the final top-20 is TakeOrderedAndProject (no global sort
    materialization). Tie-break on c_custkey keeps the LIMIT deterministic."""
    t = catalog(spark, sf_dir)
    return (
        t.lineitem.where(F.col("l_returnflag") == "R")
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q13 shape — outer join + two-level aggregation (customer order distribution)
# --------------------------------------------------------------------------
@register(
    "d05_q13_custdist",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def d05_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join preserving order-less customers,
    per-customer count, then re-aggregation of the counts. The first agg
    reuses the join's hash partitioning on custkey (no second shuffle for
    the groupBy(c_custkey)); the second agg's key space is tiny, so the
    final shuffle moves only (c_count, partial) pairs."""
    t = catalog(spark, sf_dir)
    per_cust = (
        t.customer.join(
            t.orders, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# Q16 shape — NOT IN as an anti join + distinct aggregation
# --------------------------------------------------------------------------
@register(
    "d09_q16_supplier_cnt",
    oracle="""
    SELECT p_brand, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
    )
    GROUP BY p_brand
    ORDER BY supplier_cnt DESC, p_brand
    """,
)
def d09_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN over a filtered subquery. The excluded-key
    set (suppliers in bad standing) is bounded, so it broadcasts as the
    build side of a left-anti join over the fact; then a count-distinct per
    brand. s_suppkey is non-null by schema so anti-join and NOT IN agree."""
    t = catalog(spark, sf_dir)
    bad = t.supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t.lineitem.join(
            F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .join(t.part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand")
    )


# --------------------------------------------------------------------------
# Q19 shape — disjunctive (OR-of-ANDs) join predicate
# --------------------------------------------------------------------------
@register(
    "d07_q19_disjunctive",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30)
    """,
)
def d07_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs residual predicate over an equi-join.
    The equi key (partkey) still drives the join strategy — the disjunction
    stays a residual filter, not a nested-loop condition. Catalyst also
    derives the implied single-side filters (brand IN (...), quantity
    BETWEEN 1 AND 30) and pushes them to the scans."""
    t = catalog(spark, sf_dir)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30))
    )
    return (
        t.lineitem.join(t.part, F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q22 shape — scalar subquery + NOT EXISTS anti join
# --------------------------------------------------------------------------
@register(
    "d06_q22_idle_custs",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 4) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def d06_q22_idle_custs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no orders.
    The scalar subquery (global average) is a 1-row aggregate broadcast
    cross-joined to the customer scan — never a second correlated pass;
    NOT EXISTS is a left-anti join on custkey against the orders key
    projection (one column shuffled, duplicate keys collapse map-side in
    the anti-join build)."""
    t = catalog(spark, sf_dir)
    avg_bal = (
        t.customer.where(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    return (
        t.customer.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            t.orders.select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# D13/D14 extension — window distribution functions (ntile / percent_rank /
# cume_dist) with a deterministic full-key tiebreak
# --------------------------------------------------------------------------
@register(
    "d13_ntile_dist",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           NTILE(4)  OVER w AS price_quartile,
           ROUND(PERCENT_RANK() OVER w, 4) AS pr,
           ROUND(CUME_DIST()    OVER w, 4) AS cd,
           ROUND(COALESCE(LEAD(o_totalprice) OVER w, 0.0), 4) AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey
    """,
)
def d13_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window distribution probe: ntile/percent_rank/cume_dist/lead in one
    pass over a single window spec (one shuffle on the partition key, one
    intra-partition sort). Partitioned by o_orderpriority so no single
    reducer sees the whole table; (o_totalprice, o_orderkey) makes the
    intra-partition order total, so ntile boundaries are deterministic."""
    o = catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pr"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
        F.round(F.coalesce(F.lead("o_totalprice").over(w), F.lit(0.0)), 4).alias(
            "next_price"
        ),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# D9/D19 extension — exact percentiles / median per group
# --------------------------------------------------------------------------
@register(
    "d09_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(MEDIAN(l_extendedprice), 4)                  AS med_price,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.90), 4)     AS p90_price,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.99), 4)     AS p99_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def d09_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (median/p90/p99). Exact
    percentile is a sort-based aggregate — fine at bounded group width; the
    documented scale path for heavy-tailed groups is approx_percentile
    (t-digest sketch, mergeable partials), probed non-oracle in pytest."""
    li = catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_extendedprice"), 4).alias("med_price"),
            F.round(F.percentile("l_extendedprice", F.lit(0.90)), 4).alias(
                "p90_price"
            ),
            F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias(
                "p99_price"
            ),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# D6/D24 extension (round 6) — correlated LATERAL join (top-N-per-group as
# a join operator rather than a window)
# --------------------------------------------------------------------------
@register(
    "d06_lateral_topn",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey,
           ROUND(o.o_totalprice, 4) AS o_totalprice
    FROM customer c
    JOIN LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) o ON TRUE
    WHERE c.c_mktsegment = 'BUILDING'
    ORDER BY c.c_custkey, o.o_orderkey
    """,
)
def d06_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per BUILDING-segment customer expressed as a
    correlated ``JOIN LATERAL`` with per-row ORDER BY + LIMIT — the SQL
    operator form of top-N-per-group (vs the d13 window form). Spark 4
    decorrelates the lateral subquery into a ranked join (DomainJoin →
    window over the correlation key), so the declared per-row re-execution
    NEVER happens physically — the plan is the same single shuffle the
    window form produces, which is exactly the rewrite you want at 100 TB:
    orders shuffles once on o_custkey, customers prune to the segment
    first. Identical semantics pinned against DuckDB's native LATERAL."""
    t = catalog(spark, sf_dir)
    t.customer.createOrReplaceTempView("_lat_customer")
    t.orders.createOrReplaceTempView("_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey,
               ROUND(o.o_totalprice, 4) AS o_totalprice
        FROM _lat_customer c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM _lat_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        WHERE c.c_mktsegment = 'BUILDING'
        ORDER BY c.c_custkey, o.o_orderkey
        """
    )
