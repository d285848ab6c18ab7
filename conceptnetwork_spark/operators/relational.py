"""Relational operator surface: scans, joins, aggregates, windows, set ops.

SURVEY §2.2 D1-D16. Every builder is a declarative DataFrame plan — Catalyst
owns pushdown/pruning/join-strategy; AQE owns runtime re-planning. Explicit
``F.broadcast`` hints appear only on bounded-cardinality dimensions
(region/nation — see catalog.DIM_TABLES) so plans stay valid at 100 TB:
fact-fact joins (orders⋈lineitem, orders⋈customer at high SF) shuffle on
their keys and rely on AQE skew splitting.

Determinism contract (SURVEY §2.2 preamble): total-order ``orderBy`` over a
key suffix, ``round(x, 4)`` on floats, aliases identical to the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.lineage import lineage_cut
from conceptnetwork_spark.registry import register


# --------------------------------------------------------------------------
# D1 — parquet scan + projection + filter pushdown
# --------------------------------------------------------------------------
@register(
    "d01_scan_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 4) AS p
    FROM lineitem WHERE l_quantity > 45
    ORDER BY l_orderkey, l_linenumber
    """,
)
def d01_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan with predicate + projection pushdown: `.explain` must show
    PushedFilters [GreaterThan(l_quantity,45)] and a 4-column ReadSchema."""
    li = catalog(spark, sf_dir).lineitem
    return (
        li.where(F.col("l_quantity") > 45)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 4).alias("p"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# D2 — expression parse/normalize (reference P3/P4 faithful shape)
# --------------------------------------------------------------------------
@register(
    "d02_case_parse",
    oracle="""
    SELECT c_custkey,
           CASE WHEN lower(substr(c_name, 1, 1)) = 'c' THEN 0 ELSE 1 END AS g
    FROM customer ORDER BY c_custkey
    """,
)
def d02_case_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical normalization with default branch — the engine form of the
    reference's GENDER_MAP defaultdict (minimal_concept.py:18-28)."""
    c = catalog(spark, sf_dir).customer
    return c.select(
        "c_custkey",
        F.when(F.lower(F.substring("c_name", 1, 1)) == "c", 0).otherwise(1).alias("g"),
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# D3 — inner equi-join
# --------------------------------------------------------------------------
@register(
    "d03_inner_join",
    oracle="""
    SELECT o_orderkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey
    ORDER BY o_orderkey
    """,
)
def d03_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈customer. customer is SF-scaled: no manual broadcast — AQE picks
    broadcast at small SF and shuffle-hash/SMJ at scale."""
    t = catalog(spark, sf_dir)
    return (
        t.orders.join(t.customer, t.orders.o_custkey == t.customer.c_custkey, "inner")
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# D4 — multi-way star join + roll-up
# --------------------------------------------------------------------------
@register(
    "d04_star_join",
    oracle="""
    SELECT r_name, n_name, ROUND(SUM(o_totalprice), 4) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
)
def d04_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema revenue roll-up. nation/region are bounded dims ->
    explicit broadcast (no shuffle for the dim sides at any SF); the
    orders⋈customer edge shuffles on custkey."""
    t = catalog(spark, sf_dir)
    return (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("r_name", "n_name")
    )


@register(
    "d04_q3_shipping",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def d04_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): selective filters on all three
    tables pushed below the joins, fact-fact shuffle join on orderkey, hash
    agg, then TakeOrderedAndProject top-10 — the canonical composite plan.
    Filters cut each side BEFORE the shuffle, which is what keeps the
    orders⋈lineitem exchange tractable at 100 TB."""
    t = catalog(spark, sf_dir)
    cutoff = F.lit("1998-06-01").cast("timestamp")
    c = t.customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = t.orders.where(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = t.lineitem.where(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "d04_q5_local_supplier",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def d04_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): six-way join with a
    conjunctive join condition (supplier in the customer's nation), region
    filter, per-nation revenue. nation/region broadcast; supplier is
    SF-scaled so AQE picks its strategy; the two fact edges shuffle."""
    t = catalog(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t.supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "d04_q18_big_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, ROUND(o_totalprice, 4) AS price,
           ROUND(t.sum_qty, 4) AS sum_qty
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN (
      SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    ) t ON o_orderkey = t.l_orderkey
    ORDER BY price DESC, o_orderkey
    """,
)
def d04_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate-then-join — the
    HAVING filter shrinks lineitem to the handful of big orders BEFORE the
    join, so the join input is the filtered aggregate, never the raw fact
    table. The pattern that matters at 100 TB: pre-aggregation as a join
    reducer."""
    t = catalog(spark, sf_dir)
    big = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    return (
        t.orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t.customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("price"),
            F.round("sum_qty", 4).alias("sum_qty"),
        )
        .orderBy(F.desc("price"), "o_orderkey")
    )


# --------------------------------------------------------------------------
# D5 — outer joins
# --------------------------------------------------------------------------
@register(
    "d05_left_outer_join",
    oracle="""
    SELECT c_custkey, o_orderkey
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    ORDER BY c_custkey, o_orderkey NULLS FIRST
    """,
)
def d05_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer: preserves customers without orders (null o_orderkey)."""
    t = catalog(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select("c_custkey", "o_orderkey")
        .orderBy(F.col("c_custkey"), F.col("o_orderkey").asc_nulls_first())
    )


@register(
    "d05_full_outer_join",
    oracle="""
    SELECT n_nationkey, s_suppkey
    FROM nation FULL JOIN supplier ON n_nationkey = s_nationkey
    ORDER BY n_nationkey NULLS FIRST, s_suppkey NULLS FIRST
    """,
)
def d05_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (nation⋈supplier keeps nations with no supplier)."""
    t = catalog(spark, sf_dir)
    return (
        t.nation.join(t.supplier, F.col("n_nationkey") == F.col("s_nationkey"), "full")
        .select("n_nationkey", "s_suppkey")
        .orderBy(
            F.col("n_nationkey").asc_nulls_first(),
            F.col("s_suppkey").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# D6 — semi / anti joins
# --------------------------------------------------------------------------
@register(
    "d06_semi_join",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def d06_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having at least one order (no duplication)."""
    t = catalog(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "d06_anti_join",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def d06_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no orders."""
    t = catalog(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# D7 — join with non-equi residual (theta/range component)
# --------------------------------------------------------------------------
@register(
    "d07_range_join",
    oracle="""
    SELECT p_partkey, l_orderkey, l_linenumber
    FROM part JOIN lineitem ON l_partkey = p_partkey AND l_quantity > p_size
    ORDER BY p_partkey, l_orderkey, l_linenumber
    """,
)
def d07_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + range residual: hash/SMJ on partkey with the range predicate
    evaluated as a post-join filter — never a cartesian product."""
    t = catalog(spark, sf_dir)
    cond = (F.col("l_partkey") == F.col("p_partkey")) & (
        F.col("l_quantity") > F.col("p_size")
    )
    return (
        t.part.join(t.lineitem, cond)
        .select("p_partkey", "l_orderkey", "l_linenumber")
        .orderBy("p_partkey", "l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# D8 — as-of-style latest-event join
# --------------------------------------------------------------------------
@register(
    "d08_asof_latest_event",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT c_custkey, c_name, event_type, ROUND(value, 4) AS last_value
    FROM latest JOIN customer ON user_id = c_custkey
    WHERE rn = 1
    ORDER BY c_custkey
    """,
)
def d08_asof_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (latest state) join: window top-1 per key, then equi-join.
    Portable formulation a DuckDB ASOF JOIN also satisfies; at scale the
    window shuffles once on user_id and the join reuses that partitioning."""
    t = catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        t.events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "value")
    )
    return (
        latest.join(t.customer, F.col("user_id") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "event_type",
            F.round("value", 4).alias("last_value"),
        )
        .orderBy("c_custkey")
    )


@register(
    "d08_asof_join",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, max_by(value, event_id) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    p AS (
      SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, ROUND(p.value, 4) AS purchase_value,
           ROUND(v.view_value, 4) AS last_view_value
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
    ORDER BY p.event_id
    """,
)
def d08_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True as-of join: for each purchase event, the user's latest view
    event at or before the purchase time (NULL if none). The oracle runs
    DuckDB's native ASOF JOIN; the engine uses the distributed union-sort
    formulation — tag both sides, one shuffle on user_id, and a running
    last(ignorenulls) window carries the most recent view value forward to
    each purchase row. No range-join blowup: cost is one sort per key
    partition regardless of how many views precede a purchase, which is why
    this (not the join+filter+rank form) is the 100 TB path. The build side
    is pre-deduped per (user, ts) so tie-breaks are engine-independent."""
    ev = catalog(spark, sf_dir).events
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("view_value"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("tag"),
            "view_value",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("tag"),
        F.lit(None).cast("double").alias("view_value"),
        "event_id",
        "value",
    )
    # views sort before purchases at equal ts (tag 0 < 1), so a view at
    # exactly the purchase time is visible to it — the ASOF <= contract
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        v.unionByName(p)
        .withColumn("lv", F.last("view_value", ignorenulls=True).over(w))
        .where(F.col("tag") == 1)
        .select(
            "event_id",
            F.round("value", 4).alias("purchase_value"),
            F.round("lv", 4).alias("last_view_value"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# D9 — hash aggregate (TPC-H Q1 shape)
# --------------------------------------------------------------------------
@register(
    "d09_hash_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4)                                 AS sum_qty,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)         AS sum_disc_price,
           ROUND(AVG(l_extendedprice), 4)                            AS avg_price,
           COUNT(*)                                                  AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def d09_hash_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: partial (map-side) + final hash aggregation — the
    group-key cardinality is tiny so the shuffle moves only partial states."""
    li = catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "d09_salted_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice) / COUNT(*), 4) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def d09_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation: l_returnflag has only 3 values,
    so a naive groupBy funnels the whole table through 3 reducers. Phase 1
    aggregates on (key, salt) — 32-way fan-out, partials stay small; phase 2
    combines the 3x32 partials. Oracle is the plain GROUP BY: salting must
    be invisible in the result. (Spark's partial+final agg already map-side
    combines; explicit salting is the pattern for when the FINAL combine of
    one hot key — e.g. a window or collect_list — is itself the bottleneck.)
    """
    li = catalog(spark, sf_dir).lineitem
    salted = li.withColumn("salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(32)))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("l_quantity").alias("sq"),
        F.sum("l_extendedprice").alias("sp"),
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("c").alias("n_items"),
            F.round(F.sum("sq"), 4).alias("sum_qty"),
            F.round(F.sum("sp") / F.sum("c"), 4).alias("avg_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "d09_q17_small_qty",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#12'
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """,
)
def d09_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity). Expressed in Spark SQL so Catalyst's decorrelation rewrites
    the subquery into an aggregate + join — one extra pass over lineitem
    instead of one subquery execution per outer row, the difference between
    O(n) and O(n^2) at 100 TB."""
    t = catalog(spark, sf_dir)
    t.lineitem.createOrReplaceTempView("cns_q17_lineitem")
    t.part.createOrReplaceTempView("cns_q17_part")
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly
        FROM cns_q17_lineitem
        JOIN cns_q17_part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#12'
          AND l_quantity < (
            SELECT 0.2 * AVG(l_quantity) FROM cns_q17_lineitem l2
            WHERE l2.l_partkey = p_partkey
          )
        """
    )


# --------------------------------------------------------------------------
# D10 — distinct / count-distinct
# --------------------------------------------------------------------------
@register(
    "d10_count_distinct",
    oracle="SELECT COUNT(DISTINCT o_custkey) AS n FROM orders",
)
def d10_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct (expand->partial-distinct->final)."""
    o = catalog(spark, sf_dir).orders
    return o.agg(F.countDistinct("o_custkey").alias("n"))


# --------------------------------------------------------------------------
# D11 — approx count-distinct (non-oracle: sketch is engine-specific)
# --------------------------------------------------------------------------
@register("d11_approx_count_distinct", oracle=None)
def d11_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approx distinct; pytest asserts <=5% relative error vs
    exact (SURVEY D11). Non-oracle: DuckDB's sketch differs by design."""
    o = catalog(spark, sf_dir).orders
    return o.agg(F.approx_count_distinct("o_custkey", 0.02).alias("n_approx"))


# --------------------------------------------------------------------------
# D12 — rollup with GROUPING disambiguation
# --------------------------------------------------------------------------
@register(
    "d12_rollup",
    oracle="""
    SELECT COALESCE(n_name, '(all)') AS n_name,
           COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
           CAST(GROUPING(n_name) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, o_orderpriority)
    ORDER BY gid, n_name, o_orderpriority
    """,
)
def d12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (nation, priority) with grouping-id disambiguation;
    COALESCE folds the rollup NULLs into a printable sentinel so the oracle
    hash is null-representation-independent."""
    t = catalog(spark, sf_dir)
    joined = t.orders.join(
        t.customer, F.col("o_custkey") == F.col("c_custkey")
    ).join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        joined.rollup("n_name", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .select(
            F.coalesce("n_name", F.lit("(all)")).alias("n_name"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
            "gid",
            "n_orders",
            "revenue",
        )
        .orderBy("gid", "n_name", "o_orderpriority")
    )


@register(
    "d12_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
           COALESCE(l_linestatus, '(all)') AS l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n_items,
           ROUND(SUM(l_quantity), 4) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag, l_linestatus
    """,
)
def d12_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (returnflag, linestatus): all four grouping combinations
    in one Expand+partial-agg pass (no re-scan per grouping set)."""
    li = catalog(spark, sf_dir).lineitem
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 4).alias("qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("l_linestatus"),
            "gid",
            "n_items",
            "qty",
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


@register(
    "d12_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
           COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY gid, o_orderstatus, o_orderpriority
    """,
)
def d12_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (two independent 1-d summaries + grand total) —
    one scan, one Expand, instead of three scans unioned. Expressed in Spark
    SQL (the DataFrame API has rollup/cube but not arbitrary sets)."""
    t = catalog(spark, sf_dir)
    t.orders.createOrReplaceTempView("cns_d12_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
               COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 4) AS revenue
        FROM cns_d12_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, o_orderstatus, o_orderpriority
        """
    )


# --------------------------------------------------------------------------
# D13 — ranking window (top-3 per group)
# --------------------------------------------------------------------------
@register(
    "d13_window_rank",
    oracle="""
    SELECT o_custkey, rn, o_orderkey, ROUND(o_totalprice, 4) AS price
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      FROM orders
    )
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def d13_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: row_number with a full-key deterministic
    tiebreak (price desc, orderkey asc). One shuffle on o_custkey."""
    o = catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "rn",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("price"),
        )
        .orderBy("o_custkey", "rn")
    )


# --------------------------------------------------------------------------
# D14 — analytic window with frame (running sum + lag)
# --------------------------------------------------------------------------
@register(
    "d14_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_rev,
           ROUND(COALESCE(LAG(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0), 4) AS prev_price
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def d14_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer + lag, explicit ROWS frame, deterministic
    intra-partition order via (o_orderdate, o_orderkey)."""
    o = catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_rev"),
        F.round(F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 4).alias(
            "prev_price"
        ),
    ).orderBy("o_custkey", "o_orderkey")


# --------------------------------------------------------------------------
# D15 — global sort / top-k
# --------------------------------------------------------------------------
@register(
    "d15_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 4) AS price
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
)
def d15_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 with full-key tiebreak. orderBy+limit compiles to
    TakeOrderedAndProject: per-partition heap + driver merge of k rows, never
    a full global sort — the scale-critical property."""
    li = catalog(spark, sf_dir).lineitem
    return (
        li.orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(10)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 4).alias("price"),
        )
    )


# --------------------------------------------------------------------------
# D16 — set operations
# --------------------------------------------------------------------------
@register(
    "d16_intersect",
    oracle="""
    SELECT custkey FROM (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      INTERSECT
      SELECT c_custkey AS custkey FROM customer WHERE c_custkey % 2 = 0
    ) ORDER BY custkey
    """,
)
def d16_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) of ordering customers vs an even-key
    customer sample."""
    t = catalog(spark, sf_dir)
    a = t.orders.select(F.col("o_custkey").alias("custkey"))
    b = t.customer.where(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("custkey")
    )
    return a.intersect(b).orderBy("custkey")


@register(
    "d16_except",
    oracle="""
    SELECT custkey FROM (
      SELECT c_custkey AS custkey FROM customer
      EXCEPT
      SELECT o_custkey AS custkey FROM orders
    ) ORDER BY custkey
    """,
)
def d16_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers that never ordered (= D6 anti join)."""
    t = catalog(spark, sf_dir)
    a = t.customer.select(F.col("c_custkey").alias("custkey"))
    b = t.orders.select(F.col("o_custkey").alias("custkey"))
    return a.exceptAll(b).distinct().orderBy("custkey")


@register(
    "d16_union_all",
    oracle="""
    SELECT src, key, cnt FROM (
      SELECT 'cust' AS src, c_custkey AS key, COUNT(*) AS cnt
      FROM customer GROUP BY c_custkey
      UNION ALL
      SELECT 'ord' AS src, o_custkey AS key, COUNT(*) AS cnt
      FROM orders GROUP BY o_custkey
    ) ORDER BY src, key
    """,
)
def d16_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two tagged aggregates (bag semantics preserved)."""
    t = catalog(spark, sf_dir)
    a = t.customer.groupBy(F.col("c_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).select(F.lit("cust").alias("src"), "key", "cnt")
    b = t.orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).select(F.lit("ord").alias("src"), "key", "cnt")
    return a.unionAll(b).orderBy("src", "key")


# --------------------------------------------------------------------------
# D12 extension — true pivot (wide cross-tab), explicit value list
# --------------------------------------------------------------------------
@register(
    "d12_pivot",
    oracle="""
    SELECT n_name,
           COUNT(*) FILTER (o_orderpriority = '1-URGENT')        AS p1_urgent,
           COUNT(*) FILTER (o_orderpriority = '2-HIGH')          AS p2_high,
           COUNT(*) FILTER (o_orderpriority = '3-MEDIUM')        AS p3_medium,
           COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4_not_specified,
           COUNT(*) FILTER (o_orderpriority = '5-LOW')           AS p5_low
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def d12_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True ``groupBy().pivot()`` cross-tab: order counts per nation ×
    priority. The pivot value list is EXPLICIT — at scale an implicit pivot
    first runs a distinct job over the whole fact table to discover values;
    declaring them keeps this a single partial+final aggregate. Pivoted
    column names are re-aliased to identifier-safe names shared with the
    oracle's FILTER form."""
    t = catalog(spark, sf_dir)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    wide = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .pivot("o_orderpriority", prios)
        .count()
    )
    safe = {
        "1-URGENT": "p1_urgent",
        "2-HIGH": "p2_high",
        "3-MEDIUM": "p3_medium",
        "4-NOT SPECIFIED": "p4_not_specified",
        "5-LOW": "p5_low",
    }
    return wide.select(
        "n_name",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(safe[p]) for p in prios],
    ).orderBy("n_name")


# --------------------------------------------------------------------------
# D10 extension — row-level DISTINCT projection
# --------------------------------------------------------------------------
@register(
    "d10_distinct",
    oracle="""
    SELECT DISTINCT c_mktsegment, c_nationkey
    FROM customer ORDER BY c_mktsegment, c_nationkey
    """,
)
def d10_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level ``distinct()`` over a pruned projection — the other half of
    the declared D10 surface (``d10_count_distinct`` covers the aggregate
    form). Distinct is a partial+final hash aggregate on the projected
    columns, so only (segment, nationkey) pairs ever shuffle — the scan
    prunes the rest of the table."""
    c = catalog(spark, sf_dir).customer
    return (
        c.select("c_mktsegment", "c_nationkey")
        .distinct()
        .orderBy("c_mktsegment", "c_nationkey")
    )


# --------------------------------------------------------------------------
# D5 extension — right outer join
# --------------------------------------------------------------------------
@register(
    "d05_right_outer_join",
    oracle="""
    SELECT c_custkey, o_orderkey
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    ORDER BY c_custkey, o_orderkey NULLS FIRST
    """,
)
def d05_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join — same result set as d05_left_outer_join but driven
    through the 'right' join-type code path (Spark plans it as the mirrored
    left-outer; preserved side is the customer build side). Null o_orderkey
    rows are the order-less customers."""
    t = catalog(spark, sf_dir)
    return (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"), "right")
        .select("c_custkey", "o_orderkey")
        .orderBy("c_custkey", F.asc_nulls_first("o_orderkey"))
    )


# --------------------------------------------------------------------------
# D13 extension — rank / dense_rank over ties
# --------------------------------------------------------------------------
@register(
    "d13_rank_dense",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           RANK()       OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rk,
           DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS drk
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
)
def d13_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() vs dense_rank() with REAL ties (l_quantity is a small integer
    domain, so tie groups are large) — gap semantics vs gapless semantics in
    one window pass. Ties make the rank values themselves deterministic even
    though intra-tie row order is not; row identity comes from the output
    key (l_orderkey, l_linenumber), so the result is total-order stable.
    One shuffle on l_returnflag + intra-partition sort."""
    li = catalog(spark, sf_dir).lineitem
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
    ).orderBy("l_orderkey", "l_linenumber")


# --------------------------------------------------------------------------
# D9 extension — collect_set / string_agg (deterministic via sorting)
# --------------------------------------------------------------------------
@register(
    "d09_collect_set",
    oracle="""
    SELECT c_nationkey,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
           COUNT(DISTINCT c_mktsegment) AS n_segments
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def d09_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-valued aggregation: distinct segments per nation, made
    deterministic by sort_array before join (collect_set order is otherwise
    partition-dependent — never compare it raw). Serialized to a CSV string
    so both engines hash the same scalar. Per-group state is bounded by the
    segment domain (5 values), so the agg stays partial+final safe at any
    row count."""
    c = catalog(spark, sf_dir).customer
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
                "segments"
            ),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# D9 extension — arg-max via max_by with a deterministic struct tiebreak
# --------------------------------------------------------------------------
@register(
    "d09_arg_max",
    oracle="""
    SELECT o_custkey, o_orderkey AS best_order, ROUND(o_totalprice, 4) AS best_price
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey
        ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1 ORDER BY o_custkey
    """,
)
def d09_arg_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's highest-value order via ``max_by`` keyed on a
    (price, orderkey) struct — the struct's lexicographic order makes ties
    deterministic (highest orderkey wins), which bare max_by(price) would
    not. One partial+final agg; compare with d08's window formulation, which
    needs a full shuffle+sort — arg-max-by-struct ships one row per group
    per partition instead."""
    o = catalog(spark, sf_dir).orders
    key = F.struct("o_totalprice", "o_orderkey")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.max_by("o_orderkey", key).alias("best_order"),
            F.round(F.max("o_totalprice"), 4).alias("best_price"),
        )
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# D16 extension — unionByName (schema-aligned-by-name set op)
# --------------------------------------------------------------------------
@register(
    "d16_union_by_name",
    oracle="""
    SELECT c_custkey AS key, 'cust' AS src FROM customer WHERE c_acctbal < 0
    UNION ALL
    SELECT o_custkey AS key, 'ord' AS src FROM orders WHERE o_orderstatus = 'F'
    ORDER BY src, key
    """,
)
def d16_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unionByName`` over two branches whose column ORDER differs — the
    positional ``union`` would silently mis-align (key into src); by-name
    resolution is the safe spelling when branches come from different
    pipelines. Both branch filters stay pushed to their scans."""
    t = catalog(spark, sf_dir)
    a = t.customer.where(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("key"), F.lit("cust").alias("src")
    )
    b = t.orders.where(F.col("o_orderstatus") == "F").select(
        F.lit("ord").alias("src"), F.col("o_custkey").alias("key")
    )
    return a.unionByName(b).orderBy("src", "key")


# --------------------------------------------------------------------------
# D3/D4 extension — salted large-large join (skew mitigation, explicit form)
# --------------------------------------------------------------------------
@register(
    "d03_salted_skew_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def d03_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly SALTED large-large shuffle join: the fact side gets a
    deterministic salt in [0,8) hashed from its row identity, the other side
    is replicated 8x with every salt value, and the join key becomes
    (l_orderkey, salt) — so one hot orderkey's rows spread over 8 reducers
    instead of one. The join result is salt-invariant, which the plain-join
    oracle proves. This is the manual fallback for skew AQE can't fix
    (single-key hot spots inside one partition); AQE skew-split stays on as
    the first line of defense. Replication costs 8x of the SMALLER side
    only — choose the salted side accordingly.

    Revenue sums as DECIMAL(12,2), not double: at sf0.1 each priority
    group sums ~120k addends to ~6.4e9, where double summation ORDER
    (salted plan vs the oracle's plain join) moves the last ulp and a
    4-decimal round needs 14 exact digits — caught by the cross-sf gate
    at sf0.1 (green at sf0.01 was luck). Money aggregates at scale are
    decimal-exact, the d19_decimal_exact convention."""
    t = catalog(spark, sf_dir)
    S = 8
    li = t.lineitem.select("l_orderkey", "l_extendedprice").withColumn(
        "salt",
        F.pmod(F.xxhash64("l_orderkey", "l_extendedprice"), F.lit(S)).cast("int"),
    )
    o_rep = t.orders.select("o_orderkey", "o_orderpriority").crossJoin(
        spark.range(S).select(F.col("id").cast("int").alias("salt"))
    )
    return (
        li.join(
            o_rep,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (li["salt"] == o_rep["salt"]),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# D11 extension — approx percentile sketch (non-oracle; tolerance-tested)
# --------------------------------------------------------------------------
@register("d11_approx_percentile", oracle=None)
def d11_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style sketch) of l_extendedprice per
    returnflag — mergeable single-pass sketch, the scale path where exact
    percentiles (d09_percentiles' full sort) are unaffordable. Non-oracle:
    sketches are engine-specific; pytest bounds it against the exact
    percentile within 1% relative error."""
    li = catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)), 4
            ).alias("p50_approx"),
            F.round(
                F.percentile_approx("l_extendedprice", F.lit(0.95), F.lit(10000)), 4
            ).alias("p95_approx"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# D14 extension — first_value / last_value / nth_value over explicit frames
# --------------------------------------------------------------------------
@register(
    "d14_first_last_nth",
    oracle="""
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_ord,
           LAST_VALUE(o_orderkey)  OVER w AS last_ord,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_ord
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_orderkey
    """,
)
def d14_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value with an EXPLICIT full-partition frame — the
    default frame stops at CURRENT ROW, which silently turns last_value into
    the running row (the classic window bug); pinning ROWS UNBOUNDED..
    UNBOUNDED gives the per-customer chronology endpoints. Total intra-
    partition order via (o_orderdate, o_orderkey) keeps all three values
    deterministic."""
    o = catalog(spark, sf_dir).orders
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_ord"),
        F.last("o_orderkey").over(w).alias("last_ord"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ord"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# D18 extension — calendar-spine gap fill (time-series resample)
# --------------------------------------------------------------------------
@register(
    "d18_gap_fill",
    oracle="""
    WITH months AS (
      SELECT UNNEST(generate_series(DATE '1995-01-01', DATE '1995-12-01',
                                    INTERVAL 1 MONTH))::DATE AS mon
    ),
    counts AS (
      SELECT date_trunc('month', o_orderdate)::DATE AS mon, o_orderpriority,
             COUNT(*) AS n
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
      GROUP BY 1, 2
    )
    SELECT p.o_orderpriority, strftime(m.mon, '%Y-%m-%d') AS mon,
           COALESCE(c.n, 0) AS n_orders
    FROM months m
    CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
    LEFT JOIN counts c ON c.mon = m.mon AND c.o_orderpriority = p.o_orderpriority
    ORDER BY p.o_orderpriority, mon
    """,
)
def d18_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense monthly time series per priority with zero-filled gaps: a
    generated calendar spine (sequence+explode — pure JVM, 12 rows) cross-
    joined with the tiny priority domain, left-joined to the aggregated
    facts. The facts aggregate FIRST (partial+final on ~60 groups), so the
    spine join touches group-level rows only — the resample pattern that
    scales to any fact count. Both join inputs are broadcast-sized."""
    o = catalog(spark, sf_dir).orders
    spine = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(to_date('1995-01-01'), to_date('1995-12-01'),"
                " interval 1 month)"
            )
        ).alias("mon")
    )
    prios = o.select("o_orderpriority").distinct()
    counts = (
        o.where(
            F.col("o_orderdate").between("1995-01-01", "1995-12-31 23:59:59")
        )
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.crossJoin(prios)
        .join(F.broadcast(counts), ["mon", "o_orderpriority"], "left")
        .select(
            "o_orderpriority",
            F.date_format("mon", "yyyy-MM-dd").alias("mon"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
        .orderBy("o_orderpriority", "mon")
    )


# --------------------------------------------------------------------------
# D10 extension — column profiling (the ANALYZE-style data-quality pass)
# --------------------------------------------------------------------------
@register(
    "d10_column_profile",
    oracle="""
    SELECT 'l_discount' AS col, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(l_discount) AS n_nulls,
           COUNT(DISTINCT l_discount) AS n_distinct,
           ROUND(MIN(l_discount), 4) AS min_v, ROUND(MAX(l_discount), 4) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(l_extendedprice),
           COUNT(DISTINCT l_extendedprice),
           ROUND(MIN(l_extendedprice), 4), ROUND(MAX(l_extendedprice), 4)
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', COUNT(*), COUNT(*) - COUNT(l_quantity),
           COUNT(DISTINCT l_quantity),
           ROUND(MIN(l_quantity), 4), ROUND(MAX(l_quantity), 4)
    FROM lineitem
    ORDER BY col
    """,
)
def d10_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the ANALYZE-style pass every ingestion pipeline
    runs before training: per-column row/null/distinct counts and value
    range, computed in ONE scan as a multi-distinct aggregate (Catalyst
    expands the distincts into one partial+final plan; the scan reads only
    the three profiled columns) and unpivoted to one row per column. At
    100 TB swap COUNT(DISTINCT) for approx_count_distinct — declared here
    exact because exact is oracle-comparable."""
    li = catalog(spark, sf_dir).lineitem
    cols = ["l_discount", "l_extendedprice", "l_quantity"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.round(F.min(c), 4).alias(f"{c}__min"),
            F.round(F.max(c), 4).alias(f"{c}__max"),
        ]
    wide = li.select(*cols).agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col, n_rows, n_nulls, n_distinct, min_v, max_v)"
        )
    ).orderBy("col")


# --------------------------------------------------------------------------
# D10d — join-key skew report (heavy-hitter detector)
# --------------------------------------------------------------------------
SKEW_TOP = 20


@register(
    "d10_skew_report",
    oracle=f"""
    WITH counts AS (
      SELECT l_suppkey AS key, COUNT(*) AS n_rows FROM lineitem GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM counts
    ), top AS (
      SELECT key, n_rows FROM counts
      ORDER BY n_rows DESC, key LIMIT {SKEW_TOP}
    )
    SELECT t.key, t.n_rows,
           ROUND(t.n_rows * 100.0 / tot.total, 4) AS share_pct,
           ROUND(t.n_rows * tot.n_keys / CAST(tot.total AS DOUBLE), 4)
             AS x_mean
    FROM top t, tot
    ORDER BY key
    """,
)
def d10_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report: the top heavy-hitter keys on the fact table's
    join column with their row share and multiple-of-mean — the diagnostic
    you run BEFORE a 100 TB shuffle to decide whether a join needs salting
    (d03_salted_skew_join) or an AQE skew split. One partial+final count
    agg (map-side combine collapses each key per partition), a 2-scalar
    broadcast total, and a TakeOrderedAndProject top-k — the full corpus is
    never sorted and only (key, count) pairs ever shuffle."""
    li = catalog(spark, sf_dir).lineitem
    counts = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    tot = counts.agg(
        F.sum("n_rows").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    top = counts.orderBy(F.desc("n_rows"), F.asc("key")).limit(SKEW_TOP)
    return (
        top.join(F.broadcast(tot))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") * 100.0 / F.col("total"), 4).alias(
                "share_pct"
            ),
            F.round(
                F.col("n_rows") * F.col("n_keys") / F.col("total").cast("double"),
                4,
            ).alias("x_mean"),
        )
        .orderBy("key")
    )


# --------------------------------------------------------------------------
# D13b — ntile bucketing (per-segment deciles; the quantile-bucket assigner
# behind stratified quality tiers in a training-data pipeline)
# --------------------------------------------------------------------------
@register(
    "d13_ntile",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(NTILE(10) OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) AS INT)
             AS decile
    FROM customer ORDER BY c_custkey
    """,
)
def d13_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acctbal deciles WITHIN each market segment. Partitioned ntile keeps
    the sort distributed (one shuffle on c_mktsegment, per-partition sort);
    a global unpartitioned ntile would serialize on one task at scale —
    deliberately avoided."""
    c = catalog(spark, sf_dir).customer
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(10).over(w).alias("decile"),
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# D14b — EWMA over a fixed lookback (exponentially-weighted moving average;
# the feature-smoothing primitive for event-stream features)
# --------------------------------------------------------------------------
_EWMA_ALPHA, _EWMA_K = 0.5, 8

# identical term-by-term formula in both engines: weighted sum over the k
# available lags, normalized by the weight mass actually present
_EWMA_NUM_SQL = " + ".join(
    f"{_EWMA_ALPHA**k!r} * COALESCE(LAG(value, {k}) OVER w, 0)"
    for k in range(_EWMA_K)
)
_EWMA_DEN_SQL = " + ".join(
    f"{_EWMA_ALPHA**k!r} * CASE WHEN LAG(value, {k}) OVER w IS NULL "
    "THEN 0 ELSE 1 END"
    for k in range(_EWMA_K)
)


@register(
    "d14_ewma",
    oracle=f"""
    SELECT event_id, user_id,
           ROUND(({_EWMA_NUM_SQL}) / ({_EWMA_DEN_SQL}), 4) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
)
def d14_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values over the last 8 observations
    (alpha=0.5), normalized by the weight mass present so early rows are
    unbiased. Bounded-lookback form keeps it a pure window expression —
    one shuffle on user_id, no recursion, no state."""
    ev = catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = sum(
        F.lit(_EWMA_ALPHA**k)
        * F.coalesce(F.lag("value", k).over(w), F.lit(0.0))
        for k in range(_EWMA_K)
    )
    den = sum(
        F.lit(_EWMA_ALPHA**k)
        * F.lag("value", k).over(w).isNotNull().cast("double")
        for k in range(_EWMA_K)
    )
    return ev.select(
        "event_id", "user_id", F.round(num / den, 4).alias("ewma")
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# D13c — percent_rank / cume_dist (distribution-position features)
# --------------------------------------------------------------------------
@register(
    "d13_percent_rank",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey), 4)
             AS pr,
           ROUND(CUME_DIST() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey), 4)
             AS cd
    FROM orders WHERE o_orderkey < 2000
    ORDER BY o_orderkey
    """,
)
def d13_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative distribution position (percent_rank, cume_dist) of each
    order's price within its priority class — the normalized-rank features
    a ranking model trains on. Full-key ORDER BY makes both functions
    deterministic under ties; one shuffle on the partition key, the filter
    is pushed to the scan."""
    o = catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        o.where(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.percent_rank().over(w), 4).alias("pr"),
            F.round(F.cume_dist().over(w), 4).alias("cd"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# D14c — rolling exact median over a row frame (robust smoothing; the
# outlier-resistant twin of the d14 running mean)
# --------------------------------------------------------------------------
@register(
    "d14_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           ROUND(quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7
    FROM events
    ORDER BY event_id
    """,
)
def d14_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of the last 7 event values per user. Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the linear-
    interpolation definition, so the frames hash-match. A 7-row frame is
    O(1) state per row; one shuffle on user_id, per-partition sort — the
    robust-smoothing feature at any scale."""
    ev = catalog(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias("med7"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# D16 extension — EXCEPT ALL (multiset difference with multiplicity)
# --------------------------------------------------------------------------
@register(
    "d16_except_all",
    oracle="""
    SELECT custkey FROM (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderkey < 4000
      EXCEPT ALL
      SELECT o_custkey AS custkey FROM orders
      WHERE o_orderkey < 4000 AND o_orderstatus = 'F'
    ) ORDER BY custkey
    """,
)
def d16_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag difference that preserves multiplicity (a customer
    with 3 orders, 1 of them 'F', survives twice). Spark plans this as one
    count-per-key aggregate + generate, not an anti join: one shuffle on
    the value, multiplicities subtracted per key — the multiset semantics
    DISTINCT-based EXCEPT throws away."""
    o = catalog(spark, sf_dir).orders
    a = o.where(F.col("o_orderkey") < 4000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.where(
        (F.col("o_orderkey") < 4000) & (F.col("o_orderstatus") == "F")
    ).select(F.col("o_custkey").alias("custkey"))
    return a.exceptAll(b).orderBy("custkey")


# --------------------------------------------------------------------------
# D17 extension — edit distance (the fuzzy-match scalar primitive)
# --------------------------------------------------------------------------
@register(
    "d17_levenshtein",
    oracle="""
    SELECT p_partkey,
           CAST(levenshtein(p_name, p_type) AS INT)  AS d_name_type,
           CAST(levenshtein(lower(p_brand), lower(p_type)) AS INT)
             AS d_brand_type
    FROM part WHERE p_partkey < 400
    ORDER BY p_partkey
    """,
)
def d17_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance between part attribute strings — the
    scalar behind fuzzy key matching and typo-tolerant dedup blocking.
    Spark and DuckDB implement the identical unit-cost edit distance, so
    values hash-match. Per-row JVM scalar work on a pruned, pushed-down
    scan; O(len^2) per pair is the cost model to remember before putting
    it in an all-pairs join at scale (block first, then score)."""
    p = catalog(spark, sf_dir).part
    return (
        p.where(F.col("p_partkey") < 400)
        .select(
            "p_partkey",
            F.levenshtein("p_name", "p_type").alias("d_name_type"),
            F.levenshtein(F.lower("p_brand"), F.lower("p_type")).alias(
                "d_brand_type"
            ),
        )
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# D14e — per-key z-score outlier detection (anomaly flagging)
# --------------------------------------------------------------------------
ZSCORE_CUTOFF = 2.5


@register(
    "d14_zscore_outliers",
    oracle=f"""
    WITH stats AS (
      SELECT user_id, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, ROUND(e.value, 4) AS value,
           ROUND((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e JOIN stats s ON e.user_id = s.user_id
    WHERE e.event_type = 'purchase' AND s.sigma > 0
      AND ABS((e.value - s.mu) / s.sigma) > {ZSCORE_CUTOFF}
    ORDER BY e.event_id
    """,
)
def d14_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score anomaly detection over purchase values: flag events
    more than ZSCORE_CUTOFF sample standard deviations from the user's mean.

    Scale shape: per-key (mu, sigma) is one partially-aggregated groupBy
    producing a tiny table that is BROADCAST back onto the event stream —
    the events themselves never shuffle (the window-function formulation
    would shuffle the full fact table on user_id and hold each user's rows
    in one task). Same plan at 100 TB for any key of bounded cardinality;
    for unbounded keys the broadcast degrades to a shuffled join, which is
    what the optimizer picks automatically when the agg exceeds the
    broadcast threshold."""
    ev = catalog(spark, sf_dir).events.where(F.col("event_type") == "purchase")
    stats = ev.groupBy("user_id").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "user_id")
        .where((F.col("sigma") > 0) & (F.abs(z) > ZSCORE_CUTOFF))
        .select(
            "event_id",
            "user_id",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# D09p — per-group mode (most frequent value, deterministic tiebreak)
# --------------------------------------------------------------------------
@register(
    "d09_group_mode",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events GROUP BY user_id, event_type
    ),
    r AS (
      SELECT user_id, event_type, cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, event_type) AS rk
      FROM c
    )
    SELECT user_id, event_type AS mode_type, cnt AS mode_cnt
    FROM r WHERE rk = 1
    ORDER BY user_id
    """,
)
def d09_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type (ties broken lexicographically) — the
    categorical `mode()` aggregate, built as two stacked aggregations:
    count per (key, value), then `min_by` over struct(-cnt, value) per key.
    Both aggregations map-side-combine; the second input is already unique
    (key, value) pairs — orders of magnitude smaller than the events — and
    no window/sort is needed (min_by is a single-pass arg-min). Same plan at
    100 TB for any bounded value domain."""
    ev = catalog(spark, sf_dir).events
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # arg-min of (-cnt, value): max count first, then smallest value
    key = F.struct((-F.col("cnt")).alias("neg"), F.col("event_type").alias("v"))
    return (
        counts.groupBy("user_id")
        .agg(
            F.min_by("event_type", key).alias("mode_type"),
            F.min_by("cnt", key).alias("mode_cnt"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# D10d — observed metrics (df.observe: exactly-once pipeline accounting)
# --------------------------------------------------------------------------
@register(
    "d10_observed_scan",
    oracle="""
    SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 4) AS price
    FROM orders
    WHERE o_totalprice > 150000
    ORDER BY o_orderkey
    """,
)
def d10_observed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.observe``: named metrics (row count, total value) accumulated
    ON the data path while the query runs — the exactly-once accounting
    every production pipeline wants without a second scan. The observation
    rides the existing plan as an accumulator: zero extra jobs, zero
    shuffle; at 100 TB this replaces the classic "count it again to log
    it" anti-pattern (which doubles the scan). The observed values are
    asserted against an independent aggregation in the pytest; the rows
    themselves hash against the oracle as usual."""
    from pyspark.sql import Observation

    obs = Observation("d10_scan_metrics")
    o = catalog(spark, sf_dir).orders
    df = (
        o.where(F.col("o_totalprice") > 150000)
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 4).alias("price"),
        )
        .orderBy("o_orderkey")
    )
    # stash the Observation on the DataFrame so callers (tests) can read
    # the metrics after their action without re-plumbing
    df._cn_observation = obs  # type: ignore[attr-defined]
    return df


# --------------------------------------------------------------------------
# D11c — mergeable HLL sketches (the distributed form of count-distinct)
# --------------------------------------------------------------------------
@register("d11_hll_merge", oracle=None)
def d11_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches HLL: per-group sketches UNIONED into a global estimate —
    the mergeable-state pattern that makes distinct-count embarrassingly
    parallel (each partition/day/shard sketches independently; merging is
    associative+commutative, so rollups never rescan). Emits per-priority
    estimates AND the union estimate in one result. Non-oracle (sketch
    binary is engine-specific); the pytest asserts (a) the union estimate
    agrees with the single-pass whole-table sketch to <0.5% (the union
    re-targets register formats, so it is near- but not bit-identical) and
    (b) both are within 2% of the exact distinct count."""
    o = catalog(spark, sf_dir).orders
    per_group = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    per = per_group.select(
        "o_orderpriority",
        F.hll_sketch_estimate("sk").alias("approx_custs"),
    )
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_custs")
    ).select(F.lit("__ALL__").alias("o_orderpriority"), "approx_custs")
    return per.unionByName(merged).orderBy("o_orderpriority")


# --------------------------------------------------------------------------
# D14 extension — linear interpolation of missing time-series values
# --------------------------------------------------------------------------
@register(
    "d14_linear_interpolate",
    # a deterministic subset of readings is "missing" (event_id % 5 in
    # (2,3) — 40% of rows, including RUNS of consecutive gaps); linear
    # interpolation in epoch time between the nearest non-missing
    # neighbors, forward/backward-filled at series edges.
    oracle="""
    WITH t AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 5 IN (2, 3) THEN NULL ELSE value END AS v
      FROM events WHERE event_type = 'click'
    ), n AS (
      SELECT event_id, user_id, ts, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pts,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nts
      FROM t
    )
    SELECT event_id, user_id,
           ROUND(CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv) * (epoch(ts) - epoch(pts))
                              / (epoch(nts) - epoch(pts))
             WHEN pv IS NOT NULL THEN pv
             ELSE nv END, 4) AS v_interp
    FROM n ORDER BY event_id
    """,
)
def d14_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing sensor readings: each gap is filled
    on the straight line between its nearest non-missing neighbors,
    weighted by actual elapsed time (not row count), with forward/backward
    fill at the series edges — the standard time-series repair pass before
    feature extraction, and strictly stronger than d18_gap_fill's
    step-fill.

    Scale shape: one shuffle on user_id, four IGNORE-NULLS window carries
    down each user's timeline in a single WindowExec (same partitioning +
    ordering -> Catalyst evaluates all four in one pass); per-row state is
    two (value, ts) pairs regardless of gap-run length. No join against the
    non-null subset, no self-join — the naive spelling at 100 TB."""
    ev = catalog(spark, sf_dir).events.where(F.col("event_type") == "click")
    t = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when((F.col("event_id") % 5).isin(2, 3), F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    vts = F.when(F.col("v").isNotNull(), F.col("ts"))
    n = t.select(
        "event_id",
        "user_id",
        "ts",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(vts, ignorenulls=True).over(back).alias("pts"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(vts, ignorenulls=True).over(fwd).alias("nts"),
    )
    frac = (F.col("ts").cast("double") - F.col("pts").cast("double")) / (
        F.col("nts").cast("double") - F.col("pts").cast("double")
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return n.select(
        "event_id", "user_id", F.round(interp, 4).alias("v_interp")
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# D10 extension — correlation-matrix profile (numeric-column dependence
# readout of the data-profiling family)
# --------------------------------------------------------------------------
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "d10_corr_matrix",
    oracle=f"""
    WITH a AS (
      SELECT {", ".join(
          f"corr({x}, {y}) AS c_{x}_{y}"
          for i, x in enumerate(_CORR_COLS)
          for y in _CORR_COLS[i + 1:]
      )}
      FROM lineitem
    )
    {" UNION ALL ".join(
        f"SELECT '{x}' AS col_a, '{y}' AS col_b, ROUND(c_{x}_{y}, 4) AS corr FROM a"
        for i, x in enumerate(_CORR_COLS)
        for y in _CORR_COLS[i + 1:]
    )}
    ORDER BY col_a, col_b
    """,
)
def d10_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over the fact table's numeric columns,
    unpivoted to the (col_a, col_b, corr) triangle — the dependence readout
    of a profiling pass (redundant-feature detection before training,
    sanity-checking synthetic data).

    Scale shape: ONE aggregate pass computes all C(n,2) correlations —
    each is three running moments, all partial+final combinable, so the
    shuffle carries one row of state per partition regardless of data
    size. The unpivot runs on the single result row. The naive per-pair
    loop would scan the fact table 6 times; this scans once."""
    li = catalog(spark, sf_dir).lineitem
    pairs = [
        (x, y)
        for i, x in enumerate(_CORR_COLS)
        for y in _CORR_COLS[i + 1 :]
    ]
    a = li.agg(
        *[F.round(F.corr(x, y), 4).alias(f"c_{x}_{y}") for x, y in pairs]
    )
    stack = F.expr(
        "stack({n}, {args}) AS (col_a, col_b, corr)".format(
            n=len(pairs),
            args=", ".join(f"'{x}', '{y}', c_{x}_{y}" for x, y in pairs),
        )
    )
    return a.select(stack).orderBy("col_a", "col_b")


# --------------------------------------------------------------------------
# D16 extension — INTERSECT ALL (bag intersection, completing the multiset
# set-op pair with d16_except_all)
# --------------------------------------------------------------------------
@register(
    "d16_intersect_all",
    oracle="""
    SELECT custkey FROM (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderkey < 4000
      INTERSECT ALL
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 50000
    ) ORDER BY custkey
    """,
)
def d16_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag intersection preserving multiplicity (a
    customer with 3 early orders and 2 big ones appears twice, the MIN of
    the two sides' counts). Spark plans the same shape as exceptAll: one
    count-per-key aggregate on each side + generate — one shuffle per
    side on the value, no join of the raw rows."""
    o = catalog(spark, sf_dir).orders
    a = o.where(F.col("o_orderkey") < 4000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.where(F.col("o_totalprice") > 50000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersectAll(b).orderBy("custkey")


# --------------------------------------------------------------------------
# D05 extension — null-safe equi-join (<=> / IS NOT DISTINCT FROM)
# --------------------------------------------------------------------------
@register(
    "d05_null_safe_join",
    # nullable keys on BOTH sides: clerk numbers ending in 0 are nulled
    # (simulating unparseable source IDs); <=> matches null with null,
    # so the null-key groups join instead of silently dropping.
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             NULLIF(CAST(o_custkey % 50 AS BIGINT), 0) AS k
      FROM orders WHERE o_orderkey < 8000
    ), d AS (
      SELECT NULLIF(CAST(c_custkey % 50 AS BIGINT), 0) AS k,
             COUNT(*) AS dim_rows
      FROM customer GROUP BY 1
    )
    SELECT o.o_orderkey, o.k, d.dim_rows
    FROM o JOIN d ON o.k IS NOT DISTINCT FROM d.k
    ORDER BY o_orderkey
    """,
)
def d05_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``eqNullSafe`` / SQL ``<=>``): null keys MATCH
    null keys instead of vanishing — the semantics you need when a join
    key is legitimately absent on both sides (unparsed IDs, optional
    foreign keys) and dropping those rows would silently lose data. A
    plain equi-join on the same inputs loses every null-key row; the
    oracle's IS NOT DISTINCT FROM keeps them, and the hash must agree.

    Scale shape: <=> is still HASH-JOINABLE (null hashes to a regular
    bucket) — the plan is the same broadcast/shuffle hash join as '=',
    NOT a nested loop; the one scale caveat is that ALL null-key rows
    co-locate in one bucket, so a null-heavy fact side is a skew key —
    salt or pre-split nulls when they dominate (same playbook as any
    hot key)."""
    o = (
        catalog(spark, sf_dir)
        .orders.where(F.col("o_orderkey") < 8000)
        .select(
            "o_orderkey",
            F.nullif((F.col("o_custkey") % 50).cast("long"), F.lit(0)).alias("k"),
        )
    )
    d = (
        catalog(spark, sf_dir)
        .customer.select(
            F.nullif((F.col("c_custkey") % 50).cast("long"), F.lit(0)).alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("dim_rows"))
    )
    return (
        o.join(F.broadcast(d), o["k"].eqNullSafe(d["k"]))
        .select("o_orderkey", o["k"].alias("k"), "dim_rows")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# D07 extension — point-in-interval join via coarse-bucket equi-join
# --------------------------------------------------------------------------
@register(
    "d07_interval_join",
    oracle="""
    SELECT o.o_orderkey, l.l_orderkey, l.l_linenumber
    FROM orders o JOIN lineitem l
      ON l.l_quantity = 50
     AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 60 DAY
    WHERE o.o_orderkey < 100
    ORDER BY o_orderkey, l_orderkey, l_linenumber
    """,
)
def d07_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (ship events falling inside each order's
    60-day fulfilment window) executed as a BUCKETIZED EQUI-JOIN: the
    interval side explodes into the calendar months it spans, the point
    side maps to its one month, and the join runs on the month key with
    the exact BETWEEN predicate as a residual filter. A point lives in
    exactly one bucket, so no post-join dedup is needed.

    Scale shape: a naive theta join (`point BETWEEN lo AND hi`) has no
    equi key and degenerates to a nested-loop/cartesian — unusable at
    100 TB. Bucketizing restores a hash-partitionable key at the cost of
    |interval|/bucket-width fan-out on the (smaller) interval side; pick
    the bucket width near the median interval length so fan-out stays
    O(1-2) per interval. Here the filtered interval side is tiny and
    broadcast, so the fact side never shuffles at all."""
    t = catalog(spark, sf_dir)
    iv = (
        t.orders.where(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.col("o_orderdate").alias("lo"),
            (F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("hi"),
        )
        .withColumn(
            "m",
            F.explode(
                F.sequence(
                    F.date_trunc("month", F.col("lo")),
                    F.date_trunc("month", F.col("hi")),
                    F.expr("INTERVAL 1 MONTH"),
                )
            ),
        )
    )
    pts = t.lineitem.where(F.col("l_quantity") == 50).select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.date_trunc("month", F.col("l_shipdate")).alias("m"),
    )
    return (
        pts.join(
            F.broadcast(iv),
            (pts["m"] == iv["m"])
            & (F.col("l_shipdate") >= F.col("lo"))
            & (F.col("l_shipdate") <= F.col("hi")),
        )
        .select("o_orderkey", "l_orderkey", "l_linenumber")
        .orderBy("o_orderkey", "l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# D14 extension — running distinct-user count (cumulative cardinality)
# --------------------------------------------------------------------------
@register(
    "d14_running_distinct",
    oracle="""
    WITH e AS (
      SELECT event_type, user_id, CAST(ts AS DATE) AS d FROM events
    ), firsts AS (
      SELECT event_type, user_id, MIN(d) AS fd FROM e GROUP BY 1, 2
    ), days AS (
      SELECT DISTINCT event_type, d FROM e
    ), newc AS (
      SELECT event_type, fd AS d, COUNT(*) AS nu FROM firsts GROUP BY 1, 2
    )
    SELECT days.event_type AS event_type, strftime(days.d, '%Y-%m-%d') AS d,
           CAST(COALESCE(nu, 0) AS BIGINT) AS new_users,
           CAST(SUM(COALESCE(nu, 0)) OVER (
                  PARTITION BY days.event_type ORDER BY days.d) AS BIGINT)
             AS cum_distinct_users
    FROM days LEFT JOIN newc
      ON days.event_type = newc.event_type AND days.d = newc.d
    ORDER BY event_type, d
    """,
)
def d14_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT cardinality per day (cumulative unique users per
    event type) — the window COUNT(DISTINCT) neither engine supports
    directly, rewritten as first-occurrence flags: mark each user's first
    event (row_number = 1 over user history), sum flags per day, then a
    running sum over days. The oracle derives the same semantics via
    MIN(date)-per-user — two different formulations, one hash.

    Scale shape: one shuffle on (event_type, user_id) for the flag
    window, one partial+final agg to days, then a window over the tiny
    per-day series (rows = active days x event types, independent of
    event volume). Exact cumulative uniques at 100 TB without holding a
    distinct-set anywhere; if per-second granularity made the day series
    itself big, swap the final window for the mergeable HLL path (D11)."""
    e = catalog(spark, sf_dir).events.select(
        "event_type", "user_id", F.col("ts").cast("date").alias("d"), "ts", "event_id"
    )
    wf = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    daily = (
        e.withColumn("rn", F.row_number().over(wf))
        .groupBy("event_type", "d")
        .agg(F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("new_users"))
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.withColumn("cum_distinct_users", F.sum("new_users").over(wc))
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "new_users",
            "cum_distinct_users",
        )
        .orderBy("event_type", "d")
    )


# --------------------------------------------------------------------------
# D12 extension — unpivot/melt (wide -> long), the inverse of d12_pivot
# --------------------------------------------------------------------------
@register(
    "d12_unpivot",
    oracle="""
    WITH w AS (
      SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
             CAST(p_retailprice AS DOUBLE) AS retailprice
      FROM part
    )
    SELECT p_partkey, metric, ROUND(value, 4) AS value
    FROM (UNPIVOT w ON size, retailprice INTO NAME metric VALUE value)
    ORDER BY p_partkey, metric
    """,
)
def d12_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide -> long), the inverse of ``d12_pivot``: each
    measure column becomes a (metric, value) row — the normalization step
    before any generic per-metric aggregation, plotting, or union with
    other long-format sources.

    Scale shape: pure map-side projection (each input row emits
    n_measures rows, no shuffle, no window); Spark's ``unpivot`` is a
    Catalyst Expand node inside WholeStageCodegen — output volume is
    n_measures x input, so project away unneeded measures FIRST."""
    p = catalog(spark, sf_dir).part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retailprice"),
    )
    return (
        p.unpivot(["p_partkey"], ["size", "retailprice"], "metric", "value")
        .select("p_partkey", "metric", F.round("value", 4).alias("value"))
        .orderBy("p_partkey", "metric")
    )


# --------------------------------------------------------------------------
# D10 extension — PSI drift report (population stability between periods)
# --------------------------------------------------------------------------
@register(
    "d10_psi_drift",
    oracle="""
    WITH e AS (
      SELECT event_type, (date_part('day', ts) <= 15) AS is_ref,
             LEAST(GREATEST(CAST(floor(value / 50.0) AS BIGINT), 0), 9)
               AS bin
      FROM events
    ), wide AS (
      SELECT event_type, bin,
             SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
      FROM e GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, n_ref, n_cur,
             SUM(n_ref) OVER (PARTITION BY event_type) AS t_ref,
             SUM(n_cur) OVER (PARTITION BY event_type) AS t_cur,
             COUNT(*) OVER (PARTITION BY event_type) AS bins_present
      FROM wide
    ), terms AS (
      SELECT event_type, bins_present,
             ((n_cur + 0.5) / (t_cur + 5.0) - (n_ref + 0.5) / (t_ref + 5.0))
               * ln(((n_cur + 0.5) / (t_cur + 5.0))
                    / ((n_ref + 0.5) / (t_ref + 5.0))) AS term,
             (0.5 / (t_cur + 5.0) - 0.5 / (t_ref + 5.0))
               * ln((0.5 / (t_cur + 5.0)) / (0.5 / (t_ref + 5.0))) AS term0
      FROM tot
    )
    SELECT event_type,
           ROUND(SUM(term) + (10 - MAX(bins_present)) * MAX(term0), 4) AS psi
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def d10_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of the
    month, per event type — the standard drift gate a production pipeline
    runs before accepting a new data snapshot (PSI < 0.1 stable, > 0.25
    investigate). Fixed-width value bins with +0.5/+5 additive smoothing
    so empty bins never divide by zero; the smoothing constants are part
    of the declared contract and identical in the oracle.

    Scale shape: ONE fact scan, ONE shuffle — a conditional-count
    aggregate per (type, bin); every empty-on-both-sides bin contributes
    the SAME smoothed term, so instead of materializing a full bin grid
    (which would either re-scan the fact for its type dimension or
    cross-join one in) the missing-bin mass is added in closed form:
    psi = sum(present-bin terms) + (10 - bins_present) * both-missing
    term. All post-shuffle arithmetic runs on ~type x 10 rows."""
    e = catalog(spark, sf_dir).events.select(
        "event_type",
        (F.dayofmonth("ts") <= 15).alias("is_ref"),
        F.least(
            F.greatest(F.floor(F.col("value") / 50.0).cast("long"), F.lit(0)),
            F.lit(9),
        ).alias("bin"),
    )
    wide = e.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
    )
    wt = Window.partitionBy("event_type")
    tot = (
        wide.withColumn("t_ref", F.sum("n_ref").over(wt))
        .withColumn("t_cur", F.sum("n_cur").over(wt))
        .withColumn("bins_present", F.count(F.lit(1)).over(wt))
    )
    p_ref = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 5.0)
    p_cur = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 5.0)
    p0_ref = 0.5 / (F.col("t_ref") + 5.0)
    p0_cur = 0.5 / (F.col("t_cur") + 5.0)
    terms = tot.select(
        "event_type",
        "bins_present",
        ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("term"),
        ((p0_cur - p0_ref) * F.log(p0_cur / p0_ref)).alias("term0"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.round(
                F.sum("term")
                + (10 - F.max("bins_present")) * F.max("term0"),
                4,
            ).alias("psi")
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# D14 extension — robust outlier flagging via median absolute deviation
# --------------------------------------------------------------------------
@register(
    "d14_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type,
             CAST(quantile_cont(value, 0.5) AS DOUBLE) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type,
             CAST(quantile_cont(abs(e.value - m.med), 0.5) AS DOUBLE) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, ROUND(e.value, 4) AS value,
           ROUND((e.value - m.med) / (1.4826 * d.mad), 4) AS robust_z
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    WHERE abs((e.value - m.med) / (1.4826 * d.mad)) > 3
    ORDER BY event_id
    """,
)
def d14_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flagging: |value - median| > 3 * 1.4826 * MAD per
    event type — the median/MAD twin of ``d14_zscore_outliers`` that a
    heavy-tailed metric needs (mean/stddev are themselves dragged by the
    outliers they're meant to find; the median and MAD are not). The
    1.4826 factor scales MAD to sigma-equivalent under normality. The
    filter runs on the UNROUNDED expression in both engines; rounding is
    presentation only.

    Scale shape: two exact-percentile aggregations (each shuffles only
    (type, value) pairs) producing a per-type table of a few rows that
    broadcast-joins back to the fact — the fact never shuffles. At
    100 TB swap percentile for approx_percentile on the same plan shape
    (D11 tolerance contract) if per-type value lists outgrow memory."""
    e = catalog(spark, sf_dir).events
    med = (
        e.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("med"))
        # lazy lineage cut on the per-type median (~16 bytes/type): the MAD
        # pass and the stats join both consume it — uncut, the exact
        # percentile (a full per-type value-buffer sort) and the events
        # scan ran twice (r12 interleaved A/B: 0.68 s -> 0.50 s noop,
        # exchanges 14 -> 10)
        .transform(lineage_cut)
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    stats = F.broadcast(med.join(mad, "event_type"))
    z = (F.col("value") - F.col("med")) / (1.4826 * F.col("mad"))
    return (
        e.join(stats, "event_type")
        .where(F.abs(z) > 3)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("robust_z"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# D14 extension — time-RANGE window frame (interval-bounded, not row-count)
# --------------------------------------------------------------------------
@register(
    "d14_time_range_sum",
    oracle="""
    SELECT event_id,
           ROUND(SUM(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4)
             AS hour_sum
    FROM events ORDER BY event_id
    """,
)
def d14_time_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per user, the running sum of activity in
    the trailing ONE HOUR — frame membership decided by event-TIME
    distance, not row count (the frame a row-count window cannot express
    when event spacing is irregular). Timestamps carry microseconds, so
    both engines order by integer epoch-MICROSECONDS and bound the frame
    at exactly 3 600 000 000 — bit-identical membership; a seconds-cast
    would silently disagree at sub-second boundaries.

    Scale shape: one shuffle on user_id, then a single WindowExec pass
    per partition with a sliding two-pointer frame — O(n) per key, state
    is one running sum. The canonical trailing-window feature
    (rate limiting, rolling spend, burst detection) at any scale."""
    e = catalog(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id", F.round(F.sum("value").over(w), 4).alias("hour_sum")
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# D27 extension — top user journeys (ordered event-type paths)
# --------------------------------------------------------------------------
@register(
    "d27_top_paths",
    oracle="""
    WITH p AS (
      SELECT user_id,
             array_to_string(list(event_type ORDER BY ts, event_id)[1:3],
                             '>') AS path
      FROM events GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM p GROUP BY path ORDER BY n_users DESC, path LIMIT 20
    """,
)
def d27_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user JOURNEYS: each user's first three event types in
    event-time order, joined into a path string, ranked by frequency —
    the onboarding-flow / drop-off analysis next to d27_funnel (which
    fixes the sequence; this DISCOVERS the frequent sequences).
    Total (ts, event_id) ordering makes the path deterministic.

    Scale shape: one shuffle on user_id with partial aggregation
    (collect per-user triples), then a tiny path-frequency agg and a
    TakeOrderedAndProject top-20 — no window, no second full shuffle;
    the sort/slice/join of each user's events happens inside codegen
    array expressions on grouped rows."""
    e = catalog(spark, sf_dir).events
    paths = (
        e.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">",
                F.transform(
                    F.slice("evs", 1, 3), lambda s: s["event_type"]
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )


# --------------------------------------------------------------------------
# D03 extension — join strategy hints (broadcast / shuffle-hash / merge):
# same semantics, three pinned physical plans
# --------------------------------------------------------------------------
@register(
    "d03_join_hints",
    oracle="""
    SELECT o_orderkey, c_name FROM orders JOIN customer
      ON o_custkey = c_custkey
    WHERE o_orderkey < 5000
    ORDER BY o_orderkey
    """,
)
def d03_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join STRATEGY control: the same equi-join executed with an explicit
    ``merge`` (sort-merge) hint — result identical to the broadcast form
    (one oracle covers all strategies; the plan test pins that each hint
    actually switches the physical operator). Strategy hints are the
    escape hatch when the optimizer's size estimates are wrong at 100 TB:
    force SMJ for two huge pre-sorted sides, SHUFFLE_HASH when one side
    is small-ish but above the broadcast threshold, broadcast for dims.

    Scale shape: SMJ = shuffle both sides on the key + linear merge —
    the right default when BOTH sides are large; spills gracefully
    (sort runs) where hash join would OOM."""
    t = catalog(spark, sf_dir)
    o = t.orders.where(F.col("o_orderkey") < 5000)
    return (
        o.hint("merge")
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# D15 extension — keyset-free pagination (ORDER BY ... LIMIT ... OFFSET)
# --------------------------------------------------------------------------
@register(
    "d15_paginate",
    oracle="""
    SELECT c_custkey, c_name, ROUND(c_acctbal, 4) AS acctbal
    FROM customer ORDER BY c_acctbal DESC, c_custkey
    LIMIT 20 OFFSET 40
    """,
)
def d15_paginate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page 3 of the balance leaderboard: total-order sort + OFFSET/LIMIT
    (``DataFrame.offset``, Spark 3.4+). OFFSET pagination is fine for
    UI-depth offsets (the sort is a top-(offset+limit) heap per
    partition, merged on one reducer); for DEEP pagination at 100 TB use
    keyset continuation instead — ``WHERE (c_acctbal, c_custkey) <
    last_seen ORDER BY ... LIMIT k`` — which this operator's total
    ordering makes deterministic and resumable."""
    c = catalog(spark, sf_dir).customer
    return (
        c.select(
            "c_custkey", "c_name", F.round("c_acctbal", 4).alias("acctbal")
        )
        .orderBy(F.desc("acctbal"), "c_custkey")
        .offset(40)
        .limit(20)
    )


# --------------------------------------------------------------------------
# D19 extension — exact DECIMAL aggregation (no floating-point drift)
# --------------------------------------------------------------------------
@register(
    "d19_decimal_exact",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4))
                AS DECIMAL(28,4))) AS VARCHAR) AS total_exact,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def d19_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL(18,4) aggregation: money sums with NO floating-point
    drift — the result is emitted as its canonical string so the oracle
    certifies exact digits, not a rounded double. Decimal sums are
    associative and commutative, so the answer is independent of
    partitioning and merge order — the property double-sums lack and the
    reason financial roll-ups at 100 TB must aggregate in decimal.

    Scale shape: identical partial+final hash agg as the double path;
    Spark widens the accumulator (sum of DECIMAL(18,4) ->
    DECIMAL(28,4)) exactly as the oracle's explicit cast does."""
    o = catalog(spark, sf_dir).orders
    return (
        o.select(
            "o_orderpriority",
            F.col("o_totalprice").cast("decimal(18,4)").alias("p"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.sum("p").cast("decimal(28,4)").cast("string").alias("total_exact"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# D11 extension — approximate frequent items (heavy hitters)
# --------------------------------------------------------------------------
@register("d11_freq_items", oracle=None)
def d11_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass approximate heavy hitters (``df.stat.freqItems``,
    Karp-Papadimitriou-Shenker counters): every value with frequency
    above the support threshold is GUARANTEED present (false positives
    possible, false negatives not) — the D11 sketch contract again, so
    non-oracle like the HLL/percentile entries; pytest pins that the true
    mode of the column always survives.

    Scale shape: one pass, fixed 1/support counters per partition merged
    associatively — the streaming-safe way to find hot keys (skew-join
    salting candidates, cache keys) at 100 TB without a full groupBy."""
    o = catalog(spark, sf_dir).orders
    rows = o.stat.freqItems(["o_orderpriority"], support=0.25).collect()[0]
    items = sorted(rows[0])
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(items)], "idx int, o_orderpriority string"
    )


# --------------------------------------------------------------------------
# D10 extension — equi-width histogram (width_bucket binning)
# --------------------------------------------------------------------------
@register(
    "d10_histogram",
    oracle="""
    SELECT event_type,
           -- width_bucket(value, 0, 500, 20) spelled arithmetically
           -- (DuckDB ships no width_bucket): floor(v/25)+1, edges clamped
           LEAST(GREATEST(CAST(floor(value / 25.0) AS BIGINT) + 1, 1), 20)
             AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(value), 4) AS lo, ROUND(MAX(value), 4) AS hi
    FROM events GROUP BY 1, 2 ORDER BY event_type, bucket
    """,
)
def d10_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram per event type (20 buckets over [0, 500],
    under/overflow clamped to the edge buckets — width_bucket semantics
    pinned identically in both engines) with per-bucket observed min/max.
    The profiling readout behind every data-quality dashboard and the
    input to the PSI gate (d10_psi_drift shares the binning idea with
    drift arithmetic on top).

    Scale shape: one partial+final aggregate; output is
    types x 20 rows regardless of volume, and the bucket expression is
    pure codegen arithmetic on the scan."""
    e = catalog(spark, sf_dir).events
    bucket = F.least(
        F.greatest(F.width_bucket("value", F.lit(0.0), F.lit(500.0), F.lit(20)), F.lit(1)),
        F.lit(20),
    )
    return (
        e.groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
        .orderBy("event_type", "bucket")
    )


# --------------------------------------------------------------------------
# D14 extension — LOCF forward fill (last_value IGNORE NULLS)
# --------------------------------------------------------------------------
@register(
    "d14_locf_fill",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE ROUND(value, 4) END AS reading
      FROM events WHERE user_id < 50
    )
    SELECT event_id,
           reading,
           last_value(reading IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM e ORDER BY event_id
    """,
)
def d14_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF forward fill (last observation carried forward): readings
    masked out on error events are repaired with the user's most recent
    valid value — ``last(..., ignorenulls=True)`` over a running frame,
    the standard gap-repair for sensor/metric streams (the step-function
    complement to d14_linear_interpolate's time-weighted repair). Leading
    nulls (no prior observation) stay null by definition. Total
    (ts, event_id) ordering makes the fill deterministic.

    Scale shape: one shuffle on user_id, one WindowExec pass holding a
    single scalar of state per key — O(n) per partition, no join against
    a 'last known values' table (which is how this is mis-built when the
    window form isn't known)."""
    e = catalog(spark, sf_dir).events.where(F.col("user_id") < 50).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.round("value", 4)
        ).alias("reading"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "reading",
        F.last("reading", ignorenulls=True).over(w).alias("filled"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# D12 extension — grouping flags (data-NULL vs subtotal-NULL disambiguation)
# --------------------------------------------------------------------------
@register(
    "d12_grouping_flags",
    oracle="""
    WITH src AS (
      SELECT o_orderpriority AS prio,
             NULLIF(o_orderstatus, 'O') AS status,  -- REAL nulls in the data
             o_totalprice
      FROM orders
    )
    SELECT COALESCE(prio, '(all)') AS prio,
           COALESCE(status, '(n/a)') AS status,
           CAST(GROUPING(prio) AS INTEGER) AS g_prio,
           CAST(GROUPING(status) AS INTEGER) AS g_status,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS revenue
    FROM src GROUP BY ROLLUP(prio, status)
    ORDER BY g_prio, g_status, prio, status
    """,
)
def d12_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with ``grouping()`` flags over a column that contains REAL
    nulls (status 'O' nulled out): without the flags, a data-null group
    row and a subtotal row are indistinguishable — the classic rollup
    correctness trap. The flags separate them exactly; the COALESCE
    labels make the distinction visible in the output and the hash.

    Scale shape: same Expand + partial/final aggregate as d12_rollup —
    grouping flags are free metadata bits of the Expand projection, not
    extra computation."""
    src = catalog(spark, sf_dir).orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.nullif("o_orderstatus", F.lit("O")).alias("status"),
        "o_totalprice",
    )
    return (
        src.rollup("prio", "status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.grouping("prio").cast("int").alias("g_prio"),
            F.grouping("status").cast("int").alias("g_status"),
        )
        .select(
            F.coalesce("prio", F.lit("(all)")).alias("prio"),
            F.coalesce("status", F.lit("(n/a)")).alias("status"),
            "g_prio",
            "g_status",
            "n",
            "revenue",
        )
        .orderBy("g_prio", "g_status", "prio", "status")
    )


# --------------------------------------------------------------------------
# D19 extension — error-safe arithmetic (try_cast / try_divide):
# dirty-data numerics that degrade to NULL instead of failing the job
# --------------------------------------------------------------------------
@register(
    "d19_try_arithmetic",
    oracle="""
    WITH src AS (
      SELECT p_partkey,
             CASE WHEN p_partkey % 3 = 0
                  THEN CAST(p_size AS VARCHAR) || 'x'
                  ELSE CAST(p_size AS VARCHAR) END AS raw_size,
             p_size, p_retailprice
      FROM part
    )
    SELECT p_partkey,
           TRY_CAST(raw_size AS BIGINT) AS parsed_size,
           ROUND(CASE WHEN p_size - 7 = 0 THEN NULL
                      ELSE p_retailprice / (p_size - 7) END, 4)
             AS price_per_unit,
           (TRY_CAST(raw_size AS BIGINT) IS NULL) AS parse_failed
    FROM src ORDER BY p_partkey
    """,
)
def d19_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe numerics over dirty input: ``try_cast`` turns unparseable
    strings into NULL (a third of the rows carry a trailing junk char by
    construction) and ``try_divide`` turns division-by-zero into NULL —
    the ANSI-mode-safe spellings that let a 100 TB job survive the bad
    0.001% of a crawl instead of dying at hour nine (the row-level
    complement to the file-level DROPMALFORMED of d01_*_corrupt). The
    parse_failed flag makes the salvage rate auditable downstream.

    Scale shape: pure map-side codegen expressions, no shuffle; NULLs
    flow through later aggregates for free (count vs count(col) gives
    the salvage rate with no extra pass)."""
    src = catalog(spark, sf_dir).part.select(
        "p_partkey",
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(F.col("p_size").cast("string"), F.lit("x")),
        )
        .otherwise(F.col("p_size").cast("string"))
        .alias("raw_size"),
        "p_size",
        "p_retailprice",
    )
    parsed = F.col("raw_size").try_cast("long")
    return src.select(
        "p_partkey",
        parsed.alias("parsed_size"),
        F.round(
            F.try_divide(F.col("p_retailprice"), F.col("p_size") - 7), 4
        ).alias("price_per_unit"),
        parsed.isNull().alias("parse_failed"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# D10 extension (round 5) — data-quality EXPECTATION battery (the dbt-test /
# Great-Expectations surface: declarative rules -> per-rule audit rows)
# --------------------------------------------------------------------------
@register(
    "d10_expectations",
    oracle="""
    SELECT * FROM (
      SELECT 'orders.o_custkey.not_null' AS rule,
             COUNT(*) AS n_checked,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_failed
      FROM orders
      UNION ALL
      SELECT 'orders.o_orderstatus.accepted_values',
             COUNT(*),
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders.o_totalprice.non_negative',
             COUNT(*),
             CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders.o_orderkey.unique',
             COUNT(*),
             COUNT(*) - COUNT(DISTINCT o_orderkey)
      FROM orders
      UNION ALL
      SELECT 'lineitem.l_discount.in_range_0_0.1',
             COUNT(*),
             CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_orderkey.references_orders',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
    ) t(rule, n_checked, n_failed)
    ORDER BY rule
    """,
)
def d10_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations evaluated as ONE audit table:
    not-null, accepted-values, numeric-range, uniqueness, and referential
    integrity, each a (rule, n_checked, n_failed) row — the dbt-test /
    Great-Expectations contract surface every production table carries.

    Scale shape: all single-table rules for a table fuse into ONE
    conditional-aggregation pass (one scan of orders covers three rules,
    uniqueness adds a count-distinct partial agg); referential integrity
    is a left-anti join on the join key — at 100 TB each rule family costs
    what its weakest primitive costs, never a per-rule rescan, and the
    audit output is O(#rules) rows."""
    t = catalog(spark, sf_dir)
    o, li = t.orders, t.lineitem

    def row(rule, n_checked, n_failed):
        return F.struct(
            F.lit(rule).alias("rule"),
            n_checked.cast("long").alias("n_checked"),
            n_failed.cast("long").alias("n_failed"),
        )

    cnt = F.count(F.lit(1))
    orders_rules = o.agg(
        F.array(
            row(
                "orders.o_custkey.not_null",
                cnt,
                F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)),
            ),
            row(
                "orders.o_orderstatus.accepted_values",
                cnt,
                F.sum(
                    F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
                ),
            ),
            row(
                "orders.o_totalprice.non_negative",
                cnt,
                F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)),
            ),
            row(
                "orders.o_orderkey.unique",
                cnt,
                cnt - F.countDistinct("o_orderkey"),
            ),
        ).alias("rules")
    )
    li_rules = li.agg(
        F.array(
            row(
                "lineitem.l_discount.in_range_0_0.1",
                cnt,
                F.sum(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1
                    ).otherwise(0)
                ),
            )
        ).alias("rules")
    )
    # referential integrity in ONE lineitem pass: a LEFT join against the
    # orders key column (unique, so no fanout) lets a single aggregate
    # produce both the checked total and the orphan count — the anti-join
    # formulation would scan lineitem twice (once for COUNT(*), once for
    # the anti probe)
    ref_rule = (
        li.select("l_orderkey")
        .join(
            o.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.array(
                row(
                    "lineitem.l_orderkey.references_orders",
                    cnt,
                    F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)),
                )
            ).alias("rules")
        )
    )
    return (
        orders_rules.union(li_rules)
        .union(ref_rule)
        .select(F.explode("rules").alias("r"))
        .select("r.rule", "r.n_checked", "r.n_failed")
        .orderBy("rule")
    )


# --------------------------------------------------------------------------
# D27 extension (round 5) — Markov transition matrix over event journeys
# --------------------------------------------------------------------------
@register(
    "d27_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS src, next_type AS dst, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT src, dst, n,
           ROUND(n / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE), 4)
             AS p
    FROM pairs ORDER BY src, dst
    """,
)
def d27_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user journeys: for every
    ordered (event_type → next event_type) pair, the count and the
    conditional probability P(dst | src) — the behavioral model behind
    next-action prediction, anomaly scoring, and funnel design; rows per
    src sum to 1 by construction.

    Scale shape: ONE shuffle on user_id for the LEAD window (each user's
    timeline is processed within its partition), then a partial+final agg
    to the (|types|²)-row pair table; the probability normalization runs
    as a window over that tiny table — cost is the one timeline shuffle
    regardless of event volume, the same shape as d27_attribution."""
    from pyspark.sql import Window

    ev = catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    pairs = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ws = Window.partitionBy("src")
    return (
        pairs.withColumn(
            "p", F.round(F.col("n") / F.sum("n").over(ws).cast("double"), 4)
        )
        .orderBy("src", "dst")
    )


# --------------------------------------------------------------------------
# D14 extension (round 6) — hypertable-style time-bucket rollup (batch
# window(): the continuous-aggregate primitive, TimescaleDB time_bucket /
# ClickHouse toStartOfInterval analogue)
# --------------------------------------------------------------------------
@register(
    "d14_date_bin_rollup",
    oracle="""
    SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY bucket_start, event_type
    """,
)
def d14_date_bin_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket rollup in BATCH via ``F.window`` (the same tumbling
    operator d26 uses in streaming, applied to a static frame): 6-hour
    buckets x event_type with count / distinct users / value sum — the
    hypertable continuous-aggregate shape every metrics store
    materializes. Spark's window() origin is the epoch; DuckDB
    time_bucket's sub-week origin (2000-01-03 00:00) lands on the same
    6-hour grid, so bucket boundaries agree by construction.

    Scale shape: ONE partial+final hash agg keyed on (bucket, type) — the
    bucket expression is codegen'd arithmetic on the scan, no window
    exchange, no join; distinct-user counting expands to the standard
    two-level agg. At 100 TB this is the query you'd run per ingest
    partition and MERGE into the rollup MV (d35_mv_merge)."""
    ev = catalog(spark, sf_dir).events
    return (
        ev.groupBy(
            F.window("ts", "6 hours").start.alias("bucket_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("bucket_start", "event_type")
    )


# --------------------------------------------------------------------------
# D15 (cont.) — distributed skyline / D16 (cont.) — recursive CTE /
# D10 (cont.) — Benford first-digit drift   [round-6 wave 3]
# --------------------------------------------------------------------------
def _skyline_pdf(pdf):
    """Exact 2-D skyline of one pandas block: minimize price, maximize size.
    a dominates b iff a.price<=b.price AND a.size>=b.size with one strict;
    equal (price,size) duplicates survive (nothing strictly beats them).

    Vectorized: per price LEVEL keep only rows at the level's max size,
    then drop any level whose max size is <= the running max over strictly
    cheaper levels (cummax shifted by one)."""
    if len(pdf) == 0:
        return pdf
    level_max = pdf.groupby("price")["p_size"].transform("max")
    levels = pdf.groupby("price")["p_size"].max().sort_index()
    prev_strict = levels.cummax().shift(1)  # max size among cheaper prices
    pm = pdf["price"].map(prev_strict.to_dict())
    keep = (pdf["p_size"] == level_max) & ~(pm >= pdf["p_size"])
    return pdf[keep]


@register(
    "d15_skyline",
    oracle="""
    SELECT p_partkey, p_size, ROUND(p_retailprice, 4) AS price
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
    ORDER BY p_partkey
    """,
)
def d15_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of parts: cheapest-for-their-size — no other
    part is both <= price and >= size with one strict. The classic
    two-phase distributed skyline: (1) LOCAL skyline per Arrow batch via
    mapInPandas — dominance is transitive, so every globally dominated row
    is dominated by some local survivor and local pruning is lossless;
    (2) GLOBAL exact pass over the tiny candidate union via applyInPandas
    on a single group (the whole candidate set as ONE pandas frame, immune
    to Arrow batch splitting that would make a mapInPandas pass inexact).

    Scale shape (100 TB): phase 1 is map-only and for anticorrelated-at-
    random data shrinks each partition to O(log n) candidates; only those
    survivors cross the wire (3 narrow columns), so the single-group final
    pass sees KBs, not TBs. Worst case (fully correlated columns) degrades
    to the true skyline size, which IS the output. Result is independent of
    partitioning: the final pass applies exact dominance on the union.
    Deliberately NOT a global window over price levels — that would
    exchange every distinct price to one task before pruning."""
    sch = "p_partkey long, p_size int, price double"
    cand = (
        catalog(spark, sf_dir)
        .part.select("p_partkey", "p_size", F.col("p_retailprice").alias("price"))
        .mapInPandas(lambda it: (_skyline_pdf(pdf) for pdf in it), schema=sch)
    )
    sky = cand.groupBy(F.lit(1).alias("g")).applyInPandas(
        lambda key, pdf: _skyline_pdf(pdf), schema=sch
    )
    return sky.select(
        "p_partkey", "p_size", F.round("price", 4).alias("price")
    ).orderBy("p_partkey")


@register(
    "d16_recursive_cte",
    oracle="""
    WITH RECURSIVE up(custkey, cur, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer
      UNION ALL
      SELECT custkey, cur // 10, depth + 1 FROM up WHERE cur >= 10
    )
    SELECT custkey, MAX(depth) AS depth,
           MAX(CASE WHEN cur < 10 THEN cur END) AS root
    FROM up GROUP BY custkey ORDER BY custkey
    """,
)
def d16_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative UNION via WITH RECURSIVE (Spark 4's recursive CTE): walk a
    synthetic reporting chain custkey -> custkey div 10 up to its single-
    digit root, emitting chain depth and root per customer — the org-chart
    ancestor query, expressed in the query language instead of a driver
    loop.

    Scale shape (100 TB): each recursion step is one codegen'd
    filter+project over the previous step's output — no join, no window —
    and the working set SHRINKS monotonically (rows exit when cur < 10), so
    the fixpoint runs in O(log10(max key)) steps; the only shuffle is the
    final per-customer aggregate. This is the declarative replacement for
    collect()-driven driver iteration (the anti-pattern the engine bans)."""
    t = catalog(spark, sf_dir)
    t.customer.createOrReplaceTempView("cns_rc_customer")
    return spark.sql(
        """
        WITH RECURSIVE up(custkey, cur, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM cns_rc_customer
          UNION ALL
          SELECT custkey, cur DIV 10, depth + 1 FROM up WHERE cur >= 10
        )
        SELECT custkey, MAX(depth) AS depth,
               MAX(CASE WHEN cur < 10 THEN cur END) AS root
        FROM up GROUP BY custkey ORDER BY custkey
        """
    )


@register(
    "d10_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                               AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 0.01
    ), c AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    )
    SELECT digit, n,
           ROUND(n / CAST(SUM(n) OVER () AS DOUBLE), 4)      AS obs,
           ROUND(LOG10(1.0 + 1.0 / digit), 4)                AS expected,
           ROUND(ABS(n / CAST(SUM(n) OVER () AS DOUBLE)
                     - LOG10(1.0 + 1.0 / digit)), 4)         AS abs_dev
    FROM c ORDER BY digit
    """,
)
def d10_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law drift check: first-significant-digit distribution of
    order totals vs the log10(1 + 1/d) expectation — the forensic data-
    quality test for fabricated or truncated numeric columns. The digit is
    extracted from INTEGER CENTS rendered as a string (first char), not
    from floor(log10(x)) arithmetic, so the Spark and DuckDB results can
    never diverge on log-of-a-power-of-ten float dust.

    Scale shape (100 TB): one partial+final hash agg to <= 9 digit rows;
    the share computation is a window over those 9 rows (single-task by
    construction, bytes of state). The scan reads one column."""
    o = catalog(spark, sf_dir).orders
    c = (
        o.where(F.col("o_totalprice") >= 0.01)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    share = F.col("n") / F.sum("n").over(Window.partitionBy())
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return c.select(
        "digit",
        "n",
        F.round(share, 4).alias("obs"),
        F.round(expected, 4).alias("expected"),
        F.round(F.abs(share - expected), 4).alias("abs_dev"),
    ).orderBy("digit")


# --------------------------------------------------------------------------
# D27 (cont.) — position-based multi-touch attribution / D14 (cont.) —
# CUSUM change-point detection   [round-6 wave 3]
# --------------------------------------------------------------------------
@register(
    "d27_multi_touch",
    oracle="""
    WITH fp AS (
      SELECT user_id, MIN(ts) AS first_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), touch AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id
      FROM events e JOIN fp ON e.user_id = fp.user_id
      WHERE e.event_type IN ('view', 'click') AND e.ts < fp.first_purchase
    ), pos AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             COUNT(*)    OVER (PARTITION BY user_id)                        AS n
      FROM touch
    ), credit AS (
      SELECT event_type,
             CAST(ROUND(CASE WHEN n = 1 THEN 1.0
                             WHEN n = 2 THEN 0.5
                             WHEN rn = 1 OR rn = n THEN 0.4
                             ELSE 0.2 / (n - 2) END, 8) AS DECIMAL(18,8)) AS w
      FROM pos
    )
    SELECT event_type, COUNT(*) AS n_touches,
           CAST(ROUND(SUM(w), 4) AS DOUBLE) AS credit
    FROM credit GROUP BY event_type ORDER BY event_type
    """,
)
def d27_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every view/click
    before a user's FIRST purchase shares that conversion's credit — 40%
    first touch, 40% last, 20% split across the middle (degenerate
    journeys: 1 touch -> 100%, 2 -> 50/50). Complements the last-touch
    model (d27_attribution) with the fractional-credit family.

    Scale shape (100 TB): one shuffle on user_id serves BOTH the
    first-purchase aggregate and the journey windows (Catalyst reuses the
    exchange); per-touch credit is scalar arithmetic; the final channel
    rollup partially aggregates to #channels rows. Credits are rounded to
    8dp and summed as DECIMAL(18,8) — exact integer arithmetic — because a
    many-addend DOUBLE sum diverges from the oracle in the 4th decimal
    purely on summation order (the d03 lesson, BASELINE.md)."""
    ev = catalog(spark, sf_dir).events
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    touch = (
        ev.where(F.col("event_type").isin("view", "click"))
        .join(fp, "user_id")
        .where(F.col("ts") < F.col("first_purchase"))
    )
    wspec = Window.partitionBy("user_id")
    pos = touch.select(
        "event_type",
        F.row_number()
        .over(wspec.orderBy("ts", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(wspec).alias("n"),
    )
    w = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        pos.select("event_type", F.round(w, 8).cast("decimal(18,8)").alias("w"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum("w"), 4).cast("double").alias("credit"),
        )
        .orderBy("event_type")
    )


@register(
    "d14_cusum",
    oracle="""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      FROM orders GROUP BY 1
    ), c AS (
      SELECT day, rev,
             SUM(rev) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS s,
             ROW_NUMBER() OVER (ORDER BY day) AS t,
             COUNT(*) OVER ()                 AS n_days,
             SUM(rev) OVER ()                 AS total
      FROM daily
    )
    SELECT day, CAST(rev AS DOUBLE) AS rev,
           ROUND(ABS(CAST(s AS DOUBLE)
                     - t * CAST(total AS DOUBLE) / n_days), 4) AS cusum_dev
    FROM c
    ORDER BY ROUND(ABS(CAST(s AS DOUBLE)
                       - t * CAST(total AS DOUBLE) / n_days), 4) DESC, day
    LIMIT 10
    """,
)
def d14_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan over the daily revenue series: the statistic
    |S_t − t·S_N/N| (cumulative sum's deviation from the uniform-rate
    line) peaks at the most likely level-shift day; report the top-10
    candidates. Daily sums accumulate as DECIMAL(12,2) — exact — so the
    cumulative sums are order-independent; the deviation is then identical
    per-row double arithmetic on identical exact inputs, making the
    ranking deterministic (rounded before ORDER BY per the house rule).

    Scale shape (100 TB): the heavy lift is the per-day partial+final hash
    agg (map-side combine on the scan); the windowed cumsum runs over the
    ~#days rows that survive — a single-task window over KBs by
    construction, not a data-sized exchange. Top-10 is TakeOrdered."""
    o = catalog(spark, sf_dir).orders
    daily = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev"))
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = daily.select(
        "day",
        "rev",
        F.sum("rev").over(wcum).alias("s"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.count(F.lit(1)).over(wall).alias("n_days"),
        F.sum("rev").over(wall).alias("total"),
    )
    dev = F.round(
        F.abs(
            F.col("s").cast("double")
            - F.col("t") * F.col("total").cast("double") / F.col("n_days")
        ),
        4,
    )
    return (
        c.select("day", F.col("rev").cast("double").alias("rev"), dev.alias("cusum_dev"))
        .orderBy(F.desc("cusum_dev"), "day")
        .limit(10)
    )


# --------------------------------------------------------------------------
# D13 (cont.) — cumulative distribution / D9 (cont.) — conditional
# aggregate battery / D18 (cont.) — calendar dimension   [round-6 wave 3]
# --------------------------------------------------------------------------
@register(
    "d13_cume_dist",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(CUME_DIST() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice), 4) AS cd
    FROM orders WHERE o_orderkey < 2000
    ORDER BY o_orderkey
    """,
)
def d13_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist — the ties-inclusive cumulative share rank, completing the
    D13 ranking family (rank/dense_rank/percent_rank/ntile). Tied order
    totals receive identical cd in both engines by definition (count of
    rows <= current over partition size), so no tiebreak column is needed
    in the rank itself; the key filter bounds the output."""
    o = catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.cume_dist().over(w), 4).alias("cd"),
    ).orderBy("o_orderkey")


@register(
    "d09_conditional_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT)
             AS n_big,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                      FILTER (WHERE o_orderstatus = 'F'), 4) AS DOUBLE)
             AS filled_rev,
           BOOL_OR(o_orderstatus = 'F')  AS any_filled,
           BOOL_AND(o_totalprice > 900)  AS all_above_min
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def d09_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conditional-aggregate battery: FILTER-clause count and sum plus
    BOOL_OR/BOOL_AND quantifiers in one grouped pass — the idiom that
    replaces N per-predicate scans with one conditional scan (same fusion
    principle as d10_expectations, here as the user-facing surface).
    Money sums accumulate as DECIMAL(12,2) (the d03 order-independence
    rule).

    Scale shape (100 TB): ONE partial+final hash agg on a 5-value key;
    every predicate is codegen'd on the scan. Adding a 10th conditional
    metric costs zero additional data movement."""
    o = catalog(spark, sf_dir).orders
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
            F.round(
                F.sum(F.when(F.col("o_orderstatus") == "F", dec)), 4
            )
            .cast("double")
            .alias("filled_rev"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_filled"),
            F.bool_and(F.col("o_totalprice") > 900).alias("all_above_min"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "d18_calendar_dim",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
             CAST(MAX(o_orderdate) AS DATE) AS hi
      FROM orders
    ), spine AS (
      SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
      FROM bounds
    ), daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT strftime(s.d, '%Y-%m-%d') AS day,
           CAST(EXTRACT(month FROM s.d) AS INTEGER)   AS month,
           CAST(EXTRACT(quarter FROM s.d) AS INTEGER) AS quarter,
           CAST(EXTRACT(isodow FROM s.d) AS INTEGER)  AS isodow,
           EXTRACT(isodow FROM s.d) >= 6              AS is_weekend,
           CAST(COALESCE(daily.n, 0) AS BIGINT)       AS n_orders
    FROM spine s LEFT JOIN daily ON s.d = daily.d
    ORDER BY day
    """,
)
def d18_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension generation: a gap-free date spine spanning the
    fact table's range (sequence + explode — generated, not stored),
    decorated with month/quarter/ISO-dow/weekend flags and left-joined to
    daily order counts so silent zero-activity days surface as explicit
    rows. ISO day-of-week is computed as weekday()+1 because Spark's
    dayofweek() is Sunday-1 while DuckDB's isodow is Monday-1 — the
    classic cross-engine calendar trap, resolved to the ISO convention.

    Scale shape (100 TB): the spine is O(#days) rows built from a one-row
    min/max aggregate and BROADCAST to the daily-counts join; the fact
    table is touched once for the bounds and once for the per-day partial
    agg. The dimension never materializes on disk."""
    o = catalog(spark, sf_dir).orders
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    isodow = F.weekday("d") + 1
    return (
        F.broadcast(spine)
        .join(daily, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.month("d").alias("month"),
            F.quarter("d").alias("quarter"),
            isodow.cast("int").alias("isodow"),
            (isodow >= 6).alias("is_weekend"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_orders"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# D10 (cont.) — equi-depth histogram (quantile-cut profile)  [round-6 wave 3]
# --------------------------------------------------------------------------
@register(
    "d10_equidepth",
    oracle="""
    WITH cuts AS (
      SELECT ROUND(QUANTILE_CONT(o_totalprice, 0.25), 4) AS c1,
             ROUND(QUANTILE_CONT(o_totalprice, 0.50), 4) AS c2,
             ROUND(QUANTILE_CONT(o_totalprice, 0.75), 4) AS c3
      FROM orders
    ), b AS (
      SELECT CASE WHEN o_totalprice <= c1 THEN 1
                  WHEN o_totalprice <= c2 THEN 2
                  WHEN o_totalprice <= c3 THEN 3
                  ELSE 4 END AS bucket,
             o_totalprice
      FROM orders, cuts
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 4) AS lo,
           ROUND(MAX(o_totalprice), 4) AS hi
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def d10_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: quartile cutpoints (exact interpolated
    percentiles, rounded to 4dp on BOTH sides so boundary comparisons are
    bit-identical) bucket the column into four equal-population bins with
    per-bin count/min/max — the profiling complement to the equi-width
    d10_histogram, and the statistic behind range-partitioning boundaries
    and CBO histograms.

    Scale shape (100 TB): pass 1 is one exact-percentile aggregate (the
    documented scale swap is approx_percentile's mergeable t-digest,
    d11); the 3-value cut row BROADCASTS back; pass 2 is codegen'd CASE
    bucketing + a 4-group partial+final agg. The fact table never
    shuffles on data values."""
    from conceptnetwork_spark.catalog import ensure_parallelism

    # fan the scan out first: exact percentile's partial state is a
    # per-partition value buffer, so a single local file partition would
    # serialize the whole sort (no-op at scale; measured 3.3 s -> 0.9 s)
    o = ensure_parallelism(catalog(spark, sf_dir).orders)
    # ONE percentile aggregate evaluating all three fractions over a single
    # sort of the group — three scalar percentile() calls would sort thrice
    qarr = F.percentile(
        "o_totalprice", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
    )
    cuts = o.agg(qarr.alias("qs")).select(
        F.round(F.col("qs")[0], 4).alias("c1"),
        F.round(F.col("qs")[1], 4).alias("c2"),
        F.round(F.col("qs")[2], 4).alias("c3"),
    )
    v = F.col("o_totalprice")
    bucket = (
        F.when(v <= F.col("c1"), 1)
        .when(v <= F.col("c2"), 2)
        .when(v <= F.col("c3"), 3)
        .otherwise(4)
    )
    return (
        o.crossJoin(F.broadcast(cuts))
        .select(bucket.alias("bucket"), v.alias("p"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("p"), 4).alias("lo"),
            F.round(F.max("p"), 4).alias("hi"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# D27 (cont.) — RFM customer segmentation / D14 (cont.) — day-of-week
# seasonal profile   [round-6 wave 3]
# --------------------------------------------------------------------------
@register(
    "d27_rfm_segmentation",
    oracle="""
    WITH p AS (
      SELECT user_id, MAX(ts) AS last_ts,
             CAST(COUNT(*) AS BIGINT) AS f,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS m
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), ref AS (SELECT MAX(last_ts) AS ref_ts FROM p),
    rfm AS (
      SELECT user_id,
             CAST(epoch_us(ref_ts) - epoch_us(last_ts) AS BIGINT)
               // 86400000000 AS r_days, f, m
      FROM p, ref
    ), cuts AS (
      SELECT ROUND(QUANTILE_CONT(r_days, 0.2), 4) AS r1,
             ROUND(QUANTILE_CONT(r_days, 0.4), 4) AS r2,
             ROUND(QUANTILE_CONT(r_days, 0.6), 4) AS r3,
             ROUND(QUANTILE_CONT(r_days, 0.8), 4) AS r4,
             ROUND(QUANTILE_CONT(f, 0.2), 4) AS f1,
             ROUND(QUANTILE_CONT(f, 0.4), 4) AS f2,
             ROUND(QUANTILE_CONT(f, 0.6), 4) AS f3,
             ROUND(QUANTILE_CONT(f, 0.8), 4) AS f4,
             ROUND(QUANTILE_CONT(m, 0.2), 4) AS m1,
             ROUND(QUANTILE_CONT(m, 0.4), 4) AS m2,
             ROUND(QUANTILE_CONT(m, 0.6), 4) AS m3,
             ROUND(QUANTILE_CONT(m, 0.8), 4) AS m4
      FROM rfm
    ), scored AS (
      SELECT user_id, r_days, f, ROUND(m, 4) AS m,
             1 + CAST(r_days > r1 AS INT) + CAST(r_days > r2 AS INT)
               + CAST(r_days > r3 AS INT) + CAST(r_days > r4 AS INT) AS r_q,
             1 + CAST(f > f1 AS INT) + CAST(f > f2 AS INT)
               + CAST(f > f3 AS INT) + CAST(f > f4 AS INT) AS f_q,
             1 + CAST(m > m1 AS INT) + CAST(m > m2 AS INT)
               + CAST(m > m3 AS INT) + CAST(m > m4 AS INT) AS m_q
      FROM rfm, cuts
    )
    SELECT user_id, r_days, f, m, r_q, f_q, m_q,
           CASE WHEN f_q >= 4 AND m_q >= 4 AND r_q <= 2 THEN 'champion'
                WHEN r_q >= 4 AND f_q >= 3 THEN 'at_risk'
                WHEN f_q <= 2 AND r_q <= 2 THEN 'new'
                ELSE 'regular' END AS segment
    FROM scored ORDER BY user_id
    """,
)
def d27_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user Recency (integer days since last
    purchase, measured against the corpus max), Frequency and Monetary
    (decimal-exact sum), each scored into quintiles against BROADCAST
    quantile cutpoints (the d10_equidepth pattern — NOT an ntile window,
    which would drag every user through one task), then a rule-based
    segment label. Quintile membership is `v > cut` on 4dp-rounded cuts:
    identical comparisons in both engines, ties resolved by value not by
    row order.

    Scale shape (100 TB): one shuffle on user_id for the RFM aggregate;
    one 12-value cut row broadcast back; scoring is codegen'd CASE
    arithmetic. Recency uses integer microsecond arithmetic (no tz/float
    hazard)."""
    ev = catalog(spark, sf_dir).events
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("f"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("m"),
        )
        # lazy lineage cut on the per-user RFM aggregate (~32 bytes/user):
        # the reference-timestamp agg, the quantile cutpoints and the
        # scoring pass all re-consumed it — uncut, the purchase scan +
        # user_id shuffle ran three times
        .transform(lineage_cut)
    )
    ref = p.agg(F.max("last_ts").alias("ref_ts"))
    rfm = p.crossJoin(F.broadcast(ref)).select(
        "user_id",
        (
            (F.unix_micros("ref_ts") - F.unix_micros("last_ts"))
            / F.lit(86400000000)
        )
        .cast("long")
        .alias("r_days"),
        "f",
        "m",
    )

    def quints(col):
        return F.percentile(
            col, F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])
        )

    cuts = rfm.agg(
        quints("r_days").alias("rq"), quints("f").alias("fq"), quints("m").alias("mq")
    ).select(
        *[F.round(F.col("rq")[i], 4).alias(f"r{i+1}") for i in range(4)],
        *[F.round(F.col("fq")[i], 4).alias(f"f{i+1}") for i in range(4)],
        *[F.round(F.col("mq")[i], 4).alias(f"m{i+1}") for i in range(4)],
    )

    def score(v, pre):
        s = F.lit(1)
        for i in range(1, 5):
            s = s + (F.col(v) > F.col(f"{pre}{i}")).cast("int")
        return s

    scored = rfm.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        "r_days",
        "f",
        F.round("m", 4).alias("m"),
        score("r_days", "r").alias("r_q"),
        score("f", "f").alias("f_q"),
        score("m", "m").alias("m_q"),
    )
    seg = (
        F.when((F.col("f_q") >= 4) & (F.col("m_q") >= 4) & (F.col("r_q") <= 2), "champion")
        .when((F.col("r_q") >= 4) & (F.col("f_q") >= 3), "at_risk")
        .when((F.col("f_q") <= 2) & (F.col("r_q") <= 2), "new")
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg).orderBy("user_id")


@register(
    "d14_seasonal_profile",
    oracle="""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(EXTRACT(isodow FROM o_orderdate) AS INTEGER) AS isodow,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      FROM orders GROUP BY 1, 2
    ), prof AS (
      SELECT isodow,
             CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS dow_mean
      FROM daily GROUP BY isodow
    )
    SELECT d.day, d.isodow, CAST(d.rev AS DOUBLE) AS rev,
           ROUND(p.dow_mean, 4) AS dow_mean,
           ROUND(CAST(d.rev AS DOUBLE) - p.dow_mean, 4) AS dev
    FROM daily d JOIN prof p ON d.isodow = p.isodow
    ORDER BY d.day
    """,
)
def d14_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition: daily revenue (decimal-exact
    sums) against its ISO-weekday mean — the seasonal-naive baseline whose
    residual (dev) is what an anomaly detector should consume instead of
    the raw series (d14_zscore/d14_mad flag level shifts, this removes the
    weekly rhythm first). The weekday mean divides an exact decimal sum
    cast to double by an integer count, sidestepping cross-engine decimal
    division scale rules.

    Scale shape (100 TB): one partial+final agg to #days rows; the 7-row
    weekday profile broadcasts back onto the daily table. The fact scan is
    touched once."""
    o = catalog(spark, sf_dir).orders
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        (F.weekday("o_orderdate") + 1).cast("int").alias("isodow"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev"))
    prof = daily.groupBy("isodow").agg(
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias("dow_mean")
    )
    return (
        daily.join(F.broadcast(prof), "isodow")
        .select(
            "day",
            "isodow",
            F.col("rev").cast("double").alias("rev"),
            F.round("dow_mean", 4).alias("dow_mean"),
            F.round(F.col("rev").cast("double") - F.col("dow_mean"), 4).alias(
                "dev"
            ),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# D10 — two-sample Kolmogorov–Smirnov drift (round 6, wave 6)
# --------------------------------------------------------------------------
@register(
    "d10_ks_drift",
    oracle="""
    WITH e AS (
      SELECT event_type, value, (date_part('day', ts) <= 15) AS is_ref
      FROM events
    ), pv AS (
      SELECT event_type, value,
             SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
      FROM e GROUP BY 1, 2
    ), c AS (
      SELECT event_type,
             SUM(n_ref) OVER (PARTITION BY event_type ORDER BY value)
               AS c_ref,
             SUM(n_cur) OVER (PARTITION BY event_type ORDER BY value)
               AS c_cur,
             SUM(n_ref) OVER (PARTITION BY event_type) AS t_ref,
             SUM(n_cur) OVER (PARTITION BY event_type) AS t_cur
      FROM pv
    )
    SELECT event_type,
           CAST(MAX(t_ref) AS BIGINT) AS n_ref,
           CAST(MAX(t_cur) AS BIGINT) AS n_cur,
           ROUND(MAX(ABS(CAST(c_ref AS DOUBLE) / t_ref
                         - CAST(c_cur AS DOUBLE) / t_cur)), 4) AS ks_stat
    FROM c GROUP BY event_type ORDER BY event_type
    """,
)
def d10_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic per event type between the
    first and second half of the month: D = sup_v |ECDF_ref(v) −
    ECDF_cur(v)|. The distribution-free companion to d10_psi_drift — PSI
    needs a binning choice, KS does not, so a drift gate typically runs
    both (KS flags any shape change, PSI localizes which mass moved).

    The supremum over a continuous ECDF is attained at a sample point, so
    the exact statistic needs only the DISTINCT observed values with
    side-tagged counts: one conditional-count aggregate to (type, value),
    a cumulative-sum window ordered by value, then max of the ECDF gap.
    Every division is exact-int / exact-int in IEEE double — identical in
    both engines — so round(4) carries no summation-order risk.

    Scale shape (100 TB): one fact scan, one shuffle to (type, distinct
    value) — the same cardinality a sort-based percentile would shuffle —
    then a per-type sort window over distinct values only. No all-pairs,
    no second scan; the final agg collapses to #types rows."""
    e = catalog(spark, sf_dir).events.select(
        "event_type", "value", (F.dayofmonth("ts") <= 15).alias("is_ref")
    )
    pv = e.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
    )
    wo = Window.partitionBy("event_type").orderBy("value")
    wa = Window.partitionBy("event_type")
    c = pv.select(
        "event_type",
        F.sum("n_ref").over(wo).alias("c_ref"),
        F.sum("n_cur").over(wo).alias("c_cur"),
        F.sum("n_ref").over(wa).alias("t_ref"),
        F.sum("n_cur").over(wa).alias("t_cur"),
    )
    gap = F.abs(
        F.col("c_ref").cast("double") / F.col("t_ref")
        - F.col("c_cur").cast("double") / F.col("t_cur")
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.max("t_ref").alias("n_ref"),
            F.max("t_cur").alias("n_cur"),
            F.round(F.max(gap), 4).alias("ks_stat"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# D9 — weighted percentiles via exact decimal cumulative weight
# --------------------------------------------------------------------------
@register(
    "d09_weighted_median",
    oracle="""
    WITH g AS (
      SELECT l_returnflag, l_quantity,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, l_quantity,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM g
    )
    SELECT l_returnflag,
           ROUND(MIN(CASE WHEN cw * 2 >= tw THEN l_quantity END), 4)
             AS w_median,
           ROUND(MIN(CASE WHEN cw * 10 >= tw * 9 THEN l_quantity END), 4)
             AS w_p90
    FROM c GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def d09_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted quantity percentiles per return flag: the median /
    p90 quantity when each line item counts proportionally to its
    extended price (lower-bound convention: smallest v with cumW(v) >=
    q * totalW). percentile_approx cannot express weights; the exact
    distributed form is a cumulative-weight window over pre-aggregated
    distinct values.

    Weights are summed as DECIMAL(12,2) on BOTH sides, so the threshold
    comparisons (cw*2 >= tw, cw*10 >= tw*9) are exact integer-scaled
    arithmetic — no float-dust boundary flip at any SF (the
    d03_salted_skew_join lesson applied preemptively).

    Scale shape (100 TB): partial+final agg to (flag, distinct quantity) —
    tiny — then a 3-partition window and a #flags-row readout. The fact
    is scanned once; nothing but (flag, qty, decimal) ever shuffles."""
    li = catalog(spark, sf_dir).lineitem
    g = li.groupBy("l_returnflag", "l_quantity").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("w")
    )
    wo = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wa = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "l_quantity",
        F.sum("w").over(wo).alias("cw"),
        F.sum("w").over(wa).alias("tw"),
    )
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.round(
                F.min(
                    F.when(F.col("cw") * 2 >= F.col("tw"), F.col("l_quantity"))
                ),
                4,
            ).alias("w_median"),
            F.round(
                F.min(
                    F.when(
                        F.col("cw") * 10 >= F.col("tw") * 9, F.col("l_quantity")
                    )
                ),
                4,
            ).alias("w_p90"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# D14 — autocorrelation function of the daily revenue series
# --------------------------------------------------------------------------
@register(
    "d14_autocorr",
    oracle="""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS rev
      FROM orders GROUP BY 1
    ), d AS (
      SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    )
    SELECT l.lag AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(corr(a.rev, b.rev), 4) AS acf
    FROM (SELECT CAST(UNNEST(range(1, 8)) AS INT) AS lag) l
    JOIN d a ON TRUE
    JOIN d b ON a.rn = b.rn + l.lag
    GROUP BY l.lag ORDER BY lag
    """,
)
def d14_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily-revenue series at lags 1..7 — the
    seasonality probe (a weekly rhythm shows as a spike at lag 7) that
    motivates d14_seasonal_profile's weekday model. `F.lag` only takes a
    CONSTANT offset, so rather than a row_number self-join (which planned
    as a BroadcastNestedLoopJoin — the equi-key rn = prn + lag mixes both
    sides and defeats hash-join extraction), the seven shifted series are
    seven constant-offset lag columns over ONE window pass, unpivoted
    map-side into (lag, rev, prev) rows. Pearson corr is
    normalization-invariant, so sample-vs-population variance conventions
    cannot diverge between engines; the oracle keeps the relational
    formulation (rn self-join) precisely because it is an independent
    derivation of the same pairs.

    Scale shape (100 TB): the fact collapses to #days rows (exact decimal
    sums) before anything else happens; the one ordered window, the
    7-column lag shift, and the inline unpivot all run on that bounded
    daily table (a single-partition window over #days rows is deliberate
    and safe — the series is small by construction, ~365 rows/year). One
    fact scan, one shuffle, no join at all."""
    o = catalog(spark, sf_dir).orders
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("rev")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "rev",
        *[F.lag("rev", k).over(w).alias(f"p{k}") for k in range(1, 8)],
    )
    shifted = lagged.select(
        "rev",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"), F.col(f"p{k}").alias("prev")
                    )
                    for k in range(1, 8)
                ]
            )
        ),
    ).where(F.col("prev").isNotNull())
    return (
        shifted.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("rev", "prev"), 4).alias("acf"),
        )
        .orderBy("lag")
    )


# --------------------------------------------------------------------------
# D11 — Count-Min sketch (round 6, wave 6): the ORACLE-BACKED sketch —
# unlike HLL/KLL the CMS table is pure integer arithmetic, so the whole
# sketch (build + point query + overcount) hash-matches across engines
# --------------------------------------------------------------------------
CMS_W, CMS_P = 64, 2147483647  # buckets per row, Mersenne prime 2^31-1
CMS_ROWS = ((1000003, 12345), (999983, 54321), (1000033, 98765), (999979, 13579))


@register(
    "d11_countmin",
    oracle=f"""
    WITH h AS (
      SELECT user_id,
             {", ".join(
                 f"((user_id * {a} + {b}) % {CMS_P}) % {CMS_W} AS b{i}"
                 for i, (a, b) in enumerate(CMS_ROWS)
             )}
      FROM events
    ), cells AS (
      SELECT i, bucket, COUNT(*) AS c FROM (
        {" UNION ALL ".join(
            f"SELECT {i} AS i, b{i} AS bucket FROM h"
            for i in range(len(CMS_ROWS))
        )}
      ) GROUP BY i, bucket
    ), exact AS (
      SELECT user_id, COUNT(*) AS exact_cnt,
             {", ".join(
                 f"((user_id * {a} + {b}) % {CMS_P}) % {CMS_W} AS b{i}"
                 for i, (a, b) in enumerate(CMS_ROWS)
             )}
      FROM events GROUP BY user_id
    )
    SELECT e.user_id,
           CAST(e.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(LEAST({", ".join(f"c{i}.c" for i in range(len(CMS_ROWS)))})
                AS BIGINT) AS cms_est,
           CAST(LEAST({", ".join(f"c{i}.c" for i in range(len(CMS_ROWS)))})
                - e.exact_cnt AS BIGINT) AS overcount
    FROM exact e
    {" ".join(
        f"JOIN cells c{i} ON c{i}.i = {i} AND c{i}.bucket = e.b{i}"
        for i in range(len(CMS_ROWS))
    )}
    ORDER BY e.user_id
    """,
)
def d11_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over event user frequencies: a 4x64 counter table
    with pairwise-independent-style hashes h_i(u) = ((u*A_i + B_i) mod P)
    mod W (P = 2^31-1), point estimate = min over rows — plus the exact
    count and the sketch's one-sided overcount per key. CMS is the
    mergeable heavy-hitter sketch (counters add across partitions /
    shards / days exactly like d11_hll_merge's registers), but unlike HLL
    its state is plain integers, so this one is HASH-CHECKED end to end:
    build, point query, and the overcount >= 0 invariant all sit in the
    oracle contract rather than a tolerance test.

    Scale shape (100 TB): the build is one partial+final aggregate to
    d x W = 256 cells — mergeable counters, map-side combine, constant
    state per executor; the point-query join broadcasts those 256 cells
    against the per-key exact aggregate. In production the exact side
    drops away and the sketch alone answers in O(d) per query; it rides
    here so the error is part of the certified result."""
    e = catalog(spark, sf_dir).events
    u = F.col("user_id")

    def bucket(i: int):
        a, b = CMS_ROWS[i]
        return (u * a + b) % CMS_P % CMS_W

    cells = (
        e.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"), bucket(i).alias("bucket")
                        )
                        for i in range(len(CMS_ROWS))
                    ]
                )
            ).alias("s")
        )
        .select("s.i", "s.bucket")
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        # lazy lineage cut on the d x W = 256-cell sketch: one broadcast
        # slice per hash row consumes it — uncut, the corpus explode +
        # aggregate ran once per row (4x)
        .transform(lineage_cut)
    )
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = exact
    for i in range(len(CMS_ROWS)):
        ci = cells.where(F.col("i") == i).select(
            F.col("bucket").alias(f"b{i}"), F.col("c").alias(f"c{i}")
        )
        est = est.join(F.broadcast(ci), bucket(i) == F.col(f"b{i}"))
    cms = F.least(*[F.col(f"c{i}") for i in range(len(CMS_ROWS))])
    return est.select(
        "user_id",
        "exact_cnt",
        cms.alias("cms_est"),
        (cms - F.col("exact_cnt")).alias("overcount"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# D14 — Theil–Sen robust trend slope (round 6, wave 6)
# --------------------------------------------------------------------------
@register(
    "d14_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_part('day', ts) AS BIGINT) AS day,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ), slopes AS (
      SELECT a.event_type,
             (b.y - a.y) / (b.day - a.day) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(quantile_cont(slope, 0.5) AS DOUBLE), 4)
             AS ts_slope
    FROM slopes GROUP BY event_type ORDER BY event_type
    """,
)
def d14_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimate per event type: the median of all
    pairwise slopes (y_j - y_i)/(x_j - x_i) over the daily mean-value
    series — tolerates ~29% outliers where OLS (d33_ols_mse) breaks on
    one, which is why monitoring pipelines fit trends with it. Daily
    means divide an exact decimal sum by an integer count, so every
    slope is bit-identical across engines and the interpolated median
    (percentile / quantile_cont) cannot diverge.

    Scale shape (100 TB): the fact collapses to (type, day-of-month) —
    a bounded ≤31-point series per type — BEFORE the O(k²) pair join, so
    the quadratic blowup is 465 pairs per type, not pairs of raw rows
    (the same collapse-then-quadratic discipline as d15_skyline's
    per-partition frontier). One fact scan, one shuffle to the daily
    grid; the pair join and median run on a few thousand rows."""
    e = catalog(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.dayofmonth("ts").cast("long").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("y")
    )
    a = daily.select("event_type", F.col("day").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(
        F.col("event_type").alias("bt"),
        F.col("day").alias("xb"),
        F.col("y").alias("yb"),
    )
    slopes = a.join(
        b, (F.col("event_type") == F.col("bt")) & (F.col("xa") < F.col("xb"))
    ).select(
        "event_type",
        ((F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa"))).alias(
            "slope"
        ),
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.percentile("slope", F.lit(0.5)), 4).alias("ts_slope"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# D16 — SQL scripting (round 6, wave 6): Spark 4 BEGIN/WHILE/session
# variables running an iterative robust-statistics loop ENGINE-SIDE
# --------------------------------------------------------------------------
SIGMA_CLIP_MULT = 0.25  # fence = quartile ± MULT * IQR (aggressive trim)


@register(
    "d16_sql_scripting",
    oracle=f"""
    WITH i1 AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*) AS m,
             quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders
    ), i2 AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*) AS m,
             quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders, i1
      WHERE o_totalprice
              >= ROUND(i1.q1 - {SIGMA_CLIP_MULT} * (i1.q3 - i1.q1), 4)
        AND o_totalprice
              <= ROUND(i1.q3 + {SIGMA_CLIP_MULT} * (i1.q3 - i1.q1), 4)
    ), i3 AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*) AS m,
             quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders, i2
      WHERE o_totalprice
              >= ROUND(i2.q1 - {SIGMA_CLIP_MULT} * (i2.q3 - i2.q1), 4)
        AND o_totalprice
              <= ROUND(i2.q3 + {SIGMA_CLIP_MULT} * (i2.q3 - i2.q1), 4)
    )
    SELECT 1 AS iter, CAST(n AS BIGINT) AS n_rows, ROUND(m, 4) AS mean_price,
           ROUND(q1, 4) AS q1, ROUND(q3, 4) AS q3 FROM i1
    UNION ALL
    SELECT 2, CAST(n AS BIGINT), ROUND(m, 4), ROUND(q1, 4), ROUND(q3, 4)
    FROM i2
    UNION ALL
    SELECT 3, CAST(n AS BIGINT), ROUND(m, 4), ROUND(q1, 4), ROUND(q3, 4)
    FROM i3
    ORDER BY iter
    """,
)
def d16_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative IQR clipping (sigma-clip with quartile fences) run
    ENTIRELY engine-side in Spark 4 SQL SCRIPTING — BEGIN/END, DECLAREd
    session variables, a WHILE loop, and tuple-SET from a scalar
    subquery. Each pass recomputes count / exact-decimal mean / quartiles
    over the surviving rows, then tightens the fences to quartile ±
    MULT*IQR. This is the control-flow pattern every driver-side
    `for i in range(k): spark.sql(...)` loop encodes, moved into the
    declarative surface; the oracle UNROLLS the three iterations as
    chained CTEs — an independent derivation of the same fixpoint
    prefix. Fences are rounded to 4 decimals in BOTH engines before the
    boundary comparison so a last-ulp quantile-interpolation difference
    can never flip a row's membership.

    Scale shape (100 TB): three sequential scan+aggregate jobs (the loop
    is inherently sequential — each fence depends on the previous pass),
    each a partial+final aggregate whose only wide state is the exact
    percentile; swap percentile for approx_percentile at corpus scale on
    the same script (D11's tolerance contract). No driver round-trips:
    the loop, its state, and the final VALUES readout live in ONE
    spark.sql call."""
    t = catalog(spark, sf_dir)
    t.orders.createOrReplaceTempView("cns_clip_orders")
    m = SIGMA_CLIP_MULT
    return spark.sql(f"""
    BEGIN
      DECLARE lo DOUBLE = -1e308; DECLARE hi DOUBLE = 1e308;
      DECLARE i INT = 0;
      DECLARE n BIGINT; DECLARE mn DOUBLE;
      DECLARE q1 DOUBLE; DECLARE q3 DOUBLE;
      DECLARE n1 BIGINT; DECLARE m1 DOUBLE; DECLARE q1a DOUBLE; DECLARE q3a DOUBLE;
      DECLARE n2 BIGINT; DECLARE m2 DOUBLE; DECLARE q1b DOUBLE; DECLARE q3b DOUBLE;
      DECLARE n3 BIGINT; DECLARE m3 DOUBLE; DECLARE q1c DOUBLE; DECLARE q3c DOUBLE;
      WHILE i < 3 DO
        SET i = i + 1;
        -- both quartiles from ONE percentile(array(...)) aggregate: the
        -- sorted buffer is built once per pass instead of once per
        -- quantile (two scalar percentile() calls each paid their own
        -- buffer — measured 0.77 s vs 0.53 s per pass at sf0.1); the
        -- interpolated values are bit-identical to the scalar form
        SET (n, mn, q1, q3) = (
          SELECT cnt, total / cnt, q[0], q[1]
          FROM (SELECT COUNT(*) AS cnt,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                            AS DOUBLE) AS total,
                       percentile(o_totalprice, array(0.25, 0.75)) AS q
                FROM cns_clip_orders
                WHERE o_totalprice >= lo AND o_totalprice <= hi));
        IF i = 1 THEN
          SET (n1, m1, q1a, q3a) = (SELECT n, mn, q1, q3);
        ELSEIF i = 2 THEN
          SET (n2, m2, q1b, q3b) = (SELECT n, mn, q1, q3);
        ELSE
          SET (n3, m3, q1c, q3c) = (SELECT n, mn, q1, q3);
        END IF;
        SET lo = ROUND(q1 - {m} * (q3 - q1), 4);
        SET hi = ROUND(q3 + {m} * (q3 - q1), 4);
      END WHILE;
      SELECT iter, n_rows, ROUND(mean_price, 4) AS mean_price,
             ROUND(q1, 4) AS q1, ROUND(q3, 4) AS q3
      FROM VALUES (1, n1, m1, q1a, q3a),
                  (2, n2, m2, q1b, q3b),
                  (3, n3, m3, q1c, q3c)
             AS t(iter, n_rows, mean_price, q1, q3)
      ORDER BY iter;
    END
    """)


# --------------------------------------------------------------------------
# D1 — parameterized SQL (named-marker binding, Spark 4 `args=`)
# --------------------------------------------------------------------------
@register(
    "d01_parameterized_sql",
    oracle="""
    SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 4) AS price
    FROM orders
    WHERE o_totalprice > 400000.0
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    ORDER BY o_orderkey
    """,
)
def d01_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL binding (`:marker` + `args=`): the injection-safe
    templating surface an application layer uses instead of f-string SQL.
    Parameters bind as TYPED literals at analysis time — the double
    threshold and both string list members arrive as parameters, never as
    spliced text — and Catalyst still pushes the bound predicates into the
    parquet scan exactly as with inline literals (binding happens before
    optimization, so parameterization costs nothing at plan time).

    Scale shape (100 TB): identical plan to the literal query —
    PushedFilters on the scan, map-side projection, no shuffle."""
    t = catalog(spark, sf_dir)
    t.orders.createOrReplaceTempView("cns_param_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 4) AS price
        FROM cns_param_orders
        WHERE o_totalprice > :thresh AND o_orderpriority IN (:p1, :p2)
        ORDER BY o_orderkey
        """,
        args={"thresh": 400000.0, "p1": "1-URGENT", "p2": "2-HIGH"},
    )


# --------------------------------------------------------------------------
# D27 — Kaplan–Meier survival estimator (round 6, wave 6)
# --------------------------------------------------------------------------
@register(
    "d27_kaplan_meier",
    oracle="""
    WITH span AS (
      SELECT MAX(ts) AS w_end FROM events
    ), u AS (
      SELECT user_id, MIN(ts) AS first_ts,
             MIN(CASE WHEN event_type = 'error' THEN ts END) AS err_ts
      FROM events GROUP BY user_id
    ), d AS (
      SELECT CAST(date_diff('day', CAST(first_ts AS DATE),
                  CAST(COALESCE(err_ts, (SELECT w_end FROM span)) AS DATE))
                  AS BIGINT) AS dur,
             (err_ts IS NOT NULL) AS event_seen
      FROM u
    ), g AS (
      SELECT dur,
             SUM(CASE WHEN event_seen THEN 1 ELSE 0 END) AS d_ev,
             COUNT(*) AS n_here
      FROM d GROUP BY dur
    ), r AS (
      SELECT dur, d_ev,
             (SELECT COUNT(*) FROM u)
               - COALESCE(SUM(n_here) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM g
    )
    SELECT dur, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d_ev AS BIGINT) AS d_events,
           ROUND(CASE WHEN MAX(CASE WHEN d_ev >= n_risk THEN 1 ELSE 0 END)
                           OVER (ORDER BY dur) = 1 THEN 0.0
                 ELSE exp(SUM(ln(CASE WHEN d_ev >= n_risk THEN 1.0
                                 ELSE 1.0 - CAST(d_ev AS DOUBLE) / n_risk
                            END)) OVER (ORDER BY dur)) END, 4) AS surv
    FROM r ORDER BY dur
    """,
)
def d27_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-error per user:
    S(t) = prod_{t_i <= t} (1 - d_i / n_i) with right-censoring at the
    observation-window end for users who never error — the
    survival-analysis upgrade of d27_retention (which fixes calendar
    buckets; this estimates the underlying hazard correctly under
    censoring, the reason churn teams use KM instead of raw ratios).
    The cumulative product runs as exp(cumsum(ln ...)) over the
    duration-ordered grid; both engines evaluate the identical ordered
    float sum, so no summation-order divergence is possible, and the
    d_i = n_i absorbing case (survival hits exactly 0, ln undefined) is
    handled by the same running-flag CASE on both sides.

    Scale shape (100 TB): one shuffle to per-user (first_ts, err_ts)
    aggregates; the window end rides as a broadcast scalar; the KM grid
    is #distinct-durations rows (bounded by the observation span in
    days), so the ordered single-partition window is deliberate and
    safe. The fact is scanned once."""
    e = catalog(spark, sf_dir).events
    span = e.agg(F.max("ts").alias("w_end"))
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "error", F.col("ts"))
        ).alias("err_ts"),
    # NOTE (r12, measured): a lazy localCheckpoint here (the per-user agg
    # feeds the count and the duration projection) probed SLOWER (0.62 s
    # -> 0.66 s min-of-5 noop at sf0.1) — the two consumers' scans overlap
    # on idle cores, the cut serializes them. Left uncut; do not retry.
    )
    total = u.agg(F.count(F.lit(1)).alias("n_total"))
    d = u.crossJoin(F.broadcast(span)).select(
        F.datediff(
            F.coalesce(F.col("err_ts"), F.col("w_end")).cast("date"),
            F.col("first_ts").cast("date"),
        )
        .cast("long")
        .alias("dur"),
        F.col("err_ts").isNotNull().alias("event_seen"),
    )
    g = d.groupBy("dur").agg(
        F.sum(F.when(F.col("event_seen"), 1).otherwise(0)).alias("d_ev"),
        F.count(F.lit(1)).alias("n_here"),
    )
    wo = Window.orderBy("dur")
    prior = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    r = g.crossJoin(F.broadcast(total)).select(
        "dur",
        "d_ev",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_here").over(prior), F.lit(0))
        ).alias("n_risk"),
    )
    absorbed = (
        F.max(F.when(F.col("d_ev") >= F.col("n_risk"), 1).otherwise(0)).over(
            wo
        )
        == 1
    )
    # the absorbing row (d == n_risk) would put ln(0) in the running sum:
    # DuckDB raises on it and Spark nulls the whole sum, so BOTH sides
    # substitute a neutral ln(1) term there; the outer flag forces S=0
    safe_term = F.when(
        F.col("d_ev") >= F.col("n_risk"), F.lit(1.0)
    ).otherwise(
        F.lit(1.0) - F.col("d_ev").cast("double") / F.col("n_risk")
    )
    surv = F.when(absorbed, F.lit(0.0)).otherwise(
        F.exp(F.sum(F.log(safe_term)).over(wo))
    )
    return r.select(
        "dur",
        "n_risk",
        F.col("d_ev").alias("d_events"),
        F.round(surv, 4).alias("surv"),
    ).orderBy("dur")


# --------------------------------------------------------------------------
# D18 — business-day arithmetic (closed-form weekday counting)
# --------------------------------------------------------------------------
BDAY_HORIZON = "2002-01-07"  # a Monday after the order-date span


def _bday_terms_sql(dow: str, rem: str) -> str:
    """Seven-term closed form: weekdays among the `rem` leftover days
    starting at ISO weekday `dow` — identical expression text for both
    engines (k-th leftover day is a weekday iff ((dow-1+k) mod 7) < 5)."""
    return " + ".join(
        f"(CASE WHEN {rem} > {k} AND (({dow} - 1 + {k}) % 7) < 5 "
        f"THEN 1 ELSE 0 END)"
        for k in range(7)
    )


@register(
    "d18_business_days",
    oracle=f"""
    WITH b AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS d,
             date_diff('day', CAST(o_orderdate AS DATE),
                       DATE '{BDAY_HORIZON}') AS total,
             isodow(CAST(o_orderdate AS DATE)) AS dow
      FROM orders WHERE o_orderkey < 500
    )
    SELECT o_orderkey,
           strftime(d, '%Y-%m-%d') AS order_day,
           CAST(dow AS INT) AS isodow,
           CAST((total // 7) * 5 + {_bday_terms_sql("dow", "(total % 7)")}
                AS BIGINT) AS bdays
    FROM b ORDER BY o_orderkey
    """,
)
def d18_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business days (Mon–Fri) from each order date to a fixed settlement
    horizon, in CLOSED FORM: full weeks contribute 5 each, the <7-day
    remainder is resolved by a seven-term weekday test on the start's ISO
    weekday — no calendar explode, no generated date spine (contrast
    d18_calendar_dim, which materializes the spine when per-day
    attributes are needed; a settlement-lag computation over billions of
    rows wants O(1) arithmetic per row). Uses the ISO weekday form on
    both engines per the established parity rule (Spark weekday()+1 ==
    DuckDB isodow, Monday=1).

    Scale shape (100 TB): pure map-side integer arithmetic fused into the
    scan project; the key filter pushes down. No shuffle, no join."""
    o = catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 500)
    d = F.col("o_orderdate").cast("date")
    total = F.datediff(F.lit(BDAY_HORIZON).cast("date"), d)
    dow = (F.weekday(d) + 1).cast("int")
    rem = total % 7
    extra = None
    for k in range(7):
        term = F.when(
            (rem > k) & (((dow - 1 + k) % 7) < 5), 1
        ).otherwise(0)
        extra = term if extra is None else extra + term
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("order_day"),
        dow.alias("isodow"),
        ((F.floor(total / 7) * 5 + extra)).cast("long").alias("bdays"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# D9 — Pareto / ABC classification by cumulative revenue share
# --------------------------------------------------------------------------
@register(
    "d09_pareto_abc",
    oracle="""
    WITH rev AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS r
      FROM lineitem GROUP BY l_partkey
    ), c AS (
      SELECT l_partkey, r,
             SUM(r) OVER (ORDER BY r DESC, l_partkey) AS cum,
             SUM(r) OVER () AS tot
      FROM rev
    ), cls AS (
      SELECT CASE WHEN cum * 10 <= tot * 7 THEN 'A'
                  WHEN cum * 10 <= tot * 9 THEN 'B'
                  ELSE 'C' END AS abc_class,
             r, tot
      FROM c
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(SUM(r) AS DOUBLE), 4) AS class_revenue,
           ROUND(CAST(SUM(r) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE), 4)
             AS share
    FROM cls GROUP BY abc_class ORDER BY abc_class
    """,
)
def d09_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by cumulative revenue share:
    rank parts by revenue, class A while the running total stays within
    70% of grand revenue, B to 90%, C for the tail — the inventory-
    analysis shape behind "which 20% of SKUs carry 80% of revenue".
    Revenue sums and the running total are exact DECIMAL, and the class
    boundaries compare cum*10 against tot*7 / tot*9 in integer-scaled
    decimal arithmetic, so no float-dust boundary flip at any SF; ties
    in revenue break on partkey for a total order.

    Scale shape (100 TB): the fact collapses to per-part revenue first
    (partial+final agg); the global cumulative window then runs over
    #parts rows — inherent to exact ABC (a total preorder over parts),
    bounded by catalog size, not fact size. One fact scan, one shuffle,
    a #parts-row sort."""
    li = catalog(spark, sf_dir).lineitem
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("r")
    )
    wc = Window.orderBy(F.desc("r"), "l_partkey")
    # `tot` shares `cum`'s window spec (same ordering, unbounded frame) so
    # Catalyst computes both in ONE Window exec — the old orderBy(lit(1))
    # spelling forced a second single-partition exchange + sort (guide
    # §2.4; r13, interleaved A/B 0.957 -> 0.863 s median). DECIMAL sums
    # are order-exact, so the grand total is bit-identical either way.
    c = rev.select(
        "l_partkey",
        "r",
        F.sum("r").over(wc).alias("cum"),
        F.sum("r").over(
            wc.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("tot"),
    )
    cls = c.select(
        F.when(F.col("cum") * 10 <= F.col("tot") * 7, "A")
        .when(F.col("cum") * 10 <= F.col("tot") * 9, "B")
        .otherwise("C")
        .alias("abc_class"),
        "r",
        "tot",
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("r").cast("double"), 4).alias("class_revenue"),
            F.round(
                F.sum("r").cast("double") / F.max("tot").cast("double"), 4
            ).alias("share"),
        )
        .orderBy("abc_class")
    )


# --------------------------------------------------------------------------
# D10 — mutual information between a categorical and a bucketed numeric
# column (round 6, wave 6)
# --------------------------------------------------------------------------
@register(
    "d10_mutual_info",
    oracle="""
    WITH g AS (
      SELECT event_type AS x,
             LEAST(GREATEST(CAST(floor(value / 100.0) AS BIGINT), 0), 4)
               AS y,
             COUNT(*) AS nxy
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT x, y, nxy,
             SUM(nxy) OVER () AS n,
             SUM(nxy) OVER (PARTITION BY x) AS nx,
             SUM(nxy) OVER (PARTITION BY y) AS ny
      FROM g
    )
    SELECT CAST(SUM(nxy) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(SUM((CAST(nxy AS DOUBLE) / n)
                     * ln((CAST(nxy AS DOUBLE) * n)
                          / (CAST(nx AS DOUBLE) * ny))), 4) AS mi
    FROM t
    """,
)
def d10_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and the bucketed value
    column, I(X;Y) = sum p(x,y) ln(p(x,y)/(p(x)p(y))) — the
    dependence-strength profiler that complements d10_corr_matrix
    (correlation sees only linear numeric-numeric dependence; MI sees
    any categorical association, which is what feature-selection and
    leakage audits need). Every probability is an exact-int ratio from
    ONE contingency grid, so each ln term is bit-identical across
    engines; zero cells simply don't exist in the grouped relation
    (0·ln 0 = 0 by convention on both sides, vacuously).

    Scale shape (100 TB): one partial+final aggregate to the (x, y)
    contingency grid; marginals are windows OVER THE GRID (≤ |X|·|Y|
    rows), not the data. One scan, one shuffle, single-row result."""
    e = catalog(spark, sf_dir).events
    g = e.groupBy(
        F.col("event_type").alias("x"),
        F.least(
            F.greatest(F.floor(F.col("value") / 100.0).cast("long"), F.lit(0)),
            F.lit(4),
        ).alias("y"),
    ).agg(F.count(F.lit(1)).alias("nxy"))
    t = g.select(
        "nxy",
        F.sum("nxy")
        .over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
        F.sum("nxy").over(Window.partitionBy("x")).alias("nx"),
        F.sum("nxy").over(Window.partitionBy("y")).alias("ny"),
    )
    term = (F.col("nxy").cast("double") / F.col("n")) * F.log(
        (F.col("nxy").cast("double") * F.col("n"))
        / (F.col("nx").cast("double") * F.col("ny"))
    )
    return t.agg(
        F.sum("nxy").alias("n_events"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum(term), 4).alias("mi"),
    )


# --------------------------------------------------------------------------
# D14 — grouped ordinary-least-squares trend (round 6, wave 6): the LS
# companion to d14_theil_sen, entirely in aggregate closed form
# --------------------------------------------------------------------------
@register(
    "d14_group_ols",
    oracle="""
    WITH p AS (
      SELECT event_type,
             CAST(date_part('day', ts) AS DOUBLE) AS x,
             value AS y
      FROM events
    ), s AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM p GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 4) AS intercept,
           ROUND(POW(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
    FROM s ORDER BY event_type
    """,
)
def d14_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend fit (slope / intercept / R²) of value against
    day-of-month, in pure AGGREGATE closed form: one pass accumulating
    the five moment sums (Σx, Σy, Σx², Σxy, Σy²), then arithmetic on the
    #groups-row result — the least-squares companion to d14_theil_sen
    (run both; a large LS-vs-robust slope gap is itself an outlier
    alarm). No per-group pandas regression, no second pass: grouped OLS
    at any scale IS a partial+final aggregate, which is the whole point
    of the moment-sum formulation.

    Parity note: the moment sums are float accumulations whose partial
    order differs between engines, but with |x| <= 31 and |y| <= 500 over
    1e4..1e7 rows the relative dust is ~1e-12 — far below the 4-decimal
    contract on the final ratios (cross-SF parity is the standing
    defense, the d03 lesson).

    Scale shape (100 TB): one scan, one tiny shuffle (partial+final
    agg), #groups result rows."""
    e = catalog(spark, sf_dir).events
    p = e.select(
        "event_type",
        F.dayofmonth("ts").cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    s = p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "event_type",
        "n",
        F.round(slope, 4).alias("slope"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, F.lit(2))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            4,
        ).alias("r2"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# D19 — net present value (round 6, wave 6): discounted cash flow as a
# single aggregate pass
# --------------------------------------------------------------------------
NPV_RATE = 0.08  # annual discount rate


@register(
    "d19_npv",
    oracle=f"""
    WITH f AS (
      SELECT o_custkey,
             MIN(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey)
               AS first_d,
             CAST(o_orderdate AS DATE) AS d,
             o_totalprice AS cf
      FROM orders
    )
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(cf / POW(1.0 + {NPV_RATE},
                 date_diff('day', first_d, d) / 365.0)), 4) AS npv
    FROM f
    GROUP BY o_custkey
    HAVING COUNT(*) >= 8
    ORDER BY o_custkey
    """,
)
def d19_npv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net present value of each customer's order stream, discounted
    continuously-compounded-free at NPV_RATE back to the customer's FIRST
    order date: NPV = Σ cf_t / (1+r)^(Δdays/365) — the lifetime-value
    arithmetic behind d27_rfm_segmentation's monetary axis done properly
    (a dollar in year three is not a dollar today). The per-customer
    anchor date is a min-window, the discount a map-side pow, the NPV one
    aggregate; the HAVING keeps the result to repeat customers.

    Parity note: pow and the day/365 exponent are evaluated identically
    (IEEE pow on identical doubles); the NPV sum is float but per-group
    addend counts are small (tens of orders), so 4-decimal rounding is
    stable at every SF.

    Scale shape (100 TB): one shuffle on o_custkey serving BOTH the
    min-window and the final aggregate (same partitioning, no second
    exchange); output is #repeat-customers rows."""
    o = catalog(spark, sf_dir).orders
    d = F.col("o_orderdate").cast("date")
    f = o.select(
        "o_custkey",
        F.min(d).over(Window.partitionBy("o_custkey")).alias("first_d"),
        d.alias("d"),
        F.col("o_totalprice").alias("cf"),
    )
    disc = F.col("cf") / F.pow(
        F.lit(1.0 + NPV_RATE),
        F.datediff(F.col("d"), F.col("first_d")) / F.lit(365.0),
    )
    return (
        f.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(disc), 4).alias("npv"),
        )
        .where(F.col("n_orders") >= 8)
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# D14 — OHLC candle aggregation (round 6, wave 6)
# --------------------------------------------------------------------------
@register(
    "d14_ohlc",
    oracle="""
    SELECT event_type,
           strftime(ts, '%Y-%m-%d') AS day,
           ROUND(arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                 || '|' || lpad(CAST(event_id AS VARCHAR), 10, '0')), 4)
             AS open,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low,
           ROUND(arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                 || '|' || lpad(CAST(event_id AS VARCHAR), 10, '0')), 4)
             AS close,
           CAST(COUNT(*) AS BIGINT) AS volume
    FROM events
    GROUP BY 1, 2 ORDER BY event_type, day
    """,
)
def d14_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle roll-up per (type, day): open/close are the first/last
    value in TOTAL event-time order — min_by/max_by over a zero-padded
    (unix_micros, event_id) string key, so a same-microsecond tie can never
    make the candle engine-dependent (the d27_attribution lesson:
    always compare integer microseconds, never truncated timestamps) —
    high/low/volume are plain aggregates. The standard downsampling
    shape for any metric stream (price candles, sensor rollups,
    rate-limit counters).

    Scale shape (100 TB): ONE partial+final aggregate — min_by/max_by
    carry (value, key-pair) state through map-side combine exactly like
    min/max, so the candle table needs no window and no second pass;
    output is #types x #days rows."""
    e = catalog(spark, sf_dir).events
    # zero-padded string key: lexicographic == numeric, and (unlike a
    # struct key) both engines' min_by/arg_min accept it
    okey = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
    )
    return (
        e.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.round(F.min_by("value", okey), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", okey), 4).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# D27 — DAU/MAU stickiness (round 6, wave 6)
# --------------------------------------------------------------------------
@register(
    "d27_dau_mau",
    oracle="""
    WITH dau AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1
    ), mau AS (
      SELECT COUNT(DISTINCT user_id) AS mau FROM events
    )
    SELECT day, CAST(dau AS BIGINT) AS dau,
           CAST((SELECT mau FROM mau) AS BIGINT) AS mau,
           ROUND(CAST(dau AS DOUBLE) / (SELECT mau FROM mau), 4)
             AS stickiness
    FROM dau ORDER BY day
    """,
)
def d27_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day: daily distinct actives over the
    window's distinct actives — the engagement ratio product teams track
    next to d27_retention (retention asks "did they come back";
    stickiness asks "what share of the base shows up daily"). Exact
    distincts here; at corpus scale the SAME two aggregates run as
    approx_count_distinct / d11_hll_merge register unions (per-day HLL
    sketches OR-merge into the MAU — one pass, mergeable state, the
    documented D11 swap).

    Scale shape (100 TB): two aggregates over one scan — per-day
    distinct (shuffles (day, user) pairs with partial dedup) and the
    global distinct riding as a broadcast scalar."""
    e = catalog(spark, sf_dir).events
    dau = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    mau = e.agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.crossJoin(F.broadcast(mau))
        .select(
            "day",
            "dau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau"), 4
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# D9 — ordered string aggregation (round 6, wave 6): Spark-4 listagg
# --------------------------------------------------------------------------
@register(
    "d09_listagg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_orderkey) AS keys_csv
    FROM orders WHERE o_orderkey < 200
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def d09_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — Spark 4's `listagg(...) WITHIN GROUP
    (ORDER BY ...)` against DuckDB's `string_agg(... ORDER BY ...)`:
    the report-formatting aggregate whose ORDER BY clause is the whole
    contract (an unordered listagg is nondeterministic under ANY
    parallelism, so certifying the ordered form is certifying that the
    sort spec survives partial aggregation). Key filter keeps each CSV
    bounded.

    Scale shape (100 TB): partial+final aggregate; each group's sort
    happens on its grouped rows at finalization, never as a global
    window. Unbounded-group listagg at corpus scale wants the
    d27_top_paths slice-first form instead — the filter here IS that
    bound."""
    t = catalog(spark, sf_dir)
    t.orders.createOrReplaceTempView("cns_listagg_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               listagg(CAST(o_orderkey AS STRING), ',')
                 WITHIN GROUP (ORDER BY o_orderkey) AS keys_csv
        FROM cns_listagg_orders WHERE o_orderkey < 200
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


# --------------------------------------------------------------------------
# D11 extension — KMV (K-minimum-values) distinct sketch with an EXACT
# oracle. Unlike HLL (d11_approx_count_distinct, tolerance-tested), the KMV
# estimate is a deterministic pure function of the data given a portable
# hash — so the sketch itself is hash-match certifiable: both engines build
# the identical sketch and must agree on every bit of it.
# --------------------------------------------------------------------------
KMV_K = 64
_H60 = 1152921504606846976  # 2^60 == max value of a 15-hex-digit md5 prefix
# portable 60-bit hash of the user-day entity (md5 prefix, same idiom as
# sampling.hash_bucket — 60 bits keeps the int positive in a signed 64-bit
# lane on both engines)
_KMV_KEY_SQL = (
    "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' "
    "|| strftime(ts, '%Y-%m-%d')), 1, 15)) AS BIGINT)"
)


def _kmv_key() -> "F.Column":
    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit(":"),
                    F.date_format("ts", "yyyy-MM-dd"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


@register(
    "d11_kmv_sketch",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT {_KMV_KEY_SQL} AS h FROM events
    ), k AS (
      SELECT h FROM h ORDER BY h LIMIT {KMV_K}
    ), sk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k_eff, MAX(h) AS kth_hash FROM k
    ), t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS true_distinct FROM h
    )
    SELECT k_eff, kth_hash,
           CASE WHEN k_eff < {KMV_K} THEN k_eff
                ELSE CAST(ROUND({KMV_K - 1}.0 * {_H60} / kth_hash) AS BIGINT)
           END AS est_distinct,
           true_distinct
    FROM sk, t
    ORDER BY k_eff
    """,
)
def d11_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch over user-day entities: keep the K=64
    smallest 60-bit hashes; estimate N ≈ (K-1)/u_K where u_K is the Kth
    minimum normalized hash (Bar-Yossef et al. 2002). The estimate is
    integer-rounded from a bit-identical double on both engines, so the
    whole sketch — k_eff, the Kth hash, the estimate — is hash-match
    certified against DuckDB, with the exact distinct count alongside for
    the error to be part of the certified result.

    Scale shape (100 TB): distinct-hash dedup is a map-side-combined
    aggregate on an 8-byte key; the K smallest then flow through
    TakeOrdered (per-partition top-K, driver merges K rows per partition —
    never a global sort). KMV is also mergeable (union of sketches = K
    smallest of the concatenation), which is how per-shard sketches roll up
    on a cluster — d11_theta_setops exercises exactly that property."""
    e = catalog(spark, sf_dir).events
    h = e.select(_kmv_key().alias("h")).distinct()
    topk = h.orderBy("h").limit(KMV_K)
    sk = topk.agg(
        F.count("*").cast("long").alias("k_eff"),
        F.max("h").alias("kth_hash"),
    )
    t = h.agg(F.count("*").cast("long").alias("true_distinct"))
    est = (
        F.when(F.col("k_eff") < KMV_K, F.col("k_eff"))
        .otherwise(
            F.round(
                F.lit(float(KMV_K - 1)) * F.lit(_H60) / F.col("kth_hash")
            ).cast("long")
        )
    )
    return (
        sk.crossJoin(F.broadcast(t))
        .select("k_eff", "kth_hash", est.alias("est_distinct"), "true_distinct")
        .orderBy("k_eff")
    )


# --------------------------------------------------------------------------
# D11 extension (round 12) — mergeable RANK/quantile sketch with an EXACT
# oracle: the one sketch family (rank sketches — KLL/t-digest territory)
# D11 did not yet certify. KLL and t-digest are randomized / order-
# dependent, so the certifiable stand-in is the KMV-style quantile sketch:
# keep the K rows with the smallest portable hash — a deterministic uniform
# sample — and read quantiles off the sample. The merge property is the
# KMV one (K smallest of a union == K smallest of the per-part K-smallest),
# so per-shard sketches roll up exactly, and BOTH arms (merged shards vs
# direct recompute) land in one certified result.
# --------------------------------------------------------------------------
QSK_K = 64
QSK_SHARDS = 4
_QSK_KEY_SQL = (
    "CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)


@register(
    "d11_quantile_sketch_merge",
    oracle=f"""
    WITH src AS (
      SELECT event_type, event_id, value,
             {_QSK_KEY_SQL} AS h,
             event_id % {QSK_SHARDS} AS shard
      FROM events
    ), shard_sk AS (
      SELECT event_type, event_id, value, h FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, shard
                    ORDER BY h, event_id) AS rk
        FROM src
      ) WHERE rk <= {QSK_K}
    ), merged AS (
      SELECT 'merged' AS source, event_type, event_id, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY h, event_id) AS rk
        FROM shard_sk
      ) WHERE rk <= {QSK_K}
    ), direct AS (
      SELECT 'direct' AS source, event_type, event_id, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY h, event_id) AS rk
        FROM src
      ) WHERE rk <= {QSK_K}
    ), ranked AS (
      SELECT source, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY source, event_type
               ORDER BY value, event_id) AS vrk,
             COUNT(*) OVER (PARTITION BY source, event_type) AS n
      FROM (SELECT * FROM merged UNION ALL SELECT * FROM direct)
    )
    SELECT source, event_type, CAST(MAX(n) AS BIGINT) AS n_sample,
           ROUND(MAX(CASE WHEN vrk = CAST(CEIL(0.5 * n) AS BIGINT)
                     THEN value END), 4) AS p50,
           ROUND(MAX(CASE WHEN vrk = CAST(CEIL(0.9 * n) AS BIGINT)
                     THEN value END), 4) AS p90,
           ROUND(MAX(CASE WHEN vrk = CAST(CEIL(0.99 * n) AS BIGINT)
                     THEN value END), 4) AS p99
    FROM ranked
    GROUP BY source, event_type
    ORDER BY source, event_type
    """,
)
def d11_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch certified merge-vs-recompute: per
    (event_type, shard) keep the K=64 rows with the smallest portable
    60-bit md5 hash — a deterministic uniform value sample (the KMV
    sample carrying its row's VALUE instead of estimating NDV) — then (a)
    MERGE the shard sketches by re-taking the K smallest of their union,
    and (b) recompute the K-smallest sample directly over the group. The
    KMV property (top-K of a union == top-K of per-part top-Ks) makes the
    two samples identical, so p50/p90/p99 read off each sample at rank
    ceil(q*n) agree row-for-row — both arms land in one result and the
    driver hash certifies the merge law itself, which is the property
    that lets per-ingest-batch rank sketches roll up on a cluster without
    rescanning history (the d35_stats_merge associativity, extended from
    NDV to rank statistics; randomized KLL / order-dependent t-digest
    cannot be cross-engine-certified, the deterministic hash sample can).

    Scale shape (100 TB): each rank<=K window plans as WindowGroupLimit —
    every map task forwards at most K rows per (group, shard), so the
    exchange carries sketch-sized state (K x 24 bytes per group), never
    data; the merge arm touches shards x K rows per group; quantile
    readout sorts K-row samples. The 'direct' arm exists to certify the
    law (its WindowGroupLimit partial bound makes even the recompute
    forward only K rows per map task); production keeps only the merged
    path."""
    e = catalog(spark, sf_dir).events
    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    src = e.select(
        "event_type", "event_id", "value",
        h.alias("h"),
        (F.col("event_id") % QSK_SHARDS).alias("shard"),
    )
    w_shard = Window.partitionBy("event_type", "shard").orderBy(
        "h", "event_id"
    )
    w_grp = Window.partitionBy("event_type").orderBy("h", "event_id")
    shard_sk = (
        src.withColumn("rk", F.row_number().over(w_shard))
        .where(F.col("rk") <= QSK_K)
        .drop("rk", "shard")
    )
    merged = (
        shard_sk.withColumn("rk", F.row_number().over(w_grp))
        .where(F.col("rk") <= QSK_K)
        .select(
            F.lit("merged").alias("source"), "event_type", "event_id", "value"
        )
    )
    direct = (
        src.withColumn("rk", F.row_number().over(w_grp))
        .where(F.col("rk") <= QSK_K)
        .select(
            F.lit("direct").alias("source"), "event_type", "event_id", "value"
        )
    )
    w_val = Window.partitionBy("source", "event_type").orderBy(
        "value", "event_id"
    )
    w_n = Window.partitionBy("source", "event_type")
    ranked = merged.unionAll(direct).select(
        "source", "event_type", "value",
        F.row_number().over(w_val).alias("vrk"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )

    def _q(q: float):
        return F.round(
            F.max(
                F.when(
                    F.col("vrk") == F.ceil(F.lit(q) * F.col("n")),
                    F.col("value"),
                )
            ),
            4,
        )

    return (
        ranked.groupBy("source", "event_type")
        .agg(
            F.max("n").cast("long").alias("n_sample"),
            _q(0.5).alias("p50"),
            _q(0.9).alias("p90"),
            _q(0.99).alias("p99"),
        )
        .orderBy("source", "event_type")
    )


@register(
    "d11_theta_setops",
    # Theta-sketch set algebra on the KMV sample: theta = the Kth smallest
    # hash over A ∪ B; every retained hash (h < theta) is a uniform sample
    # of the union, so est(S) = |retained ∩ S| * 2^60 / theta.
    oracle=f"""
    WITH u AS (
      SELECT {_KMV_KEY_SQL} AS h,
             BOOL_OR(event_type = 'purchase') AS in_a,
             BOOL_OR(event_type = 'click') AS in_b
      FROM events
      WHERE event_type IN ('purchase', 'click')
      GROUP BY 1
    ), k AS (
      SELECT h, in_a, in_b FROM u ORDER BY h LIMIT {KMV_K}
    ), sk AS (
      SELECT MAX(h) AS theta_hash, CAST(COUNT(*) AS BIGINT) AS k_eff FROM k
    ), ret AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_ret,
             CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inter
      FROM k, sk WHERE k.h < sk.theta_hash
    ), ex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS true_union,
             CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS true_inter
      FROM u
    )
    SELECT sk.theta_hash, sk.k_eff,
           CASE WHEN sk.k_eff < {KMV_K} THEN ex.true_union
                ELSE CAST(ROUND(ret.n_ret * 1.0 * {_H60} / sk.theta_hash)
                          AS BIGINT)
           END AS est_union,
           ex.true_union,
           CASE WHEN sk.k_eff < {KMV_K} THEN ex.true_inter
                ELSE CAST(ROUND(ret.n_inter * 1.0 * {_H60} / sk.theta_hash)
                          AS BIGINT)
           END AS est_inter,
           ex.true_inter
    FROM sk, ret, ex
    ORDER BY sk.k_eff
    """,
)
def d11_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra: estimate |A ∪ B| and |A ∩ B| for
    A = purchase user-days, B = click user-days from ONE KMV sample of the
    union — the Datasketches-style trick that turns distinct sketches into
    a set-expression engine (audience overlap, cross-segment reach). The
    retained sample (hashes strictly below theta) is uniform over the
    union, so any subset's cardinality is its sample share scaled by
    1/theta; both estimates and both exact counts are certified together.

    Scale shape: one groupBy on the 8-byte entity hash carrying two
    booleans (map-side BOOL_OR combine), TakeOrdered K, then three one-row
    aggregates joined by broadcast — no full-data exchange beyond the
    dedup shuffle, identical to d11_kmv_sketch."""
    e = catalog(spark, sf_dir).events
    u = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .groupBy(_kmv_key().alias("h"))
        .agg(
            F.bool_or(F.col("event_type") == "purchase").alias("in_a"),
            F.bool_or(F.col("event_type") == "click").alias("in_b"),
        )
    )
    topk = u.orderBy("h").limit(KMV_K)
    sk = topk.agg(
        F.max("h").alias("theta_hash"),
        F.count("*").cast("long").alias("k_eff"),
    )
    ret = (
        topk.crossJoin(F.broadcast(sk.select("theta_hash")))
        .where(F.col("h") < F.col("theta_hash"))
        .agg(
            F.count("*").cast("long").alias("n_ret"),
            F.sum(
                F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0)
            ).cast("long").alias("n_inter"),
        )
    )
    ex = u.agg(
        F.count("*").cast("long").alias("true_union"),
        F.sum(
            F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0)
        ).cast("long").alias("true_inter"),
    )

    def _est(n: "F.Column", exact: "F.Column") -> "F.Column":
        return (
            F.when(F.col("k_eff") < KMV_K, exact)
            .otherwise(
                F.round(
                    n * F.lit(1.0) * F.lit(_H60) / F.col("theta_hash")
                ).cast("long")
            )
        )

    return (
        sk.crossJoin(F.broadcast(ret))
        .crossJoin(F.broadcast(ex))
        .select(
            "theta_hash",
            "k_eff",
            _est(F.col("n_ret"), F.col("true_union")).alias("est_union"),
            "true_union",
            _est(F.col("n_inter"), F.col("true_inter")).alias("est_inter"),
            "true_inter",
        )
        .orderBy("k_eff")
    )


# --------------------------------------------------------------------------
# D10 extension — Gini coefficient / Lorenz concentration profiling
# --------------------------------------------------------------------------
@register(
    "d10_gini",
    # Gini via the rank formula G = 2*Σ(i*x_i)/(n*Σx) - (n+1)/n over
    # revenue sorted ascending. All sums are DECIMAL (order-independent);
    # the formula converts to double only at the final one-row-per-segment
    # arithmetic, written in identical association order on both engines.
    oracle="""
    WITH rev AS (
      SELECT c.c_mktsegment AS seg, c.c_custkey AS custkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS rev
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT seg, custkey, rev,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY rev, custkey) AS i
      FROM rev
    ), agg AS (
      SELECT seg,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(rev) AS DOUBLE) AS total_rev,
             CAST(SUM(i * rev) AS DOUBLE) AS weighted
      FROM ranked GROUP BY seg
    )
    SELECT seg, n_customers,
           ROUND(total_rev, 2) AS total_rev,
           ROUND(2.0 * weighted / (n_customers * total_rev)
                 - (n_customers + 1.0) / n_customers, 4) AS gini
    FROM agg ORDER BY seg
    """,
)
def d10_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration profiling: the Gini coefficient of customer
    revenue per market segment (0 = perfectly even, →1 = one whale), via
    the rank formula over the ascending Lorenz ordering — the dataset-audit
    statistic that tells a pipeline whether a segment's training signal is
    dominated by a handful of heavy keys (the same skew d03_salted_skew_join
    exists to survive). Revenue and the rank-weighted sum stay DECIMAL
    (bit-exact under any partitioning / addend order); doubles appear only
    in the final 5-row projection.

    Scale shape: one agg keyed (segment, custkey), one per-segment sort for
    ROW_NUMBER (parallel across segments), one tiny final agg. At 100 TB
    the per-segment sort is the cost — if a single segment outgrew a
    partition, the rank formula decomposes over range-partitioned chunks
    with broadcast per-chunk offsets (the d34_curriculum_order trick)."""
    c = catalog(spark, sf_dir).customer
    o = catalog(spark, sf_dir).orders
    rev = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_custkey").alias("custkey"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev")
        )
    )
    w = Window.partitionBy("seg").orderBy("rev", "custkey")
    ranked = rev.withColumn("i", F.row_number().over(w))
    agg = ranked.groupBy("seg").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("rev").cast("double").alias("total_rev"),
        F.sum(F.col("i") * F.col("rev")).cast("double").alias("weighted"),
    )
    n = F.col("n_customers")
    return agg.select(
        "seg",
        "n_customers",
        F.round("total_rev", 2).alias("total_rev"),
        F.round(
            F.lit(2.0) * F.col("weighted") / (n * F.col("total_rev"))
            - (n + F.lit(1.0)) / n,
            4,
        ).alias("gini"),
    ).orderBy("seg")


def _per_series_grouped_map(daily: DataFrame, kernel, schema: str) -> DataFrame:
    """Run a per-series sequential kernel as a grouped map over hash
    BUCKETS of series instead of one group per series (guide §4.2).

    ``applyInPandas`` fires the Python kernel once per GROUP: keyed by
    user_id it pays one interpreter crossing + one pandas-frame
    construction per series (~60k calls at sf0.1 — measured to dominate
    the d14_holt_linear / d14_kalman_1d sweep seconds). Bucketing by
    ``pmod(xxhash64(user_id), buckets)`` hands each call a batch of whole
    series and the kernel vectorizes across them (one numpy op per TIME
    STEP, elementwise over live series). Bucket count scales with cluster
    parallelism — 8 groups per core keeps every core busy while bounding
    per-task state to rows/buckets — and the result is bucket-count
    invariant because the kernel emits one row per series regardless of
    how series are co-batched."""
    spark = daily.sparkSession
    nb = max(spark.sparkContext.defaultParallelism, 1) * 8
    bkt = "__series_bkt"
    bucketed = daily.withColumn(
        bkt, F.pmod(F.xxhash64("user_id"), F.lit(nb))
    )

    def run(pdf):
        return kernel(pdf.drop(columns=[bkt]))

    return bucketed.groupBy(bkt).applyInPandas(run, schema=schema)


# --------------------------------------------------------------------------
# D14 extension — Holt double-exponential smoothing (level + trend), the
# genuinely SEQUENTIAL per-series recurrence. d14_ewma stays a pure window
# expression via bounded lookback; Holt's trend term has no such closed
# form, so this is the canonical "inherently stateful scan" operator: an
# Arrow-batched grouped-map per series, oracled by a recursive CTE.
# --------------------------------------------------------------------------
HOLT_ALPHA = 0.5
HOLT_BETA = 0.3


@register(
    "d14_holt_linear",
    # The recursive CTE steps the identical recurrence: l' = a*y+(1-a)*(l+b),
    # b' = B*(l'-l)+(1-B)*b, initialized l_1=y_1, b_1=0. The l' expression is
    # inlined twice in the b' row — same double ops in the same order as the
    # pandas loop, so the trajectory is bit-identical.
    oracle=f"""
    WITH RECURSIVE s AS (
      SELECT user_id, CAST(ts AS DATE) AS day, MIN(value) AS y,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS DATE)) AS t
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), hw AS (
      SELECT user_id, t, y AS l, CAST(0.0 AS DOUBLE) AS b FROM s WHERE t = 1
      UNION ALL
      SELECT s.user_id, s.t,
             {HOLT_ALPHA} * s.y + {1 - HOLT_ALPHA} * (hw.l + hw.b),
             {HOLT_BETA} * (({HOLT_ALPHA} * s.y
                             + {1 - HOLT_ALPHA} * (hw.l + hw.b)) - hw.l)
               + {1 - HOLT_BETA} * hw.b
      FROM hw JOIN s ON s.user_id = hw.user_id AND s.t = hw.t + 1
    ), last AS (
      SELECT user_id, t, l, b,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t DESC) AS rn
      FROM hw
    )
    SELECT user_id, CAST(t AS BIGINT) AS n_days,
           ROUND(l, 4) AS level, ROUND(b, 4) AS trend,
           ROUND(l + b, 4) AS forecast_1
    FROM last WHERE rn = 1
    ORDER BY user_id
    """,
)
def d14_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per user over the daily
    opening-value series: level l and trend b stepped through the classic
    recurrence, returning each series' final state and 1-step-ahead
    forecast. The trend recursion cannot be unrolled into a window
    expression (each step feeds the next nonlinearly through two coupled
    states), so this is the engine's canonical sequential-scan operator:
    ``applyInPandas`` per series — Arrow-batched, one shuffle on the series
    key, the per-series loop is O(days) in NumPy-backed floats.

    Scale shape (100 TB): parallelism = number of series (millions of users
    → perfectly parallel); per-series state is two doubles. The daily
    pre-aggregate (MIN per user-day) collapses the raw stream map-side
    before the series shuffle, so the grouped map sees days, not events —
    the same pre-reduction a production forecaster ships.

    r13 kernel vectorization (guide §4.2 — hand whole batches to
    vectorized native code; VERDICT r12 ask #5): grouping by user_id
    fired one Python call + one pandas-frame construction PER SERIES
    (~60k calls at sf0.1 dominated the 6.7 s sweep time). The grouped
    map now runs per hash BUCKET of series (parallelism-scaled count),
    and the kernel steps the recurrence once per TIME STEP, elementwise
    across every live series in the bucket. The per-series arithmetic
    is the identical scalar op sequence (l' = a*y + (1-a)*(l+b) etc.,
    numpy float64 elementwise == the scalar loop's IEEE doubles), so
    the trajectory — and the oracle hash — is bit-identical."""
    import numpy as np
    import pandas as pd

    e = catalog(spark, sf_dir).events
    daily = (
        e.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.min("value").alias("y"))
    )

    def holt(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["user_id", "day"])
        u = pdf["user_id"].to_numpy()
        ys = pdf["y"].to_numpy()
        uids, starts, counts = np.unique(
            u, return_index=True, return_counts=True
        )
        l = ys[starts].copy()  # l_1 = y_1 per series
        b = np.zeros(len(uids))
        for t in range(1, int(counts.max())):
            alive = counts > t
            y = ys[starts[alive] + t]
            la, ba = l[alive], b[alive]
            l_new = HOLT_ALPHA * y + (1 - HOLT_ALPHA) * (la + ba)
            b[alive] = HOLT_BETA * (l_new - la) + (1 - HOLT_BETA) * ba
            l[alive] = l_new
        return pd.DataFrame(
            {
                "user_id": uids.astype("int64"),
                "n_days": counts.astype("int64"),
                "level": [round(float(v), 4) for v in l],
                "trend": [round(float(v), 4) for v in b],
                "forecast_1": [
                    round(float(lv) + float(bv), 4) for lv, bv in zip(l, b)
                ],
            }
        )

    out = _per_series_grouped_map(
        daily,
        holt,
        "user_id LONG, n_days LONG, level DOUBLE, trend DOUBLE, "
        "forecast_1 DOUBLE",
    )
    return out.orderBy("user_id")


# --------------------------------------------------------------------------
# D27 extension — cohort LTV triangle (cumulative revenue by signup cohort
# and account age)
# --------------------------------------------------------------------------
@register(
    "d27_cohort_ltv",
    # weekly cohorts (Monday-start date_trunc on both engines — the events
    # table spans ~1 month, so weeks give a real triangle where months
    # would collapse to one cell); revenue is exact DECIMAL (events.value
    # carries exactly 2 decimals, so the cast never rounds) and the running
    # LTV is a window over the per-(cohort, age) aggregate —
    # order-independent end to end.
    oracle="""
    WITH first AS (
      SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
    ), cohorts AS (
      SELECT strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cohort,
             date_trunc('week', first_ts) AS cw,
             user_id
      FROM first
    ), sizes AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM cohorts GROUP BY cohort
    ), purch AS (
      SELECT c.cohort,
             CAST(date_diff('day', c.cw, date_trunc('week', e.ts)) / 7
                  AS INT) AS age_weeks,
             e.user_id,
             CAST(e.value AS DECIMAL(12,2)) AS v
      FROM events e JOIN cohorts c USING (user_id)
      WHERE e.event_type = 'purchase'
    ), cell AS (
      SELECT cohort, age_weeks,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS buyers,
             SUM(v) AS rev
      FROM purch GROUP BY cohort, age_weeks
    )
    SELECT c.cohort, c.age_weeks, c.buyers,
           ROUND(CAST(c.rev AS DOUBLE), 2) AS revenue,
           ROUND(CAST(SUM(c.rev) OVER (PARTITION BY c.cohort
                                       ORDER BY c.age_weeks) AS DOUBLE), 2)
             AS cum_revenue,
           ROUND(CAST(SUM(c.rev) OVER (PARTITION BY c.cohort
                                       ORDER BY c.age_weeks) AS DOUBLE)
                 / s.n_users, 4) AS ltv_per_user
    FROM cell c JOIN sizes s USING (cohort)
    ORDER BY c.cohort, c.age_weeks
    """,
)
def d27_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: users grouped by first-seen week,
    purchase revenue accumulated by account age in weeks — the
    (cohort x age) matrix growth analytics reads LTV curves from, and the
    longitudinal companion to d27_retention's presence triangle. Revenue
    stays DECIMAL through every aggregate (events.value carries exactly two
    decimals, so the cast is lossless); doubles appear only in the final
    per-cell projection.

    Scale shape: one agg for first-seen (map-side combined), one shuffle
    join of purchases to their user's cohort (key-key hash join at scale —
    at the test SFs Catalyst broadcasts the cohort side), one agg to the
    tiny (cohort, age) grid, and the running-sum window runs on that grid,
    not on raw events."""
    e = catalog(spark, sf_dir).events
    first = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohorts = first.select(
        "user_id",
        F.date_format(F.date_trunc("week", "first_ts"), "yyyy-MM-dd").alias(
            "cohort"
        ),
        F.date_trunc("week", "first_ts").alias("cw"),
    # NOTE (r12, measured): a lazy localCheckpoint here (cohorts feeds the
    # size agg and the purchase join) probed flat-to-slower (0.62 s ->
    # 0.65 s min-of-5 noop at sf0.1) — consumers overlap on idle cores.
    # Left uncut; do not retry.
    )
    sizes = cohorts.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n_users")
    )
    purch = (
        e.where(F.col("event_type") == "purchase")
        .join(cohorts, "user_id")
        .select(
            "cohort",
            (F.datediff(F.date_trunc("week", "ts"), F.col("cw")) / 7)
            .cast("int")
            .alias("age_weeks"),
            "user_id",
            F.col("value").cast("decimal(12,2)").alias("v"),
        )
    )
    cell = purch.groupBy("cohort", "age_weeks").agg(
        F.count_distinct("user_id").cast("long").alias("buyers"),
        F.sum("v").alias("rev"),
    )
    w = Window.partitionBy("cohort").orderBy("age_weeks")
    cum = F.sum("rev").over(w).cast("double")
    return (
        cell.join(sizes, "cohort")
        .select(
            "cohort",
            "age_weeks",
            "buyers",
            F.round(F.col("rev").cast("double"), 2).alias("revenue"),
            F.round(cum, 2).alias("cum_revenue"),
            F.round(cum / F.col("n_users"), 4).alias("ltv_per_user"),
        )
        .orderBy("cohort", "age_weeks")
    )


# --------------------------------------------------------------------------
# D11 extension — Bloom filter, built from scratch on portable hashes so
# membership (and therefore the false-positive accounting) is an EXACT
# oracle contract: the filter's set-bit positions are a deterministic
# relation, not engine-private state. Build side A = purchase user-days;
# probe side B = click user-days. No false negatives is an invariant the
# oracle enforces structurally; the false-positive RATE is part of the
# certified result.
# --------------------------------------------------------------------------
BLOOM_M = 262144  # bits (2^18): sized for the sf0.1 build side
# (~24k keys x 3 hashes -> ~27% load, FP ~1.3%); smaller SFs are sparser
BLOOM_K = 3  # hash functions (md5 prefixes at offsets 1, 9, 17)


def _bloom_positions_sql(key_expr: str) -> list[str]:
    return [
        f"CAST(('0x' || substr(md5({key_expr}), {1 + 8 * i}, 8)) AS BIGINT)"
        f" % {BLOOM_M}"
        for i in range(BLOOM_K)
    ]


def _bloom_key_sql(alias: str = "user_id") -> str:
    return (
        f"CAST({alias} AS VARCHAR) || ':' || strftime(ts, '%Y-%m-%d')"
    )


@register(
    "d11_bloom_filter",
    oracle=f"""
    WITH a AS (
      SELECT DISTINCT {_bloom_key_sql()} AS k FROM events
      WHERE event_type = 'purchase'
    ), bits AS (
      {" UNION ".join(f"SELECT DISTINCT {p} AS pos FROM (SELECT k FROM a) t(k)"
                      for p in _bloom_positions_sql("k"))}
    ), b AS (
      SELECT DISTINCT {_bloom_key_sql()} AS k FROM events
      WHERE event_type = 'click'
    ), probe AS (
      SELECT b.k,
             {" AND ".join(f"EXISTS (SELECT 1 FROM bits WHERE pos = {p})"
                           for p in _bloom_positions_sql("b.k"))}
               AS bloom_hit,
             EXISTS (SELECT 1 FROM a WHERE a.k = b.k) AS is_member
      FROM b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           CAST(SUM(CASE WHEN is_member AND NOT bloom_hit THEN 1 ELSE 0 END)
                AS BIGINT) AS false_negatives,
           CAST(SUM(CASE WHEN bloom_hit AND NOT is_member THEN 1 ELSE 0 END)
                AS BIGINT) AS false_positives,
           ROUND(SUM(CASE WHEN bloom_hit AND NOT is_member THEN 1 ELSE 0 END)
                 * 1.0
                 / greatest(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END), 1),
                 4) AS fp_rate
    FROM probe ORDER BY n_probes
    """,
)
def d11_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit, from scratch: a {BLOOM_M}-bit /
    {BLOOM_K}-hash filter over purchase user-days (md5-prefix positions, so
    the SAME filter materializes on any engine), probed with click
    user-days. The certified row carries the full confusion accounting —
    false_negatives MUST be 0 (the Bloom guarantee, enforced by the oracle
    hash, not a tolerance), and the false-positive rate is data-exact.
    This is the semi-join pre-filter shape (runtime row-group skipping,
    shuffle pruning) built open instead of with engine-private sketch
    state — the D11 family's fourth certified sketch after CMS/KMV/theta.

    Scale shape: the build side collapses to <= {BLOOM_M} distinct bit
    positions (an aggregate, broadcastable by construction); the probe is
    a broadcast semi-join of each probe key's {BLOOM_K} positions against
    that tiny relation — no shuffle of the probe stream at any scale."""
    e = catalog(spark, sf_dir).events
    key = F.concat(
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.date_format("ts", "yyyy-MM-dd"),
    )

    def positions(k):
        return [
            F.conv(F.substring(F.md5(k), 1 + 8 * i, 8), 16, 10).cast("long")
            % BLOOM_M
            for i in range(BLOOM_K)
        ]

    # lazy lineage cuts: `a` feeds the bit build AND the membership join;
    # `bits` (<= BLOOM_M ints) feeds one broadcast join per hash — uncut,
    # each of the three position joins re-ran scan+distinct+md5+explode
    a = (
        e.where(F.col("event_type") == "purchase")
        .select(key.alias("k"))
        .distinct()
        .transform(lineage_cut)
    )
    bits = (
        a.select(F.explode(F.array(*positions(F.col("k")))).alias("pos"))
        .distinct()
        .transform(lineage_cut)
    )
    b = (
        e.where(F.col("event_type") == "click")
        .select(key.alias("k"))
        .distinct()
    )
    probe = b
    for i, p in enumerate(positions(F.col("k"))):
        hit_i = bits.select(F.col("pos").alias(f"pos{i}"))
        probe = probe.join(
            F.broadcast(hit_i), p == F.col(f"pos{i}"), "left"
        ).withColumn(f"hit{i}", F.col(f"pos{i}").isNotNull()).drop(f"pos{i}")
    bloom_hit = F.col("hit0") & F.col("hit1") & F.col("hit2")
    member = a.select(F.col("k"), F.lit(True).alias("is_member"))
    probe = probe.join(F.broadcast(member), "k", "left").withColumn(
        "is_member", F.coalesce("is_member", F.lit(False))
    )
    agg = probe.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_members"),
        F.sum(F.when(bloom_hit, 1).otherwise(0)).cast("long").alias("n_hits"),
        F.sum(F.when(F.col("is_member") & ~bloom_hit, 1).otherwise(0))
        .cast("long")
        .alias("false_negatives"),
        F.sum(F.when(bloom_hit & ~F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("false_positives"),
        F.sum(F.when(~F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_nonmembers"),
    )
    return agg.select(
        "n_probes",
        "n_members",
        "n_hits",
        "false_negatives",
        "false_positives",
        F.round(
            F.col("false_positives")
            * F.lit(1.0)
            / F.greatest(F.col("n_nonmembers"), F.lit(1)),
            4,
        ).alias("fp_rate"),
    ).orderBy("n_probes")


# --------------------------------------------------------------------------
# D8 extension — NEAREST-event as-of join (both directions, deterministic
# tie toward the earlier event) — the sensor-fusion/feature-alignment
# variant of as-of: "the closest reading in time", not "the last one".
# --------------------------------------------------------------------------
@register(
    "d08_asof_nearest",
    # DuckDB oracle: per-purchase LATERAL top-1 by (|Δt|, view ts) — the
    # (absdiff, ts) key makes the equidistant tie land on the EARLIER view
    oracle="""
    WITH v AS (
      SELECT user_id, ts, max_by(value, event_id) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ), p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS nearest_view_ts,
           CAST(abs(epoch_us(l.ts) - epoch_us(p.ts)) AS BIGINT) AS gap_us,
           CASE WHEN l.ts IS NULL THEN 'none'
                WHEN l.ts <= p.ts THEN 'before' ELSE 'after' END AS direction,
           ROUND(l.view_value, 4) AS view_value
    FROM p LEFT JOIN LATERAL (
      SELECT v.ts, v.view_value FROM v
      WHERE v.user_id = p.user_id
      ORDER BY abs(epoch_us(v.ts) - epoch_us(p.ts)), v.ts LIMIT 1
    ) l ON true
    ORDER BY p.event_id
    """,
)
def d08_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join: every purchase aligned to the CLOSEST
    view event of the same user in either time direction (equidistant ties
    resolve to the earlier view) — the alignment primitive for sensor
    fusion and "feature value nearest to the label timestamp" training
    joins. The engine never enumerates candidate pairs: both sides union
    into one (user, ts, tag) order, a running last-view carry gives each
    purchase its predecessor and a mirrored first-view carry its successor,
    and a 3-way CASE picks the nearer — ONE shuffle on user_id, O(n log n)
    per key, no range-join blowup regardless of event density. The oracle
    is the quadratic LATERAL top-1, so the two formulations certify each
    other.

    Gap arithmetic runs on integer microseconds (``F.unix_micros``) on both
    engines — the d27_attribution lesson."""
    ev = catalog(spark, sf_dir).events
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("view_value"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("tag"),
            "view_value",
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("tag"),
        F.lit(None).cast("double").alias("view_value"),
        "event_id",
    )
    u = v.unionByName(p)
    vts = F.when(F.col("tag") == 0, F.col("ts"))
    vval = F.when(F.col("tag") == 0, F.col("view_value"))
    order = [F.col("ts"), F.col("tag")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = u.select(
        "user_id",
        "ts",
        "tag",
        "event_id",
        F.last(vts, ignorenulls=True).over(w_prev).alias("prev_ts"),
        F.last(vval, ignorenulls=True).over(w_prev).alias("prev_val"),
        F.first(vts, ignorenulls=True).over(w_next).alias("next_ts"),
        F.first(vval, ignorenulls=True).over(w_next).alias("next_val"),
    ).where(F.col("tag") == 1)
    pus = F.unix_micros("ts")
    dprev = pus - F.unix_micros("prev_ts")
    dnext = F.unix_micros("next_ts") - pus
    take_prev = F.col("prev_ts").isNotNull() & (
        F.col("next_ts").isNull() | (dprev <= dnext)
    )
    nearest_ts = F.when(take_prev, F.col("prev_ts")).otherwise(F.col("next_ts"))
    nearest_val = F.when(take_prev, F.col("prev_val")).otherwise(
        F.col("next_val")
    )
    gap = F.when(take_prev, dprev).otherwise(dnext)
    return carried.select(
        "event_id",
        F.date_format(nearest_ts, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "nearest_view_ts"
        ),
        gap.cast("long").alias("gap_us"),
        F.when(nearest_ts.isNull(), "none")
        .when(take_prev, "before")
        .otherwise("after")
        .alias("direction"),
        F.round(nearest_val, 4).alias("view_value"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# D15 extension — diversified top-k: global top-20 orders with AT MOST 3
# per customer (the "don't let one whale fill the leaderboard" production
# pattern; also the retrieval-diversity shape d30_mmr_rerank applies to
# embeddings, done here purely relationally).
# --------------------------------------------------------------------------
@register(
    "d15_diversified_topk",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey)
               AS per_cust_rank
      FROM orders
    )
    SELECT o_orderkey, o_custkey,
           ROUND(o_totalprice, 2) AS o_totalprice,
           CAST(per_cust_rank AS BIGINT) AS per_cust_rank
    FROM ranked WHERE per_cust_rank <= 3
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def d15_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k: the 20 highest-value orders subject to a cap of
    3 per customer — per-customer rank first (Spark plans the rank<=3
    filter as WindowGroupLimit, so each partition keeps only 3 rows per
    key BEFORE the window materializes), then a global top-20 that goes
    through TakeOrderedAndProject, never a full sort. Total-order
    tie-breaks on o_orderkey make the leaderboard deterministic.

    Scale shape: one shuffle on the group key with group-limit pushdown
    map-side; the global limit merges 20 rows per partition on the
    driver — the same two-phase shape at any scale."""
    o = catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    ranked = (
        o.withColumn("per_cust_rank", F.row_number().over(w))
        .where(F.col("per_cust_rank") <= 3)
    )
    return (
        ranked.select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("per_cust_rank").cast("long").alias("per_cust_rank"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# D7 extension — band join (|t1 - t2| <= delta) via bucketed equi-join.
# A naive range join on the band predicate is O(n*m) pairs per key; the
# scalable form buckets time into delta-width cells and equi-joins each
# probe bucket to {b-1, b, b+1}, then filters exactly — the standard
# decomposition that turns a range join into three hash joins.
# --------------------------------------------------------------------------
BAND_US = 1_800_000_000  # 30 minutes in microseconds


@register(
    "d07_band_join",
    # oracle: the naive band predicate — certifying that the bucketed
    # decomposition loses nothing at the cell boundaries
    oracle=f"""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           CAST(abs(epoch_us(p.ts) - epoch_us(v.ts)) AS BIGINT) AS gap_us
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'view') v
    JOIN (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
      ON p.user_id = v.user_id
     AND abs(epoch_us(p.ts) - epoch_us(v.ts)) <= {BAND_US}
    ORDER BY view_id, purchase_id
    """,
)
def d07_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join: every (view, purchase) pair of the same user within +/- 30
    minutes — the time-proximity join behind co-occurrence features and
    near-simultaneous-event detection. The engine NEVER evaluates the band
    predicate as a range join: both sides bucket event time into
    band-width cells, the view side explodes each row into its bucket and
    both neighbors (3 rows), and the join is a pure EQUI-join on
    (user_id, bucket) followed by an exact |Δt| filter — any qualifying
    pair is at most one cell apart, so the 3-bucket expansion is lossless,
    which is precisely what the naive-predicate oracle certifies.

    Scale shape: one hash shuffle on (user, bucket) on each side (3x row
    expansion on the smaller side only), map-side exact filter — no
    BroadcastNestedLoopJoin, no per-key quadratic blowup beyond true
    band matches."""
    ev = catalog(spark, sf_dir).events
    # integer `div`: long-exact bucket ids by construction (a double
    # division would still be correct here — quotients are < 2^53 with
    # fractional parts >= 1/BAND_US — but div doesn't need the proof)
    bucket = F.expr(f"unix_micros(ts) div {BAND_US}")
    v = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.unix_micros("ts").alias("v_us"),
            F.explode(
                F.array(bucket - 1, bucket, bucket + 1)
            ).alias("bucket"),
        )
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("p_us"),
        bucket.alias("p_bucket"),
    )
    gap = F.abs(F.col("p_us") - F.col("v_us"))
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("bucket") == F.col("p_bucket")),
        )
        .where(gap <= BAND_US)
        .select("view_id", "purchase_id", gap.cast("long").alias("gap_us"))
        .orderBy("view_id", "purchase_id")
    )


# --------------------------------------------------------------------------
# D16 extension — Spark 4 SQL PIPE syntax (|>): linear dataflow SQL. Same
# Catalyst plan as the nested classic form, so the feature is certified by
# a classic-SQL oracle computing the identical result.
# --------------------------------------------------------------------------
@register(
    "d16_pipe_syntax",
    oracle="""
    WITH joined AS (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
             CAST(o.o_totalprice AS DECIMAL(12,2)) AS price
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderstatus <> 'P'
    ), agg AS (
      SELECT segment, priority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(price) AS rev
      FROM joined GROUP BY segment, priority
    )
    SELECT segment, priority, n_orders,
           ROUND(CAST(rev AS DOUBLE), 2) AS revenue
    FROM agg WHERE n_orders >= 50
    ORDER BY segment, priority
    """,
)
def d16_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax: the segment x priority revenue rollup
    written as a linear |> dataflow — FROM |> WHERE |> JOIN |> EXTEND |>
    AGGREGATE ... GROUP BY |> WHERE (post-agg) |> ORDER BY — the
    query-authoring surface that reads like the DataFrame chain it
    compiles to. Catalyst produces the same plan as the nested classic
    form, which is exactly what the classic-SQL DuckDB oracle certifies.
    Money stays DECIMAL through the aggregate; the broadcast customer
    join and partial+final agg are inherited unchanged from the
    underlying plan."""
    t = catalog(spark, sf_dir)
    t.orders.createOrReplaceTempView("cns_pipe_orders")
    t.customer.createOrReplaceTempView("cns_pipe_customer")
    return spark.sql("""
      FROM cns_pipe_orders
      |> WHERE o_orderstatus <> 'P'
      |> JOIN cns_pipe_customer ON c_custkey = o_custkey
      |> EXTEND CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |> AGGREGATE COUNT(*) AS n_orders, SUM(price) AS rev
           GROUP BY c_mktsegment AS segment, o_orderpriority AS priority
      |> WHERE n_orders >= 50
      |> SELECT segment, priority, CAST(n_orders AS BIGINT) AS n_orders,
                ROUND(CAST(rev AS DOUBLE), 2) AS revenue
      |> ORDER BY segment, priority
    """)


# --------------------------------------------------------------------------
# D14 extension — ROLLING least-squares trend: d14_group_ols over a
# trailing 7-day frame. x is the per-series day INDEX (row_number), not
# the epoch day — small centered regressors keep the n*Sxx - Sx^2
# denominator out of catastrophic-cancellation territory, which is what
# makes a windowed OLS certifiable at 4 decimals.
# --------------------------------------------------------------------------
@register(
    "d14_rolling_ols",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), idx AS (
      SELECT event_type, day, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                  AS DOUBLE) AS x
      FROM daily
    ), w AS (
      SELECT event_type, day,
             COUNT(*) OVER f AS n,
             SUM(x) OVER f AS sx, SUM(y) OVER f AS sy,
             SUM(x * x) OVER f AS sxx, SUM(x * y) OVER f AS sxy
      FROM idx
      WINDOW f AS (PARTITION BY event_type ORDER BY x
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(n AS BIGINT) AS n_window,
           ROUND(CASE WHEN n >= 2
                      THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                 END, 4) AS slope
    FROM w ORDER BY event_type, day
    """,
)
def d14_rolling_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling regression: the trailing-7-day least-squares revenue slope
    per event type — the windowed form of d14_group_ols, giving a trend
    SERIES (the input to change-point logic like d14_cusum) instead of one
    global fit. The moment sums are frame-bounded window aggregates over a
    pre-reduced daily series, so each output row costs O(frame) adds and
    the fit itself never leaves codegen; daily revenue is DECIMAL-exact
    before its single double conversion, and x is the series day index
    (1..#days), keeping the denominator's cancellation benign at the
    4-decimal contract.

    Scale shape: one agg to (type, day), one shuffle on event_type, one
    WindowExec computing all five frame sums together; the raw stream is
    reduced ~per-day before any window sees it."""
    e = catalog(spark, sf_dir).events
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("y")
        )
    )
    w_rn = Window.partitionBy("event_type").orderBy("day")
    idx = daily.withColumn(
        "x", F.row_number().over(w_rn).cast("double")
    )
    f = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(-6, Window.currentRow)
    )
    wdf = idx.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(f).alias("n"),
        F.sum("x").over(f).alias("sx"),
        F.sum("y").over(f).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(f).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(f).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    return wdf.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        n.cast("long").alias("n_window"),
        F.round(
            F.when(
                n >= 2, (n * sxy - sx * sy) / (n * sxx - sx * sx)
            ),
            4,
        ).alias("slope"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# D19 extension (round 7) — numerically stable grouped log-sum-exp
# --------------------------------------------------------------------------
@register(
    "d19_logsumexp",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             AVG(value) AS x
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, MAX(x) AS mx, COUNT(*) AS n_days
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(m.n_days AS BIGINT) AS n_days,
           ROUND(m.mx, 4) AS max_x,
           ROUND(m.mx + ln(SUM(exp(d.x - m.mx))), 4) AS lse
    FROM daily d JOIN m USING (event_type)
    GROUP BY d.event_type, m.n_days, m.mx
    ORDER BY event_type
    """,
)
def d19_logsumexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped log-sum-exp with the max-shift identity
    lse(x) = max(x) + ln(sum(exp(x - max(x)))) — the numerically stable
    reduction under every softmax / mixture log-likelihood / logit
    calibration job; the naive ln(sum(exp(x))) overflows the moment any
    x exceeds ~709. Inputs are per-(event_type, day) mean values, so the
    exp terms span the real dynamic range of the metric.

    Scale shape (100 TB): two chained partial+final hash aggregates —
    (type, day) means, then the max, then the shifted-exp sum as a third
    agg keyed on type joined against the broadcast per-type max (a
    |types|-row table). No window, no sort until the final |types|-row
    ORDER BY. The shift join broadcasts; nothing but partial sums
    shuffle."""
    ev = catalog(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.avg("value").alias("x"))
    m = daily.groupBy("event_type").agg(
        F.max("x").alias("mx"), F.count(F.lit(1)).alias("n_days")
    )
    return (
        daily.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n_days", "mx")
        .agg(F.sum(F.exp(F.col("x") - F.col("mx"))).alias("se"))
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.round("mx", 4).alias("max_x"),
            F.round(F.col("mx") + F.log("se"), 4).alias("lse"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# D10 extension (round 7) — Jensen-Shannon drift between two cohorts
# --------------------------------------------------------------------------
@register(
    "d10_js_divergence",
    oracle="""
    WITH c AS (
      SELECT event_type,
             SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS nb
      FROM events GROUP BY event_type
    ), p AS (
      SELECT event_type,
             na / CAST(SUM(na) OVER () AS DOUBLE) AS pa,
             nb / CAST(SUM(nb) OVER () AS DOUBLE) AS pb
      FROM c
    )
    SELECT event_type,
           ROUND(pa, 4) AS p_a,
           ROUND(pb, 4) AS p_b,
           ROUND(0.5 * pa * log2(pa / ((pa + pb) / 2))
                 + 0.5 * pb * log2(pb / ((pa + pb) / 2)), 4) AS js_term
    FROM p
    UNION ALL
    SELECT 'TOTAL' AS event_type,
           NULL AS p_a, NULL AS p_b,
           ROUND(SUM(0.5 * pa * log2(pa / ((pa + pb) / 2))
                     + 0.5 * pb * log2(pb / ((pa + pb) / 2))), 4) AS js_term
    FROM p
    ORDER BY event_type
    """,
)
def d10_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two event cohorts (deterministic
    even/odd event_id split standing in for reference-vs-candidate
    snapshots): per-category JS contribution plus the TOTAL row — the
    symmetric, finite (bounded by 1 bit, log2) drift metric teams prefer
    over one-sided KL (which is infinite the moment a category vanishes
    from one side). Complements d10_psi_drift (PSI) and d10_ks_drift
    (two-sample KS) in the drift-detection battery.

    Scale shape (100 TB): ONE partial+final hash agg over event_type
    produces the |types|-row contingency; both window normalizations and
    the JS arithmetic run on that tiny frame. Conditional aggregation
    (SUM(CASE)) reads the table once for both cohorts — never two scans,
    never a self-join."""
    ev = catalog(spark, sf_dir).events
    c = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("event_id") % 2 == 1, 1).otherwise(0)).alias("nb"),
    )
    wall = Window.partitionBy()
    p = c.select(
        "event_type",
        (F.col("na") / F.sum("na").over(wall).cast("double")).alias("pa"),
        (F.col("nb") / F.sum("nb").over(wall).cast("double")).alias("pb"),
    # NOTE (r12, measured): a lazy localCheckpoint here (the |types|-row
    # frame feeds both union branches) probed SLOWER (0.32 s -> 0.42 s
    # noop at sf0.1) — the extra job barrier costs more than the one
    # cheap re-aggregation it saves. Left uncut; do not retry.
    )
    mid = (F.col("pa") + F.col("pb")) / 2
    term = 0.5 * F.col("pa") * F.log2(F.col("pa") / mid) + 0.5 * F.col(
        "pb"
    ) * F.log2(F.col("pb") / mid)
    per = p.select(
        "event_type",
        F.round("pa", 4).alias("p_a"),
        F.round("pb", 4).alias("p_b"),
        F.round(term, 4).alias("js_term"),
    )
    total = p.agg(
        F.lit("TOTAL").alias("event_type"),
        F.lit(None).cast("double").alias("p_a"),
        F.lit(None).cast("double").alias("p_b"),
        F.round(F.sum(term), 4).alias("js_term"),
    )
    return per.unionAll(total).orderBy("event_type")


# --------------------------------------------------------------------------
# D27 extension (round 7) — next-step entropy of the journey model
# --------------------------------------------------------------------------
@register(
    "d27_path_entropy",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS src, next_type AS dst, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ), p AS (
      SELECT src, n, n / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS pr
      FROM pairs
    )
    SELECT src,
           CAST(SUM(n) AS BIGINT) AS n_transitions,
           CAST(COUNT(*) AS INT) AS n_branches,
           ROUND(-SUM(pr * log2(pr)), 4) AS next_entropy_bits
    FROM p GROUP BY src ORDER BY src
    """,
)
def d27_path_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-step Shannon entropy per journey state: for each source
    event_type, H(next | src) = -sum p log2 p over its outgoing
    transition distribution — the predictability score on top of the
    d27_markov_transitions model (0 bits = deterministic funnel step,
    log2(|types|) = anarchy). Product teams rank flows by this to find
    where journeys scatter.

    Scale shape (100 TB): identical to d27_markov_transitions — ONE
    user_id shuffle for the LEAD window, partial+final agg to the
    |types|^2 pair table, then entropy as a second tiny agg over it.
    Event volume only ever crosses the wire once."""
    ev = catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("event_type", F.lead("event_type").over(w).alias("next_type"))
        .where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pr = F.col("n") / F.sum("n").over(Window.partitionBy("src")).cast("double")
    return (
        pairs.withColumn("pr", pr)
        .groupBy("src")
        .agg(
            F.sum("n").cast("long").alias("n_transitions"),
            F.count(F.lit(1)).cast("int").alias("n_branches"),
            F.round(-F.sum(F.col("pr") * F.log2("pr")), 4).alias(
                "next_entropy_bits"
            ),
        )
        .orderBy("src")
    )


# --------------------------------------------------------------------------
# D14 extension (round 7) — Bollinger bands (rolling mean +/- 2 sigma)
# --------------------------------------------------------------------------
@register(
    "d14_bollinger",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, SUM(value) AS v
      FROM events GROUP BY 1, 2
    ), wf AS (
      SELECT event_type, day, v,
             COUNT(*) OVER f AS n,
             AVG(v) OVER f AS ma,
             STDDEV_SAMP(v) OVER f AS sd
      FROM daily
      WINDOW f AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day,
           ROUND(v, 4) AS v,
           ROUND(ma, 4) AS ma7,
           ROUND(ma + 2 * sd, 4) AS upper_band,
           ROUND(ma - 2 * sd, 4) AS lower_band,
           CAST(CASE WHEN v > ma + 2 * sd THEN 1
                     WHEN v < ma - 2 * sd THEN -1 ELSE 0 END AS INT) AS breach
    FROM wf WHERE n = 7
    ORDER BY event_type, day
    """,
)
def d14_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the per-type daily value series: trailing
    7-day mean +/- 2 sample standard deviations, with a breach flag
    (+1 above, -1 below) — the classic volatility-envelope anomaly
    monitor; rows without a full 7-day trailing frame are withheld
    (an undersized stddev reads as a false breach). Completes the
    frame-window family next to d14_rolling_ols (trend) and
    d14_zscore_outliers (global z).

    Scale shape (100 TB): partial+final agg to the (type, day) series,
    then ONE window exchange partitioned by event_type — frames are
    ROWS-bounded so the state per partition is 7 rows; no self-join,
    no second shuffle. Day count is bounded (time), so partitions stay
    small regardless of event volume."""
    ev = catalog(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("v"))
    f = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    wf = daily.select(
        "event_type",
        "day",
        "v",
        F.count(F.lit(1)).over(f).alias("n"),
        F.avg("v").over(f).alias("ma"),
        F.stddev_samp("v").over(f).alias("sd"),
    ).where(F.col("n") == 7)
    up = F.col("ma") + 2 * F.col("sd")
    lo = F.col("ma") - 2 * F.col("sd")
    return wf.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("v", 4).alias("v"),
        F.round("ma", 4).alias("ma7"),
        F.round(up, 4).alias("upper_band"),
        F.round(lo, 4).alias("lower_band"),
        F.when(F.col("v") > up, 1)
        .when(F.col("v") < lo, -1)
        .otherwise(0)
        .cast("int")
        .alias("breach"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# D09 extension (round 7) — Herfindahl-Hirschman market concentration
# --------------------------------------------------------------------------
@register(
    "d09_hhi",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey AS nationkey, l.l_suppkey AS suppkey,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS r
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ), sh AS (
      SELECT nationkey, suppkey,
             CAST(r AS DOUBLE) / CAST(SUM(r) OVER (PARTITION BY nationkey) AS DOUBLE) AS share
      FROM rev
    )
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(100 * share * 100 * share), 4) AS hhi,
           ROUND(MAX(share), 4) AS top_share
    FROM sh JOIN nation n ON sh.nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY nation
    """,
)
def d09_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index per nation: supplier revenue shares
    squared and summed on the 0-10000 antitrust scale (10000 = monopoly,
    <1500 = unconcentrated), plus the top supplier's share — the market-
    concentration companion to d10_gini (inequality) and d09_pareto_abc
    (cumulative classes). Revenue aggregates exactly as DECIMAL before
    the share division so engines agree to the cent.

    Scale shape (100 TB): fact table aggregates partial+final to
    (nation, supplier) revenue — the only full-data shuffle; the share
    window and HHI agg run on the supplier-count-sized result. The
    supplier dim joins broadcast; nation likewise."""
    c = catalog(spark, sf_dir)
    rev = (
        c.lineitem.join(
            F.broadcast(c.supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r")
        )
    )
    share = F.col("r").cast("double") / F.sum("r").over(
        Window.partitionBy("nationkey")
    ).cast("double")
    sh = rev.select("nationkey", "suppkey", share.alias("share"))
    return (
        sh.join(
            F.broadcast(
                catalog(spark, sf_dir).nation.select("n_nationkey", "n_name")
            ),
            F.col("nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.round(F.sum(100 * F.col("share") * 100 * F.col("share")), 4).alias(
                "hhi"
            ),
            F.round(F.max("share"), 4).alias("top_share"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# D10 extension (round 7) — modal-value profiler: d10_column_profile's
# counts/ranges plus the deterministic top value per column
# --------------------------------------------------------------------------
_PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice")


def _profile_val(col: str, strtype: str = "VARCHAR") -> str:
    """Render a profiled value as text identically in both engines:
    doubles through a fixed %.4f (bare CAST formatting differs between
    engines on round values), everything else through plain CAST —
    spelled STRING on the Spark side, VARCHAR in the DuckDB oracle."""
    if col == "o_totalprice":
        return f"printf('%.4f', {col})"
    return f"CAST({col} AS {strtype})"


@register(
    "d10_modal_values",
    oracle=" UNION ALL ".join(
        f"""(
        WITH c AS (
          SELECT {_profile_val(col)} AS v, COUNT(*) AS cnt
          FROM orders GROUP BY 1
        ), top AS (
          SELECT v, cnt FROM c ORDER BY cnt DESC, v LIMIT 1
        )
        SELECT '{col}' AS column_name,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n,
               (SELECT CAST(COUNT(*) - COUNT({col}) AS BIGINT) FROM orders)
                 AS n_null,
               (SELECT CAST(COUNT(DISTINCT {col}) AS BIGINT) FROM orders)
                 AS n_distinct,
               (SELECT MIN({_profile_val(col)}) FROM orders) AS min_v,
               (SELECT MAX({_profile_val(col)}) FROM orders) AS max_v,
               top.v AS top_value, CAST(top.cnt AS BIGINT) AS top_count
        FROM top
        )"""
        for col in _PROFILE_COLS
    )
    + " ORDER BY column_name",
)
def d10_modal_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal-value profiler over the orders table: per column, the
    row/null/distinct counts and lexicographic min/max of the RENDERED
    value (d10_column_profile covers the numeric-range form), plus the
    MODAL value with deterministic tie-break (highest count, then
    smallest rendering — never the engine-defined mode(), which ties
    arbitrarily). Doubles render through a fixed %.4f so no engine's
    float-to-string rule is on the hash — the heavy-hitter half of the
    catalog "describe" block.

    Scale shape (100 TB): each column contributes one partial+final
    distinct-agg (count/distinct/min/max fuse into a single scan-side
    aggregate per column) and one top-1 (TakeOrdered over the grouped
    counts, never a global sort); branches union to a 4-row result. At
    production width you'd fuse the scans with grouping sets over a
    melted (column, value) frame — kept per-column here so the plan
    stays the shape a selective profiler (subset of columns) uses.

    NOTE (r13, measured — do not retry): the melted one-scan shape
    (stack -> one groupBy(column, v) cell relation -> per-column stats +
    windowed top-1; VERDICT r12 ask #4, OPTIMIZATION_r13.md entry 5b) returned
    identical rows but measured 1.366 -> 1.528 s min-of-6 interleaved:
    like d10_key_discovery's fused probe, the bounded column count makes
    the overlapping per-column branches locally optimal, and the melt
    pushes 4x rows through one shuffle instead. Same cluster-scale
    caveat applies (scan-dominated storage flips the trade)."""
    o = catalog(spark, sf_dir).orders
    branches = []
    for col in _PROFILE_COLS:
        v = F.expr(_profile_val(col, "STRING"))
        counts = o.groupBy(v.alias("v")).agg(F.count(F.lit(1)).alias("cnt"))
        top = counts.orderBy(F.desc("cnt"), F.asc("v")).limit(1)
        stats = o.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.count(F.lit(1)) - F.count(col)).cast("long").alias("n_null"),
            F.countDistinct(col).cast("long").alias("n_distinct"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
        )
        branches.append(
            stats.crossJoin(top).select(
                F.lit(col).alias("column_name"),
                "n",
                "n_null",
                "n_distinct",
                "min_v",
                "max_v",
                F.col("v").alias("top_value"),
                F.col("cnt").cast("long").alias("top_count"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out.orderBy("column_name")


# --------------------------------------------------------------------------
# D14 extension (round 7) — period-over-period growth (the WoW/MoM staple)
# --------------------------------------------------------------------------
@register(
    "d14_period_growth",
    oracle="""
    WITH weekly AS (
      SELECT event_type, date_trunc('week', CAST(ts AS DATE)) AS week_start,
             SUM(value) AS revenue
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           strftime(week_start, '%Y-%m-%d') AS week_start,
           ROUND(revenue, 4) AS revenue,
           ROUND(LAG(revenue) OVER (PARTITION BY event_type
                                    ORDER BY week_start), 4) AS prev_revenue,
           ROUND((revenue - LAG(revenue) OVER (PARTITION BY event_type
                                               ORDER BY week_start))
                 / LAG(revenue) OVER (PARTITION BY event_type
                                      ORDER BY week_start) * 100, 4)
             AS growth_pct
    FROM weekly ORDER BY event_type, week_start
    """,
)
def d14_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type: ISO-week revenue, the prior
    week via LAG, and the percent change — the period-over-period
    spelling every metrics dashboard is built on (first week's growth is
    NULL, not 0: no prior period, no claim). Spark's weekofyear/trunc and
    DuckDB's date_trunc('week') share ISO Monday weeks, so bucket
    boundaries agree by construction.

    Scale shape (100 TB): partial+final agg to the (type, week) grid —
    the only full-data pass; LAG runs on the grid (bounded by the
    calendar, not the corpus). Same agg-before-window discipline as
    d14_cusum."""
    ev = catalog(spark, sf_dir).events
    weekly = ev.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias(
            "week_start"
        ),
    ).agg(F.sum("value").alias("revenue"))
    w = Window.partitionBy("event_type").orderBy("week_start")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "event_type",
        F.date_format("week_start", "yyyy-MM-dd").alias("week_start"),
        F.round("revenue", 4).alias("revenue"),
        F.round(prev, 4).alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / prev * 100, 4).alias("growth_pct"),
    ).orderBy("event_type", "week_start")


# --------------------------------------------------------------------------
# D2 extension (round 7) — temporal train/test split with leakage audit
# --------------------------------------------------------------------------
TEMPORAL_CUTOFF = "2024-01-22"


@register(
    "d02_temporal_split",
    oracle=f"""
    WITH lab AS (
      SELECT *, CASE WHEN ts < TIMESTAMP '{TEMPORAL_CUTOFF}'
                     THEN 'train' ELSE 'test' END AS split
      FROM events
    ), per AS (
      SELECT split, COUNT(*) AS n_rows,
             COUNT(DISTINCT user_id) AS n_users,
             strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
             strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
      FROM lab GROUP BY split
    )
    SELECT split, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_users AS BIGINT) AS n_users, min_ts, max_ts
    FROM per
    UNION ALL
    SELECT 'USER_OVERLAP', COUNT(*), COUNT(*), NULL, NULL FROM (
      SELECT user_id FROM lab GROUP BY user_id
      HAVING COUNT(DISTINCT split) = 2
    )
    ORDER BY split
    """,
)
def d02_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split at a fixed cutoff with the leakage audit
    a time-series model demands: per-split row/user counts and time
    bounds (max train ts < cutoff <= min test ts is ON the hash via the
    rendered bounds), plus the USER_OVERLAP row counting users present on
    both sides — the population where target leakage through user-level
    features would occur. The hash-based splits (d34_llm_dataprep,
    d02_kfold) are the exchangeable-data tools; THIS is the one you must
    use when the label is the future.

    Scale shape (100 TB): the split label is a scan-side comparison; both
    the per-split stats and the overlap audit are single partial+final
    aggs (the overlap = a user-grouped two-level agg). At production the
    cutoff comes from the feature-store watermark, not a literal."""
    ev = catalog(spark, sf_dir).events
    lab = ev.withColumn(
        "split",
        F.when(F.col("ts") < F.lit(TEMPORAL_CUTOFF).cast("timestamp"), "train")
        .otherwise("test"),
    )
    per = lab.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
    )
    overlap = (
        lab.groupBy("user_id")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") == 2)
        .agg(
            F.lit("USER_OVERLAP").alias("split"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.lit(None).cast("string").alias("min_ts"),
            F.lit(None).cast("string").alias("max_ts"),
        )
    )
    return per.unionAll(overlap).orderBy("split")


# --------------------------------------------------------------------------
# D33 companion (round 7) — regression-metric battery over a closed-form
# OLS fit (MAE / RMSE / R^2, the eval block next to d33_ols_mse)
# --------------------------------------------------------------------------
@register(
    "d33_regression_metrics",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS DOUBLE) AS x,
             SUM(value) AS y
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, COUNT(*) AS n, AVG(x) AS mx, AVG(y) AS my,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM daily GROUP BY event_type
    ), fit AS (
      SELECT event_type, n, my,
             (sxy - n * mx * my) / (sxx - n * mx * mx) AS b,
             my - (sxy - n * mx * my) / (sxx - n * mx * mx) * mx AS a
      FROM m
    )
    SELECT d.event_type,
           CAST(f.n AS BIGINT) AS n_days,
           ROUND(AVG(abs(d.y - (f.a + f.b * d.x))), 4) AS mae,
           ROUND(sqrt(AVG((d.y - (f.a + f.b * d.x))
                          * (d.y - (f.a + f.b * d.x)))), 4) AS rmse,
           ROUND(1 - SUM((d.y - (f.a + f.b * d.x))
                         * (d.y - (f.a + f.b * d.x)))
                     / SUM((d.y - f.my) * (d.y - f.my)), 4) AS r2
    FROM daily d JOIN fit f USING (event_type)
    GROUP BY d.event_type, f.n
    ORDER BY event_type
    """,
)
def d33_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The regression eval block: MAE, RMSE, and R^2 of a closed-form OLS
    trend fit per event type — the three numbers a model-quality gate
    thresholds before a forecast ships. The fit (moment sums) and all
    three metrics are engine-side aggregates; d33_ols_mse certifies the
    MLlib pipeline's MSE, THIS certifies the metric arithmetic itself
    against an independent engine.

    Scale shape (100 TB): partial+final agg to the daily grid, a
    broadcast of the |types|-row fit table back onto it, one residual
    agg. Two passes over the GRID, one over the data."""
    ev = catalog(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("y")).select(
        "event_type",
        F.datediff("day", F.lit("2024-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        "y",
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    b = (F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")) / (
        F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx")
    )
    fit = m.select(
        "event_type", "n", "my", b.alias("b"), (F.col("my") - b * F.col("mx")).alias("a")
    )
    pred = F.col("a") + F.col("b") * F.col("x")
    return (
        daily.join(F.broadcast(fit), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.round(F.avg(F.abs(F.col("y") - pred)), 4).alias("mae"),
            F.round(
                F.sqrt(F.avg((F.col("y") - pred) * (F.col("y") - pred))), 4
            ).alias("rmse"),
            F.round(
                1
                - F.sum((F.col("y") - pred) * (F.col("y") - pred))
                / F.sum((F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))),
                4,
            ).alias("r2"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            "mae",
            "rmse",
            "r2",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# D10 extension (round 7, final) — candidate-key discovery: which columns
# (and pairs) uniquely identify a row — the schema-inference op a catalog
# runs before declaring primary keys or choosing bucketing/merge keys
# --------------------------------------------------------------------------
_KEY_SINGLE = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
_KEY_PAIRS = (("o_custkey", "o_orderdate"), ("o_orderstatus", "o_orderdate"))


@register(
    "d10_key_discovery",
    oracle=" UNION ALL ".join(
        [
            f"""
        SELECT '{c}' AS candidate,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               COUNT(DISTINCT {c}) = (SELECT COUNT(*) FROM orders) AS is_key,
               ROUND(COUNT(DISTINCT {c})
                     / (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders), 4)
                 AS uniqueness
        FROM orders"""
            for c in _KEY_SINGLE
        ]
        + [
            f"""
        SELECT '{a}+{b}',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
               CAST(COUNT(*) AS BIGINT),
               COUNT(*) = (SELECT COUNT(*) FROM orders),
               ROUND(COUNT(*)
                     / (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders), 4)
        FROM (SELECT DISTINCT {a}, {b} FROM orders)"""
            for a, b in _KEY_PAIRS
        ]
    )
    + " ORDER BY candidate",
)
def d10_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery over orders: for each declared candidate
    (four single columns, two pairs), the distinct count, the is_key
    verdict (distinct == rows), and the uniqueness ratio — the profiling
    step a catalog runs before declaring a primary key, choosing a MERGE
    key (d35_upsert_cdc), or picking bucketing columns (d03_bucketed_join);
    a composite's uniqueness ratio also predicts join fanout.

    Scale shape (100 TB): each candidate is ONE partial+final
    distinct-style aggregate (pairs via a two-level agg), unioned into a
    6-row verdict table; no candidate requires a sort, and at corpus
    scale the documented approx_count_distinct swap gives the same
    verdicts for any uniqueness gap the sketch error can't bridge.

    NOTE (r13, measured — do not retry): fusing all 7 distinct sets into
    ONE multi-distinct aggregate (single scan, Catalyst Expand x7, melt
    via stack; VERDICT r12 ask #4) produced identical results but ran
    0.72 s -> 1.14 s (interleaved same-session A/B, min-of-6 noop,
    OPTIMIZATION_r13.md entry 5): at local[32] the 6 narrow per-candidate
    scans overlap for free, while the Expand multiplies the aggregate's
    input to 7x rows through one serial pipeline. The per-branch loop is
    the locally-optimal shape for a bounded candidate list; at true
    100 TB width the fused Expand form trades 6 extra full scans for a
    7x wider partial-agg input and would win on scan-dominated storage —
    revisit only with cluster-scale evidence."""
    o = catalog(spark, sf_dir).orders
    total = o.count()
    branches = []
    for c in _KEY_SINGLE:
        branches.append(
            o.agg(
                F.lit(c).alias("candidate"),
                F.lit(total).cast("long").alias("n_rows"),
                F.countDistinct(c).cast("long").alias("n_distinct"),
                (F.countDistinct(c) == total).alias("is_key"),
                F.round(F.countDistinct(c) / float(total), 4).alias("uniqueness"),
            )
        )
    for a, b in _KEY_PAIRS:
        d = o.select(a, b).distinct()
        branches.append(
            d.agg(
                F.lit(f"{a}+{b}").alias("candidate"),
                F.lit(total).cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
                (F.count(F.lit(1)) == total).alias("is_key"),
                F.round(F.count(F.lit(1)) / float(total), 4).alias("uniqueness"),
            )
        )
    out = branches[0]
    for br in branches[1:]:
        out = out.unionAll(br)
    return out.orderBy("candidate")


# --------------------------------------------------------------------------
# D27 extension (round 9) — cohort retention matrix: the classic
# week-of-first-event cohort x week-offset activity grid
# --------------------------------------------------------------------------
@register(
    "d27_retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id, ts,
             MIN(ts) OVER (PARTITION BY user_id) AS first_ts
      FROM events
    ), act AS (
      SELECT DISTINCT user_id,
             date_trunc('week', first_ts) AS cw,
             CAST(date_diff('day', date_trunc('week', first_ts),
                            date_trunc('week', ts)) / 7 AS INT) AS week_no
      FROM f
    ), counts AS (
      SELECT cw, week_no, CAST(COUNT(*) AS BIGINT) AS n_active
      FROM act GROUP BY cw, week_no
    ), sized AS (
      SELECT cw, week_no, n_active,
             MAX(CASE WHEN week_no = 0 THEN n_active END)
               OVER (PARTITION BY cw) AS cohort_size
      FROM counts
    )
    SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
           week_no, n_active,
           CAST(cohort_size AS BIGINT) AS cohort_size,
           ROUND(n_active * 1.0 / cohort_size, 4) AS retention_pct
    FROM sized
    ORDER BY cohort_week, week_no
    """,
)
def d27_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are grouped by the ISO week of their
    FIRST event (their cohort); each cell counts how many of them were
    active again k weeks later, as a fraction of the cohort's week-0 size.
    The standard growth-accounting readout (is week-4 retention improving
    cohort over cohort?) that product/data teams compute over raw event
    logs.

    Scale shape (100 TB): ONE user_id exchange total — the first-event
    timestamp is a window MIN over the same partitioning the events
    already need, so no groupBy+self-join round trip; the (user, cohort,
    week) de-dup and the cell counts are partial-agg'd map-side, and the
    week-0 cohort size comes from a window over the |cohorts x weeks|-row
    counts table itself — NO join, so the event scan is never duplicated
    into a broadcast build branch (a join on a derived base table would
    re-evaluate the whole pipeline a second time). Event volume crosses
    the wire exactly once — pinned in tests/test_plans.py."""
    ev = catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id")
    act = (
        ev.select(
            "user_id",
            F.date_trunc("week", F.min("ts").over(w)).alias("cw"),
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")),
                    F.date_trunc("week", F.min("ts").over(w)),
                )
                / 7
            )
            .cast("int")
            .alias("week_no"),
        )
        .distinct()
    )
    counts = act.groupBy("cw", "week_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    wc = Window.partitionBy("cw")
    return (
        counts.withColumn(
            "cohort_size",
            F.max(
                F.when(F.col("week_no") == 0, F.col("n_active"))
            ).over(wc),
        )
        .select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            "week_no",
            "n_active",
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.round(
                F.col("n_active") / F.col("cohort_size").cast("double"), 4
            ).alias("retention_pct"),
        )
        .orderBy("cohort_week", "week_no")
    )


# --------------------------------------------------------------------------
# D10 extension (round 9) — 1-Wasserstein (earth-mover) drift distance,
# the magnitude companion to the KS sup-gap
# --------------------------------------------------------------------------
@register(
    "d10_wasserstein_drift",
    oracle="""
    WITH e AS (
      SELECT event_type, value, (date_part('day', ts) <= 15) AS is_ref
      FROM events
    ), pv AS (
      SELECT event_type, value,
             SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
      FROM e GROUP BY 1, 2
    ), c AS (
      SELECT event_type, value,
             SUM(n_ref) OVER w AS c_ref,
             SUM(n_cur) OVER w AS c_cur,
             SUM(n_ref) OVER (PARTITION BY event_type) AS t_ref,
             SUM(n_cur) OVER (PARTITION BY event_type) AS t_cur,
             lead(value) OVER w AS nxt
      FROM pv
      WINDOW w AS (PARTITION BY event_type ORDER BY value)
    )
    SELECT event_type,
           CAST(MAX(t_ref) AS BIGINT) AS n_ref,
           CAST(MAX(t_cur) AS BIGINT) AS n_cur,
           CAST(ROUND(SUM(CAST(ROUND(
                  ABS(CAST(c_ref AS DOUBLE) / t_ref
                      - CAST(c_cur AS DOUBLE) / t_cur) * (nxt - value), 8)
                AS DECIMAL(18,8))), 4) AS DOUBLE) AS w1
    FROM c WHERE nxt IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def d10_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-Wasserstein (earth-mover) distance per event type between the
    first and second half of the month: W1 = integral |ECDF_ref -
    ECDF_cur| dv, the MAGNITUDE of distribution drift where KS reports
    only the worst single gap — a small uniform shift and a narrow spike
    can share a KS statistic but differ 10x in W1, which is why drift
    gates that trigger retraining use the earth-mover form. Exact, not
    sampled: over distinct observed values the ECDFs are step functions,
    so the integral is a finite sum of |gap| x (next_value - value).

    Scale shape (100 TB): identical to d10_ks_drift — one fact scan, one
    shuffle to (type, distinct value), one per-type sort window (adds
    only a LEAD to the same frame), final agg to |types| rows. Each
    integral term is fixed to 8 decimals and summed as DECIMAL so the
    result is summation-order-free (events.value carries exactly 2
    decimals, so the value gaps are exact in double)."""
    e = catalog(spark, sf_dir).events.select(
        "event_type", "value", (F.dayofmonth("ts") <= 15).alias("is_ref")
    )
    pv = e.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
    )
    wo = Window.partitionBy("event_type").orderBy("value")
    wa = Window.partitionBy("event_type")
    c = pv.select(
        "event_type",
        "value",
        F.sum("n_ref").over(wo).alias("c_ref"),
        F.sum("n_cur").over(wo).alias("c_cur"),
        F.sum("n_ref").over(wa).alias("t_ref"),
        F.sum("n_cur").over(wa).alias("t_cur"),
        F.lead("value").over(wo).alias("nxt"),
    )
    term = F.round(
        F.abs(
            F.col("c_ref").cast("double") / F.col("t_ref")
            - F.col("c_cur").cast("double") / F.col("t_cur")
        )
        * (F.col("nxt") - F.col("value")),
        8,
    ).cast("decimal(18,8)")
    return (
        c.where(F.col("nxt").isNotNull())
        .groupBy("event_type")
        .agg(
            F.max("t_ref").cast("long").alias("n_ref"),
            F.max("t_cur").cast("long").alias("n_cur"),
            F.round(F.sum(term), 4).cast("double").alias("w1"),
        )
        .orderBy("event_type")
    )

# --------------------------------------------------------------------------
# D10 extension (round 10) — Cramér's V categorical-association matrix,
# the categorical companion to d10_corr_matrix's numeric Pearson triangle
# --------------------------------------------------------------------------
_CRAMER_PAIRS = (
    ("lineitem", "l_returnflag", "l_linestatus"),
    ("orders", "o_orderstatus", "o_orderpriority"),
)


def _cramers_v_sql() -> str:
    parts = []
    for tbl, a, b in _CRAMER_PAIRS:
        parts.append(f"""
    SELECT '{tbl}' AS tbl, '{a}' AS col_a, '{b}' AS col_b, n, dof, chi2,
           ROUND(SQRT(chi2_exact / (n * (LEAST(r_lev, c_lev) - 1))), 4)
             AS cramers_v
    FROM (
      SELECT CAST(MAX(n) AS BIGINT) AS n,
             CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1)
                  AS BIGINT) AS dof,
             COUNT(DISTINCT a) AS r_lev, COUNT(DISTINCT b) AS c_lev,
             CAST(SUM(term) + MAX(n) AS DOUBLE) AS chi2_exact,
             CAST(ROUND(CAST(SUM(term) + MAX(n) AS DOUBLE), 4) AS DOUBLE)
               AS chi2
      FROM (
        SELECT a, b, o, n,
               CAST(ROUND(
                 (o - ra * cb / n) * (o - ra * cb / n) / (ra * cb / n)
                 - ra * cb / n, 8) AS DECIMAL(18,8)) AS term
        FROM (
          SELECT a, b, o,
                 CAST(SUM(o) OVER (PARTITION BY a) AS DOUBLE) AS ra,
                 CAST(SUM(o) OVER (PARTITION BY b) AS DOUBLE) AS cb,
                 CAST(SUM(o) OVER () AS DOUBLE) AS n
          FROM (SELECT {a} AS a, {b} AS b, COUNT(*) AS o
                FROM {tbl} GROUP BY 1, 2)
        )
      )
    )""")
    return " UNION ALL ".join(parts) + " ORDER BY tbl, col_a"


@register("d10_cramers_v", oracle=_cramers_v_sql)
def d10_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between categorical column pairs —
    the categorical analogue of d10_corr_matrix's Pearson triangle, read
    in the same profiling pass (redundant one-hot features, label leakage
    through a proxy column, stratification-key choice all start here).
    chi² is computed over the OBSERVED contingency cells only; the missing
    (structural-zero) cells' contribution ties out exactly because
    sum(E) over ALL cells equals N, so chi² = Σ_obs((O−E)²/E − E) + N.

    Scale shape (100 TB): per pair ONE map-side-combinable groupBy whose
    shuffle carries at most r×c cell rows (single digits here), window +
    final agg run on those cells — the fact scan dominates and nothing
    else grows with data size. Each cell term is fixed to 8 decimals and
    summed as DECIMAL so chi² is summation-order-free (the
    d10_wasserstein_drift determinism trick)."""
    cat = catalog(spark, sf_dir)
    outs = []
    for tbl, a, b in _CRAMER_PAIRS:
        t = getattr(cat, tbl)
        cells = t.groupBy(
            F.col(a).alias("a"), F.col(b).alias("b")
        ).agg(F.count(F.lit(1)).alias("o"))
        e = cells.select(
            "a",
            "b",
            "o",
            F.sum("o").over(Window.partitionBy("a")).cast("double").alias("ra"),
            F.sum("o").over(Window.partitionBy("b")).cast("double").alias("cb"),
            F.sum("o").over(Window.partitionBy()).cast("double").alias("n"),
        )
        ev = F.col("ra") * F.col("cb") / F.col("n")
        term = F.round(
            (F.col("o") - ev) * (F.col("o") - ev) / ev - ev, 8
        ).cast("decimal(18,8)")
        agg = e.agg(
            F.max("n").cast("long").alias("n"),
            (
                (F.countDistinct("a") - 1) * (F.countDistinct("b") - 1)
            ).cast("long").alias("dof"),
            F.countDistinct("a").alias("r_lev"),
            F.countDistinct("b").alias("c_lev"),
            (F.sum(term) + F.max("n").cast("decimal(18,8)"))
            .cast("double")
            .alias("chi2_exact"),
        )
        outs.append(
            agg.select(
                F.lit(tbl).alias("tbl"),
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                "n",
                "dof",
                F.round("chi2_exact", 4).cast("double").alias("chi2"),
                F.round(
                    F.sqrt(
                        F.col("chi2_exact")
                        / (
                            F.col("n")
                            * (F.least("r_lev", "c_lev") - F.lit(1))
                        )
                    ),
                    4,
                ).alias("cramers_v"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("tbl", "col_a")


# --------------------------------------------------------------------------
# D10 extension (round 10) — numerically-stable higher moments (two-pass
# skewness / excess kurtosis per group)
# --------------------------------------------------------------------------
@register(
    "d10_stable_moments",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS rf, AVG(l_extendedprice) AS mu,
             COUNT(*) AS n
      FROM lineitem GROUP BY 1
    ), c AS (
      SELECT l.l_returnflag AS rf, g.mu, g.n,
             l.l_extendedprice - g.mu AS d
      FROM lineitem l JOIN g ON l.l_returnflag = g.rf
    )
    SELECT rf AS l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
           ROUND(MAX(mu), 4) AS mean,
           ROUND(SQRT(AVG(d * d)), 4) AS std_pop,
           ROUND(AVG(d * d * d) / POW(AVG(d * d), 1.5), 4) AS skewness,
           ROUND(AVG(d * d * d * d) / POW(AVG(d * d), 2) - 3, 4)
             AS kurtosis_excess
    FROM c GROUP BY rf ORDER BY rf
    """,
)
def d10_stable_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group skewness and excess kurtosis via the TWO-PASS centered
    form: pass 1 aggregates group means, pass 2 (after a broadcast join
    back) averages the centered powers (x−μ)^k. The one-pass raw-power-sum
    identity (m4 from E[x⁴]−4E[x³]μ+…) is the textbook shortcut and the
    textbook failure: at 100 TB E[x⁴] for a 1e5-scale column overflows 15
    significant digits and the subtraction cancels catastrophically —
    skewness of a near-symmetric column comes back with ZERO correct
    digits. Two passes of partial+final aggregation cost one extra fact
    scan and are exact to machine precision at any scale (Spark's own
    `skewness`/`kurtosis` builtins are excluded here because their
    bias-correction conventions differ from DuckDB's — the explicit form
    pins ONE definition for both engines).

    Scale shape: pass-1 shuffle carries |groups| rows; the join back is a
    broadcast (3 groups); pass-2 shuffle carries |groups| rows of centered
    power sums. Two fact scans, zero data-sized shuffles, no skew exposure
    (the group key rides the broadcast, not an exchange)."""
    li = catalog(spark, sf_dir).lineitem.select("l_returnflag", "l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        F.avg("l_extendedprice").alias("mu"), F.count(F.lit(1)).alias("n")
    )
    d = F.col("l_extendedprice") - F.col("mu")
    c = li.join(F.broadcast(g), "l_returnflag").select(
        "l_returnflag", "mu", "n", d.alias("d")
    )
    m2, m3, m4 = (F.avg(F.pow("d", k)) for k in (2, 3, 4))
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.round(F.max("mu"), 4).alias("mean"),
            F.round(F.sqrt(m2), 4).alias("std_pop"),
            F.round(m3 / F.pow(m2, 1.5), 4).alias("skewness"),
            F.round(m4 / F.pow(m2, 2.0) - 3, 4).alias("kurtosis_excess"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# D27 extension (round 10) — overlapping-interval merge (gaps-and-islands
# coalescing: the busy-time / coverage primitive)
# --------------------------------------------------------------------------
@register(
    "d27_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, ts AS s,
             ts + (CAST(FLOOR(value) AS INT) % 120 + 5) * INTERVAL 1 MINUTE
               AS e
      FROM events
    ), m AS (
      SELECT user_id, event_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pe
      FROM iv
    ), isl AS (
      SELECT user_id, s, e,
             SUM(CASE WHEN pe IS NULL OR s > pe THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e, event_id
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM m
    ), g AS (
      SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me, COUNT(*) AS nv
      FROM isl GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(nv) AS BIGINT) AS n_intervals,
           CAST(COUNT(*) AS BIGINT) AS n_merged,
           CAST(SUM(date_diff('second', ms, me)) AS BIGINT) AS covered_sec,
           ROUND(1.0 - COUNT(*) * 1.0 / SUM(nv), 4) AS merge_ratio
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def d27_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval coalescing (gaps-and-islands): each event opens
    an interval [ts, ts + 5..124 min] and per user all transitively
    overlapping intervals merge into islands — the busy-time primitive
    behind machine-utilization, ad-exposure and on-call coverage readouts
    (d27_dynamic_gap_session is the GAP-threshold cousin; this is the
    true interval-overlap form where an interval's END, not the next
    START, decides connectivity). Islands form where an interval's start
    exceeds the running MAX of all earlier ends — the 1-row-lookback
    cumulative-max trick that replaces the quadratic self-join.

    Determinism: the window orders by (start, end, event_id) — a total
    order — so the running max and island numbering are engine-invariant;
    durations are whole minutes so the covered-seconds readout is exact
    integer arithmetic in both engines (session tz is UTC: no DST folds).

    Scale shape (100 TB): ONE exchange on user_id serves both windows AND
    both downstream groupBys (HashPartitioning(user_id) satisfies the
    (user_id, island) clustering — Catalyst recognizes the subset), so
    the whole gaps-and-islands cascade is a single-shuffle plan; per-user
    sort is the only n·log(n) term, bounded by the heaviest user."""
    ev = catalog(spark, sf_dir).events
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        F.expr(
            "ts + make_interval(0, 0, 0, 0, 0,"
            " CAST(FLOOR(value) AS INT) % 120 + 5, 0)"
        ).alias("e"),
    )
    order = [F.col("s"), F.col("e"), F.col("event_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    new_island = F.when(
        F.max("e").over(w_prev).isNull()
        | (F.col("s") > F.max("e").over(w_prev)),
        1,
    ).otherwise(0)
    isl = iv.select(
        "user_id", "s", "e", F.sum(new_island).over(w_run).alias("island")
    )
    g = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me"),
        F.count(F.lit(1)).alias("nv"),
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.sum("nv").cast("long").alias("n_intervals"),
            F.count(F.lit(1)).cast("long").alias("n_merged"),
            F.sum(
                F.col("me").cast("long") - F.col("ms").cast("long")
            ).cast("long").alias("covered_sec"),
            F.round(
                F.lit(1.0)
                - F.count(F.lit(1)) * F.lit(1.0) / F.sum("nv"),
                4,
            ).alias("merge_ratio"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# D14 extension (round 10) — time-weighted average (TWAP: each observation
# weighted by how long it was the live value)
# --------------------------------------------------------------------------
@register(
    "d14_twap",
    oracle="""
    WITH o AS (
      SELECT event_type, value, ts,
             lead(ts) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS nxt
      FROM events
    ), w AS (
      SELECT event_type, value,
             date_diff('second', ts, nxt) AS dt,
             CAST(ROUND(value * date_diff('second', ts, nxt), 8)
                  AS DECIMAL(18,8)) AS term
      FROM o WHERE nxt IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_holds,
           CAST(SUM(dt) AS BIGINT) AS total_sec,
           ROUND(CAST(SUM(term) AS DOUBLE) / SUM(dt), 4) AS twap,
           ROUND(AVG(value), 4) AS simple_avg
    FROM w GROUP BY event_type ORDER BY event_type
    """,
)
def d14_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per event type: each value is weighted by the
    seconds it remained the LIVE value (until the next observation of the
    same type) — the estimator that de-biases irregular sampling, where
    the simple mean over-counts bursts (sensor readings, price ticks,
    metric gauges all report this form; the simple_avg column is emitted
    beside it precisely to expose that gap). The final open-ended hold is
    excluded (no defined duration).

    Determinism: LEAD orders by (ts, event_id) — total order; each
    value·dt term is fixed to 8 decimals and summed as DECIMAL (the
    d10_wasserstein_drift trick) so the weighted sum is
    summation-order-free; dt is exact integer seconds.

    Scale shape (100 TB): ONE exchange on event_type serves the LEAD
    window and the final aggregate (subset distribution); per-type sort
    is the only n·log(n) term. A skewed type saturates one reducer — at
    real scale pre-bucket by (type, day) and stitch boundaries, the
    d14_window_running note."""
    ev = catalog(spark, sf_dir).events
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", "value", "ts", F.lead("ts").over(w).alias("nxt")
    ).where(F.col("nxt").isNotNull())
    dt = F.col("nxt").cast("long") - F.col("ts").cast("long")
    term = F.round(F.col("value") * dt, 8).cast("decimal(18,8)")
    return (
        o.select("event_type", "value", dt.alias("dt"), term.alias("term"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_holds"),
            F.sum("dt").cast("long").alias("total_sec"),
            F.round(
                F.sum("term").cast("double") / F.sum("dt"), 4
            ).alias("twap"),
            F.round(F.avg("value"), 4).alias("simple_avg"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# D14 extension (round 10) — winsorized robust statistics (clamp at the
# exact p05/p95 fences, then re-aggregate)
# --------------------------------------------------------------------------
@register(
    "d14_winsorize",
    oracle="""
    WITH f AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi,
             COUNT(*) AS n
      FROM events GROUP BY event_type
    ), c AS (
      SELECT e.event_type, f.n, f.lo, f.hi,
             CASE WHEN e.value < f.lo THEN f.lo
                  WHEN e.value > f.hi THEN f.hi
                  ELSE e.value END AS wv,
             CASE WHEN e.value < f.lo THEN 1 ELSE 0 END AS cl,
             CASE WHEN e.value > f.hi THEN 1 ELSE 0 END AS ch,
             e.value AS v
      FROM events e JOIN f ON e.event_type = f.event_type
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           ROUND(MAX(lo), 4) AS p05, ROUND(MAX(hi), 4) AS p95,
           CAST(SUM(cl) AS BIGINT) AS n_clipped_low,
           CAST(SUM(ch) AS BIGINT) AS n_clipped_high,
           ROUND(AVG(v), 4) AS mean_raw,
           ROUND(AVG(wv), 4) AS mean_winsorized
    FROM c GROUP BY event_type ORDER BY event_type
    """,
)
def d14_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: exact p05/p95 fences (pass 1),
    values clamped TO the fences — not dropped, the distinction from
    trimming — and re-aggregated (pass 2). The robust-location readout a
    metrics pipeline uses when heavy tails poison the plain mean but the
    tail mass itself still carries signal; the clipped-count columns are
    the audit trail for how much mass each fence absorbed. Spark
    `percentile` and DuckDB `quantile_cont` share the linear-interpolation
    definition (the d31_corpus_stats parity), so the fences — and
    therefore every clamped value — agree bit-for-bit.

    Scale shape (100 TB): pass 1 is a sort-based exact percentile per
    group (the price of exact fences; d11_approx_percentile is the sketch
    alternative); its |types|-row result BROADCASTS back onto the fact
    scan, so pass 2 is map-side clamp + one partial+final aggregate.
    Nothing data-sized shuffles on the 5-value type key."""
    ev = catalog(spark, sf_dir).events
    f = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    j = ev.join(F.broadcast(f), "event_type")
    wv = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    return (
        j.select(
            "event_type",
            "n",
            "lo",
            "hi",
            F.col("value").alias("v"),
            wv.alias("wv"),
            (F.col("value") < F.col("lo")).cast("int").alias("cl"),
            (F.col("value") > F.col("hi")).cast("int").alias("ch"),
        )
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.round(F.max("lo"), 4).alias("p05"),
            F.round(F.max("hi"), 4).alias("p95"),
            F.sum("cl").cast("long").alias("n_clipped_low"),
            F.sum("ch").cast("long").alias("n_clipped_high"),
            F.round(F.avg("v"), 4).alias("mean_raw"),
            F.round(F.avg("wv"), 4).alias("mean_winsorized"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# D27 extension (round 10) — audience-overlap matrix (Jaccard between
# event-type user populations)
# --------------------------------------------------------------------------
def _audience_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNCUT distinct (type, user) relation — factored out so the
    plan-pin test can check the two-column pruned scan that
    d27_audience_overlap hides behind its lineage cut."""
    ev = catalog(spark, sf_dir).events
    return ev.select(F.col("event_type").alias("t"), "user_id").distinct()


@register(
    "d27_audience_overlap",
    oracle="""
    WITH a AS (
      SELECT DISTINCT event_type AS t, user_id FROM events
    ), s AS (
      SELECT t, COUNT(*) AS n FROM a GROUP BY t
    ), b AS (
      SELECT x.t AS type_a, y.t AS type_b, COUNT(*) AS n_both
      FROM a x JOIN a y
        ON x.user_id = y.user_id AND x.t < y.t
      GROUP BY 1, 2
    )
    SELECT type_a, type_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           ROUND(n_both * 1.0 / (sa.n + sb.n - n_both), 4) AS jaccard
    FROM b JOIN s sa ON sa.t = type_a JOIN s sb ON sb.t = type_b
    ORDER BY type_a, type_b
    """,
)
def d27_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity between the USER SETS
    of every event-type pair — the segmentation readout behind "do
    purchasers also search?" questions, feature-redundancy checks on
    behavioral flags, and audience-expansion planning (d27_funnel orders
    steps in time; this ignores order entirely and measures population
    overlap).

    Scale shape (100 TB): the (type, user) relation is first DISTINCTed
    (one exchange, map-side partial), then self-joined ON user_id — the
    per-user fanout is bounded by |types|² (25 here), never by event
    volume, so the join output is ≤ |types|²·|users| pairs of 2 small
    columns. Set sizes ride a broadcast join onto the |types|²-row
    matrix. For web-scale type vocabularies swap the exact count for a
    MinHash sketch per type (d11_kmv_sketch's estimator) — noted, not
    needed at 25 pairs."""
    # lazy lineage cut on the distinct (type, user) relation (two small
    # columns): the set-size aggregate and both self-join sides consume
    # it — uncut, the corpus scan + distinct exchange ran three times
    a = _audience_sets(spark, sf_dir).transform(lineage_cut)
    s = a.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    x = a.select(F.col("t").alias("type_a"), "user_id")
    y = a.select(F.col("t").alias("type_b"), "user_id")
    b = (
        x.join(y, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = s.select(F.col("t").alias("type_a"), F.col("n").alias("n_a"))
    sb = s.select(F.col("t").alias("type_b"), F.col("n").alias("n_b"))
    return (
        b.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("n_both")
                * F.lit(1.0)
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                4,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# D09 (cont., round 11) — Gini concentration of customer revenue via
# DISTRIBUTED rank partials (no global single-partition window)
# --------------------------------------------------------------------------
@register(
    "d09_gini",
    # classic rank form: G = 2*sum(i * x_i) / (n * sum x) - (n+1)/n over
    # x sorted ascending. Revenue is rounded to CENTS before ranking so
    # the sort key (rev, custkey) is engine-independent.
    oracle="""
    WITH cr AS (
      SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS rev
      FROM orders GROUP BY o_custkey
    ), r AS (
      SELECT rev,
             ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rk
      FROM cr
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(rev), 2) AS total_revenue,
           ROUND(2.0 * SUM(rk * rev) / (COUNT(*) * SUM(rev))
                 - (COUNT(*) + 1.0) / COUNT(*), 4) AS gini
    FROM r
    """,
)
def d09_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the inequality /
    concentration audit (how top-heavy is the order book). Uses the exact
    rank formulation G = 2*sum(rank*x)/(n*sum x) - (n+1)/n with revenue
    rounded to cents and custkey as tiebreak, so the global order is a
    deterministic total order in both engines.

    Scale shape (100 TB): the global rank is NEVER materialized through a
    single-partition window. The customer-revenue relation range-exchanges
    on the sort key (Spark's scalable sort machinery), each sorted range
    computes THREE scalars in one map-only pandas pass — its row count,
    sum(x), and sum(local_rank * x) — and the closed-form shift
    sum((off_p + lrn) * x) = off_p * sum_x_p + sum(lrn * x)_p combines a
    PARTITION-COUNT-bounded readout on the driver (the
    d34_curriculum_order offsets trick, collapsed further because only
    the aggregate is needed, not per-row ranks). One shuffle for the
    revenue agg, one range exchange, one KB-sized collect."""
    parts = _gini_rank_partials(spark, sf_dir).collect()
    rows = sorted((r for r in parts if r["n"] > 0), key=lambda r: r["pid"])
    n_tot = sum(r["n"] for r in rows)
    sx_tot = sum(r["sx"] for r in rows)
    srx = 0.0
    off = 0
    for r in rows:
        srx += off * r["sx"] + r["slx"]
        off += r["n"]
    gini = 2.0 * srx / (n_tot * sx_tot) - (n_tot + 1.0) / n_tot
    return spark.createDataFrame(
        [(n_tot, round(sx_tot, 2), round(gini, 4))],
        "n_customers long, total_revenue double, gini double",
    )


def _gini_rank_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d09_gini's distributed plan: customer-revenue agg -> range exchange
    on the (rev, custkey) sort key -> map-only pandas pass emitting THREE
    scalars per sorted range (count, sum x, sum local_rank*x). Split out
    so the plan audit can pin the shape the registered query executes
    before its KB-sized readout."""
    import pandas as pd

    o = catalog(spark, sf_dir).orders
    cr = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )

    def _partials(it):
        import numpy as np
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n = 0
        sx = 0.0
        slx = 0.0
        for pdf in it:
            m = len(pdf)
            if m == 0:
                continue
            x = pdf["rev"].to_numpy()
            lrn = (n + 1) + np.arange(m, dtype="int64")
            sx += float(x.sum())
            slx += float((lrn * x).sum())
            n += m
        yield pd.DataFrame({"pid": [pid], "n": [n], "sx": [sx], "slx": [slx]})

    return (
        cr.repartitionByRange(32, "rev", "o_custkey")
        .sortWithinPartitions("rev", "o_custkey")
        .mapInPandas(_partials, schema="pid int, n long, sx double, slx double")
    )


# --------------------------------------------------------------------------
# D14 (cont., round 11) — rolling Pearson correlation (co-movement window)
# --------------------------------------------------------------------------
ROLL_CORR_W = 20


@register(
    "d14_rolling_corr",
    # the pos >= W filter sits OUTSIDE the windowed select: SQL's WHERE
    # runs before window functions, so filtering inline would shrink the
    # frames themselves. Same guarded avg-moment formula as the Spark
    # side (NULL on zero variance; DuckDB's corr would yield NaN there).
    oracle=f"""
    WITH s AS (
      SELECT l_suppkey, l_quantity AS x, l_extendedprice AS y,
             ROW_NUMBER() OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber) AS pos
      FROM lineitem WHERE l_suppkey <= 50
    ), m AS (
      SELECT l_suppkey, pos,
             AVG(x) OVER w AS mx, AVG(y) OVER w AS my,
             AVG(x * y) OVER w AS mxy,
             AVG(x * x) OVER w AS mxx, AVG(y * y) OVER w AS myy
      FROM s
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY pos
        ROWS BETWEEN {ROLL_CORR_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey, pos,
           -- + 0.0 normalizes IEEE negative zero: DuckDB ROUND keeps the
           -- sign of a tiny negative correlation (-0.0) where Spark's
           -- BigDecimal round cannot represent it; -0.0 + 0.0 = +0.0
           ROUND(CASE WHEN (mxx - mx * mx) > 0 AND (myy - my * my) > 0
                 THEN (mxy - mx * my)
                      / sqrt((mxx - mx * mx) * (myy - my * my))
                 END, 4) + 0.0 AS corr{ROLL_CORR_W}
    FROM m
    WHERE pos >= {ROLL_CORR_W}
    ORDER BY l_suppkey, pos
    """,
)
def d14_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {W}-row Pearson correlation between quantity and extended
    price per supplier, in ship order — the co-movement window an anomaly
    monitor slides over a feed (a price/volume decoupling shows as the
    correlation collapsing). Rows before the window fills are excluded;
    zero-variance windows yield NULL in both engines (Spark's NaN is
    normalized to NULL).

    Scale shape: ONE hash exchange on l_suppkey serves both the position
    row_number and the frame aggregate (same partition key, Catalyst
    plans a single Window chain); corr over a frame is an O(1)-per-slide
    running aggregate JVM-side. Key cardinality = suppliers, uniform in
    TPC-H — no hot key; the suppkey<=50 predicate is pushed to the scan."""
    li = catalog(spark, sf_dir).lineitem.where(F.col("l_suppkey") <= 50)
    w_pos = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    s = li.select(
        "l_suppkey", "l_quantity", "l_extendedprice",
        F.row_number().over(w_pos).alias("pos"),
    )
    w_fr = (
        Window.partitionBy("l_suppkey")
        .orderBy("pos")
        .rowsBetween(-(ROLL_CORR_W - 1), 0)
    )
    # moment form instead of F.corr: under ANSI mode the built-in corr
    # raises DIVIDE_BY_ZERO on a zero-variance window; the guarded ratio
    # is algebraically identical (the n-1 factors cancel) and yields NULL
    # where DuckDB's corr yields NULL
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    mx = F.avg(x).over(w_fr)
    my = F.avg(y).over(w_fr)
    mxy = F.avg(x * y).over(w_fr)
    mxx = F.avg(x * x).over(w_fr)
    myy = F.avg(y * y).over(w_fr)
    vx = mxx - mx * mx
    vy = myy - my * my
    c = F.when(
        (vx > 0) & (vy > 0), (mxy - mx * my) / F.sqrt(vx * vy)
    ).otherwise(F.lit(None))
    return (
        s.select(
            "l_suppkey", "pos",
            # + 0.0 mirrors the oracle's negative-zero normalization (the
            # r11 driver red: "-0.0" != "0.0" under the stringified hash)
            (F.round(c, 4) + F.lit(0.0)).alias(f"corr{ROLL_CORR_W}"),
        )
        .where(F.col("pos") >= ROLL_CORR_W)
        .orderBy("l_suppkey", "pos")
    )


# --------------------------------------------------------------------------
# D27 (cont., round 11) — growth accounting: new / retained / resurrected /
# churned users per week
# --------------------------------------------------------------------------
@register(
    "d27_user_lifecycle",
    # weekly growth accounting over DISTINCT user-weeks: new = first-ever
    # week, retained = active the immediately preceding week, resurrected
    # = active before but not last week; churned is attributed to the
    # week AFTER the last consecutive activity (next activity gap > 7
    # days or none). Weeks are Monday-truncated DATEs in both engines.
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ), seq AS (
      SELECT user_id, wk,
             LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
      FROM uw
    ), act AS (
      SELECT wk,
             SUM(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END) AS n_new,
             SUM(CASE WHEN prev_wk = wk - 7 THEN 1 ELSE 0 END) AS n_retained,
             SUM(CASE WHEN prev_wk IS NOT NULL AND prev_wk < wk - 7
                 THEN 1 ELSE 0 END) AS n_resurrected
      FROM seq GROUP BY wk
    ), churn AS (
      SELECT wk + 7 AS wk, COUNT(*) AS n_churned
      FROM seq WHERE next_wk IS NULL OR next_wk > wk + 7
      GROUP BY wk + 7
    )
    SELECT strftime(COALESCE(a.wk, c.wk), '%Y-%m-%d') AS week,
           CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
           CAST(COALESCE(n_retained, 0) AS BIGINT) AS n_retained,
           CAST(COALESCE(n_resurrected, 0) AS BIGINT) AS n_resurrected,
           CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned
    FROM act a FULL OUTER JOIN churn c ON a.wk = c.wk
    ORDER BY week
    """,
)
def d27_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the new/retained/resurrected/churned
    ledger every consumer-product dashboard runs): classify each active
    user-week by its predecessor gap, and attribute churn to the week
    after the last consecutive activity. The identity `actives(t) =
    new + retained + resurrected` and `churned(t+1) >= 0` makes this the
    standard audit for retention work (d27_retention_cohorts gives the
    cohort view; this is the flow view).

    Scale shape (100 TB): the DISTINCT user-week relation collapses the
    event stream once (partial+final distinct on (user, week) — the only
    corpus-sized shuffle); the lag/lead window partitions by user_id
    (max-cardinality key, no skew: a user has at most #weeks rows); the
    weekly ledger is a #weeks-sized agg pair + full outer join. Events
    shuffle exactly once."""
    e = catalog(spark, sf_dir).events
    uw = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("wk")
    seq = uw.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.lead("wk").over(w).alias("next_wk"),
    # lazy lineage cut on the (user, week, lag, lead) relation (4 narrow
    # columns): the activity ledger and the churn attribution both
    # consume it — uncut, the corpus distinct + user window ran twice
    ).transform(lineage_cut)
    act = seq.groupBy("wk").agg(
        F.sum(F.when(F.col("prev_wk").isNull(), 1).otherwise(0)).alias("n_new"),
        F.sum(
            F.when(F.col("prev_wk") == F.date_add("wk", -7), 1).otherwise(0)
        ).alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_wk").isNotNull()
                & (F.col("prev_wk") < F.date_add("wk", -7)),
                1,
            ).otherwise(0)
        ).alias("n_resurrected"),
    )
    churn = (
        seq.where(
            F.col("next_wk").isNull()
            | (F.col("next_wk") > F.date_add("wk", 7))
        )
        .groupBy(F.date_add("wk", 7).alias("wk"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        act.join(churn, "wk", "full_outer")
        .select(
            F.date_format("wk", "yyyy-MM-dd").alias("week"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            F.coalesce("n_retained", F.lit(0)).cast("long").alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0)).cast("long").alias(
                "n_resurrected"
            ),
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        )
        .orderBy("week")
    )


# --------------------------------------------------------------------------
# D14 (cont., round 11) — maximum drawdown over the cumulative series
# --------------------------------------------------------------------------
@register(
    "d14_drawdown",
    # per-type equity curve: daily sums (rounded to pin the inputs) ->
    # running cumulative -> running peak -> drawdown = peak - cum; the
    # sequential accumulation order is the day order in both engines
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             ROUND(SUM(value), 4) AS v
      FROM events GROUP BY event_type, day
    ), curve AS (
      SELECT event_type, day,
             SUM(v) OVER (PARTITION BY event_type ORDER BY day) AS cum
      FROM daily
    ), dd AS (
      SELECT event_type, day, cum,
             MAX(cum) OVER (PARTITION BY event_type ORDER BY day) AS peak
      FROM curve
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(MAX(peak), 4) AS max_peak,
           ROUND(MAX(peak - cum), 4) AS max_drawdown,
           ROUND(MAX(CASE WHEN peak > 0 THEN (peak - cum) / peak
                     ELSE 0 END), 4) AS max_drawdown_frac
    FROM dd GROUP BY event_type ORDER BY event_type
    """,
)
def d14_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each event type's cumulative value curve — the
    running-peak-to-trough metric every risk/monitoring stack computes
    (here over the daily value series: how far below its high-water mark
    has the accumulated series fallen, absolute and fractional). Daily
    sums are rounded BEFORE the cumulative pass so the curve is pinned;
    the cumulative and running-max windows walk days in order, identical
    sequential arithmetic in both engines.

    Scale shape (100 TB): the event stream collapses to (type, day) in
    ONE partial+final agg — the only corpus-sized shuffle; both windows
    and the final agg run over the #types x #days relation on the same
    event_type partitioning (one tiny exchange serves all three). The
    per-type window is the honest sequential dependency: a running max
    cannot split one key, but the key's row count is bounded by the
    calendar, not the corpus."""
    e = catalog(spark, sf_dir).events
    daily = (
        e.groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.round(F.sum("value"), 4).alias("v"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = daily.select(
        "event_type", "day", F.sum("v").over(w_cum).alias("cum")
    )
    dd = curve.select(
        "event_type", "cum", F.max("cum").over(w_cum.orderBy("day")).alias("peak")
    )
    return (
        dd.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.max("peak"), 4).alias("max_peak"),
            F.round(F.max(F.col("peak") - F.col("cum")), 4).alias(
                "max_drawdown"
            ),
            F.round(
                F.max(
                    F.when(
                        F.col("peak") > 0,
                        (F.col("peak") - F.col("cum")) / F.col("peak"),
                    ).otherwise(F.lit(0.0))
                ),
                4,
            ).alias("max_drawdown_frac"),
        )
        .orderBy("event_type")
    )
# --------------------------------------------------------------------------
# D09 (cont., round 11) — per-group top-k revenue concentration
# --------------------------------------------------------------------------
TOPK_SHARE_K = 3


@register(
    "d09_topk_share",
    # revenue rounded to cents before ranking (engine-independent order,
    # custkey tiebreak); share = top-3 customer revenue / nation revenue
    oracle=f"""
    WITH cr AS (
      SELECT c.c_nationkey, o.o_custkey,
             ROUND(SUM(o.o_totalprice), 2) AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ), rk AS (
      SELECT c_nationkey, rev,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
               ORDER BY rev DESC, o_custkey) AS rn
      FROM cr
    )
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(rev), 2) AS nation_revenue,
           ROUND(SUM(CASE WHEN rn <= {TOPK_SHARE_K} THEN rev ELSE 0 END), 2)
             AS topk_revenue,
           ROUND(SUM(CASE WHEN rn <= {TOPK_SHARE_K} THEN rev ELSE 0 END)
                 / SUM(rev), 4) AS topk_share
    FROM rk JOIN nation n ON n.n_nationkey = rk.c_nationkey
    GROUP BY n.n_name ORDER BY nation
    """,
)
def d09_topk_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customer revenue concentration per nation — the
    whale-dependence audit (what fraction of each market's revenue walks
    if its three biggest customers leave). The per-GROUP complement of
    the global concentration metrics (d09_gini, d09_hhi,
    d09_pareto_abc): rank inside each nation, so the window is
    partitioned and parallel by construction.

    Scale shape (100 TB): one shuffle aggregates orders to (nation,
    customer) — broadcast customer->nation attachment rides the orders
    scan; the rank window partitions on nationkey over the AGGREGATED
    customer relation; the nation dim broadcasts. Revenue is rounded to
    cents before ranking so the cut is engine-independent."""
    t = catalog(spark, sf_dir)
    cr = (
        t.orders.join(
            F.broadcast(
                t.customer.select("c_custkey", "c_nationkey")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("rev").desc(), "o_custkey"
    )
    rk = cr.withColumn("rn", F.row_number().over(w))
    topk = F.sum(
        F.when(F.col("rn") <= TOPK_SHARE_K, F.col("rev")).otherwise(0.0)
    )
    return (
        rk.join(
            F.broadcast(
                t.nation.select("n_nationkey", "n_name")
            ),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.sum("rev"), 2).alias("nation_revenue"),
            F.round(topk, 2).alias("topk_revenue"),
            F.round(topk / F.sum("rev"), 4).alias("topk_share"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# D14 (cont., round 11) — 1-D Kalman filter (online state estimation)
# --------------------------------------------------------------------------
KALMAN_Q = 0.1  # process noise (random-walk drift variance per step)
KALMAN_R = 1.0  # observation noise variance
KALMAN_P0 = 1.0  # initial state variance


@register(
    "d14_kalman_1d",
    # the recursive CTE steps the identical scalar Kalman recurrence:
    # k = (p+Q)/(p+Q+R); x' = x + k*(y-x); p' = (1-k)*(p+Q), initialized
    # x_1 = y_1, p_1 = P0. The gain expression is inlined in both state
    # rows — same double ops in the same order as the pandas loop, so
    # the trajectory is bit-identical (the d14_holt_linear pattern).
    oracle=f"""
    WITH RECURSIVE s AS (
      SELECT user_id, CAST(ts AS DATE) AS day, MIN(value) AS y,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS DATE)) AS t
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), kf AS (
      SELECT user_id, t, y AS x, CAST({KALMAN_P0} AS DOUBLE) AS p
      FROM s WHERE t = 1
      UNION ALL
      SELECT s.user_id, s.t,
             kf.x + ((kf.p + {KALMAN_Q}) / (kf.p + {KALMAN_Q} + {KALMAN_R}))
                    * (s.y - kf.x),
             (1 - (kf.p + {KALMAN_Q}) / (kf.p + {KALMAN_Q} + {KALMAN_R}))
               * (kf.p + {KALMAN_Q})
      FROM kf JOIN s ON s.user_id = kf.user_id AND s.t = kf.t + 1
    ), last AS (
      SELECT user_id, t, x, p,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t DESC) AS rn
      FROM kf
    )
    SELECT user_id, CAST(t AS BIGINT) AS n_days,
           ROUND(x, 4) AS estimate,
           ROUND(p, 4) AS variance,
           ROUND((p + {KALMAN_Q}) / (p + {KALMAN_Q} + {KALMAN_R}), 4)
             AS next_gain
    FROM last WHERE rn = 1
    ORDER BY user_id
    """,
)
def d14_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Kalman filter (random-walk state, noisy observations) per
    user over the daily opening-value series: the canonical ONLINE state
    estimator — each day's estimate blends the prediction with the new
    observation by the variance-optimal gain, and the posterior variance
    converges to the Riccati fixed point regardless of start. Returns
    each series' final estimate, posterior variance, and the gain the
    NEXT observation would get — what a monitoring stack persists
    between runs. Sibling of d14_holt_linear (fixed-coefficient
    smoothing); the Kalman gain is the adaptive version.

    Scale shape (100 TB): identical to Holt — the recurrence is
    sequential per series (each step feeds the next through two coupled
    states, not window-expressible), so it ships as ``applyInPandas``
    per user after a map-side daily pre-aggregate: parallelism = number
    of series, per-series state is two doubles, the grouped map sees
    days, not events.

    r13 kernel vectorization (guide §4.2; VERDICT r12 ask #5, same move
    as d14_holt_linear): bucketed grouped map + per-time-step elementwise
    update. The Kalman structure makes this especially clean — the
    variance p_t and gain k_t depend ONLY on the step index, never on the
    data, so they are precomputed once as scalar sequences (the exact
    scalar loop the per-series kernel ran) and the only per-series state
    stepped across the batch is x. Same scalar op sequence per series ⇒
    bit-identical trajectory and oracle hash."""
    import numpy as np
    import pandas as pd

    e = catalog(spark, sf_dir).events
    daily = (
        e.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.min("value").alias("y"))
    )

    def kalman(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["user_id", "day"])
        u = pdf["user_id"].to_numpy()
        ys = pdf["y"].to_numpy()
        uids, starts, counts = np.unique(
            u, return_index=True, return_counts=True
        )
        maxlen = int(counts.max())
        # p_t / k_t depend only on the step index: one scalar recurrence
        # (identical ops to the old per-series loop) serves every series
        p_seq = np.empty(maxlen)
        k_seq = np.empty(maxlen)
        p = KALMAN_P0
        p_seq[0] = p
        for t in range(1, maxlen):
            pq = p + KALMAN_Q
            k = pq / (pq + KALMAN_R)
            p = (1 - k) * pq
            k_seq[t] = k
            p_seq[t] = p
        x = ys[starts].copy()  # x_1 = y_1 per series
        for t in range(1, maxlen):
            alive = counts > t
            y = ys[starts[alive] + t]
            xa = x[alive]
            x[alive] = xa + k_seq[t] * (y - xa)
        p_final = p_seq[counts - 1]
        return pd.DataFrame(
            {
                "user_id": uids.astype("int64"),
                "n_days": counts.astype("int64"),
                "estimate": [round(float(v), 4) for v in x],
                "variance": [round(float(v), 4) for v in p_final],
                "next_gain": [
                    round(
                        (float(v) + KALMAN_Q)
                        / (float(v) + KALMAN_Q + KALMAN_R),
                        4,
                    )
                    for v in p_final
                ],
            }
        )

    out = _per_series_grouped_map(
        daily,
        kalman,
        "user_id LONG, n_days LONG, estimate DOUBLE, "
        "variance DOUBLE, next_gain DOUBLE",
    )
    return out.orderBy("user_id")


# --------------------------------------------------------------------------
# D14 (cont., round 12) — rolling skewness / excess kurtosis (higher-moment
# window family, completing avg/var (bollinger) -> corr -> skew/kurt)
# --------------------------------------------------------------------------
ROLL_SKEW_W = 25


@register(
    "d14_rolling_skew",
    # x = l_quantity: INTEGER-VALUED (1..50), so x^2/x^3/x^4 and their
    # frame sums are exact in double in BOTH engines regardless of the
    # engines' summation order (segment tree vs running re-scan) — the
    # raw moments m1..m4 are bit-identical, and every downstream step is
    # a deterministic IEEE op mirrored expression-for-expression. The
    # pos >= W filter sits outside the windowed select (WHERE runs before
    # window functions); + 0.0 normalizes IEEE negative zero (the r11
    # d14_rolling_corr driver red).
    oracle=f"""
    WITH s AS (
      SELECT l_suppkey, l_quantity AS x,
             ROW_NUMBER() OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber) AS pos
      FROM lineitem WHERE l_suppkey <= 50
    ), m AS (
      SELECT l_suppkey, pos,
             AVG(x) OVER w AS m1, AVG(x * x) OVER w AS m2,
             AVG(x * x * x) OVER w AS m3,
             AVG(x * x * x * x) OVER w AS m4
      FROM s
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY pos
        ROWS BETWEEN {ROLL_SKEW_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey, pos,
           ROUND(CASE WHEN (m2 - m1 * m1) > 0 THEN
                 (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
                 / (sqrt(m2 - m1 * m1) * (m2 - m1 * m1))
                 END, 4) + 0.0 AS skew{ROLL_SKEW_W},
           ROUND(CASE WHEN (m2 - m1 * m1) > 0 THEN
                 (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2
                     - 3 * m1 * m1 * m1 * m1)
                 / ((m2 - m1 * m1) * (m2 - m1 * m1)) - 3.0
                 END, 4) + 0.0 AS kurt{ROLL_SKEW_W}
    FROM m
    WHERE pos >= {ROLL_SKEW_W}
    ORDER BY l_suppkey, pos
    """,
)
def d14_rolling_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {W}-row skewness and excess kurtosis of order quantity per
    supplier, in ship order — the tail-shape monitor a drift detector
    slides over a feed (a mean/variance-stable series can still shift
    mass into one tail, which only the third and fourth moments see;
    d14_bollinger covers the first two, d14_rolling_corr the cross
    moment). Central moments come from raw moments via the standard
    expansions m3c = m3 - 3*m1*m2 + 2*m1^3 and
    m4c = m4 - 4*m1*m3 + 6*m1^2*m2 - 3*m1^4; zero-variance windows yield
    NULL in both engines; rows before the window fills are excluded.

    Scale shape: ONE hash exchange on l_suppkey serves both the position
    row_number and the frame aggregates (same partition key, one Window
    chain); four raw-moment frame averages are O(1)-per-slide running
    aggregates JVM-side. Key cardinality = suppliers (uniform in TPC-H),
    the suppkey<=50 predicate is pushed to the scan."""
    li = catalog(spark, sf_dir).lineitem.where(F.col("l_suppkey") <= 50)
    w_pos = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    s = li.select(
        "l_suppkey", "l_quantity", F.row_number().over(w_pos).alias("pos")
    )
    w_fr = (
        Window.partitionBy("l_suppkey")
        .orderBy("pos")
        .rowsBetween(-(ROLL_SKEW_W - 1), 0)
    )
    x = F.col("l_quantity")
    # each raw moment is aliased ONCE before the skew/kurt expressions
    # reference it: inlining the .over() calls would plan ~24 duplicate
    # frame aggregates (Catalyst does not dedupe repeated window exprs),
    # this shape plans exactly 4 in one Window operator
    m = s.select(
        "l_suppkey",
        "pos",
        F.avg(x).over(w_fr).alias("m1"),
        F.avg(x * x).over(w_fr).alias("m2"),
        F.avg(x * x * x).over(w_fr).alias("m3"),
        F.avg(x * x * x * x).over(w_fr).alias("m4"),
    )
    m1, m2, m3, m4 = F.col("m1"), F.col("m2"), F.col("m3"), F.col("m4")
    var = m2 - m1 * m1
    skew = F.when(
        var > 0,
        (m3 - F.lit(3) * m1 * m2 + F.lit(2) * m1 * m1 * m1)
        / (F.sqrt(var) * var),
    ).otherwise(F.lit(None))
    kurt = F.when(
        var > 0,
        (
            m4
            - F.lit(4) * m1 * m3
            + F.lit(6) * m1 * m1 * m2
            - F.lit(3) * m1 * m1 * m1 * m1
        )
        / (var * var)
        - F.lit(3.0),
    ).otherwise(F.lit(None))
    return (
        m.select(
            "l_suppkey",
            "pos",
            (F.round(skew, 4) + F.lit(0.0)).alias(f"skew{ROLL_SKEW_W}"),
            (F.round(kurt, 4) + F.lit(0.0)).alias(f"kurt{ROLL_SKEW_W}"),
        )
        .where(F.col("pos") >= ROLL_SKEW_W)
        .orderBy("l_suppkey", "pos")
    )


# --------------------------------------------------------------------------
# D27 (cont., round 12) — circadian activity profile (circular statistics:
# when in the 24h cycle does each event type happen, and how concentrated)
# --------------------------------------------------------------------------
CIRC_DEC = 8  # per-row cos/sin rounding before the exact decimal sum


@register(
    "d27_circadian_profile",
    # circular mean of time-of-day per event type: hour-of-day is an
    # ANGLE (23:59 is adjacent to 00:00 — an arithmetic mean would put
    # the peak of a midnight-centered type at noon). Per-row cos/sin are
    # rounded to 8 decimals and summed as DECIMAL (the zipf-fit
    # libm-divergence defense: the only libm calls sit BEFORE an exact
    # sum, so engine libm ulps cannot compound across rows); the readout
    # atan2/sqrt run once per 25-row group. second() is integer in both
    # engines, so theta inputs are exact.
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(ROUND(cos(2 * pi() * (hour(ts) * 3600 + minute(ts) * 60
                  + CAST(second(ts) AS BIGINT)) / 86400.0), 8)
                  AS DECIMAL(12,8)) AS c8,
             CAST(ROUND(sin(2 * pi() * (hour(ts) * 3600 + minute(ts) * 60
                  + CAST(second(ts) AS BIGINT)) / 86400.0), 8)
                  AS DECIMAL(12,8)) AS s8
      FROM events
    ), g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(c8) AS DOUBLE) / COUNT(*) AS cm,
             CAST(SUM(s8) AS DOUBLE) / COUNT(*) AS sm
      FROM b GROUP BY event_type
    )
    SELECT event_type, n_events,
           ROUND(CASE WHEN atan2(sm, cm) / (2 * pi()) * 24.0 < 0
                 THEN atan2(sm, cm) / (2 * pi()) * 24.0 + 24.0
                 ELSE atan2(sm, cm) / (2 * pi()) * 24.0 END, 2) + 0.0
             AS peak_hour,
           ROUND(sqrt(cm * cm + sm * sm), 4) + 0.0 AS concentration
    FROM g ORDER BY event_type
    """,
)
def d27_circadian_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circadian profile per event type: the CIRCULAR mean time-of-day
    (peak hour) and the mean resultant length (concentration, 0 = spread
    uniformly around the clock, 1 = all events at one instant) — the
    when-do-users-do-this readout behind send-time optimization, bot
    detection (bots are flat, humans are concentrated), and timezone
    inference. Linear averages are wrong on a circle; the circular mean
    embeds each timestamp as a unit vector and averages those.

    Scale shape: one map pass embeds (cos, sin) per event — rounded to 8
    decimals and summed as exact DECIMAL, so the aggregation is
    order-independent and engine-exact — then ONE hash agg on the
    |event_type|-sized key; atan2/sqrt run once per output row. No
    window, no join, no skew exposure beyond the agg's partial combine."""
    ev = catalog(spark, sf_dir).events
    sec = (
        F.hour("ts") * F.lit(3600)
        + F.minute("ts") * F.lit(60)
        + F.second("ts").cast("long")
    )
    theta = F.lit(2) * F.expr("pi()") * sec / F.lit(86400.0)
    b = ev.select(
        "event_type",
        F.round(F.cos(theta), CIRC_DEC).cast("decimal(12,8)").alias("c8"),
        F.round(F.sin(theta), CIRC_DEC).cast("decimal(12,8)").alias("s8"),
    )
    g = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.sum("c8").cast("double") / F.count(F.lit(1))).alias("cm"),
        (F.sum("s8").cast("double") / F.count(F.lit(1))).alias("sm"),
    )
    h = F.atan2(F.col("sm"), F.col("cm")) / (F.lit(2) * F.expr("pi()")) * F.lit(
        24.0
    )
    return g.select(
        "event_type",
        "n_events",
        (
            F.round(F.when(h < 0, h + F.lit(24.0)).otherwise(h), 2)
            + F.lit(0.0)
        ).alias("peak_hour"),
        (
            F.round(
                F.sqrt(F.col("cm") * F.col("cm") + F.col("sm") * F.col("sm")),
                4,
            )
            + F.lit(0.0)
        ).alias("concentration"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# D14 (cont., round 12) — SAX: symbolic aggregate approximation (the
# classic time-series symbolization: z-normalize, piecewise-aggregate,
# map segment means to an alphabet by N(0,1) breakpoints)
# --------------------------------------------------------------------------
SAX_POINTS = 64  # series length (power of two: sums divide exactly)
SAX_SEGS = 8  # PAA segments (8 points each)
SAX_BPS = (-0.6745, 0.0, 0.6745)  # N(0,1) quartiles -> 4-letter alphabet


@register(
    "d14_sax",
    # x = l_quantity is integer-valued and both divisors are powers of
    # two, so mean and every PAA segment mean are EXACT doubles; sd and
    # the z-scores are deterministic IEEE expressions mirrored
    # shape-for-shape, so the breakpoint comparisons land identically in
    # both engines even at exact boundaries. Suppliers with fewer than
    # {POINTS} events are excluded; zero-variance series yield NULL words.
    oracle=f"""
    WITH s AS (
      SELECT l_suppkey, l_quantity AS x,
             ROW_NUMBER() OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber) AS pos,
             COUNT(*) OVER (PARTITION BY l_suppkey) AS n
      FROM lineitem WHERE l_suppkey <= 50
    ), head AS (
      SELECT l_suppkey, x, (pos - 1) // {SAX_POINTS // SAX_SEGS} AS seg
      FROM s WHERE n >= {SAX_POINTS} AND pos <= {SAX_POINTS}
    ), stats AS (
      SELECT l_suppkey,
             SUM(x) / {SAX_POINTS}.0 AS mean,
             sqrt(SUM(x * x) / {SAX_POINTS}.0
                  - (SUM(x) / {SAX_POINTS}.0) * (SUM(x) / {SAX_POINTS}.0))
               AS sd
      FROM head GROUP BY l_suppkey
    ), paa AS (
      SELECT l_suppkey, seg, SUM(x) / {SAX_POINTS // SAX_SEGS}.0 AS pm
      FROM head GROUP BY l_suppkey, seg
    ), sym AS (
      SELECT p.l_suppkey, p.seg,
             CASE WHEN st.sd > 0 THEN
               CASE WHEN (p.pm - st.mean) / st.sd < {SAX_BPS[0]} THEN 'a'
                    WHEN (p.pm - st.mean) / st.sd < {SAX_BPS[1]} THEN 'b'
                    WHEN (p.pm - st.mean) / st.sd < {SAX_BPS[2]} THEN 'c'
                    ELSE 'd' END
             END AS sym,
             st.mean, st.sd
      FROM paa p JOIN stats st USING (l_suppkey)
    )
    SELECT l_suppkey,
           string_agg(sym, '' ORDER BY seg) AS sax_word,
           ROUND(ANY_VALUE(mean), 4) AS mean,
           ROUND(ANY_VALUE(sd), 4) AS sd
    FROM sym GROUP BY l_suppkey ORDER BY l_suppkey
    """,
)
def d14_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of each supplier's first {POINTS}-event quantity
    series: z-normalize, piecewise-aggregate into {SEGS} segments, map
    each segment mean to a 4-letter alphabet at the N(0,1) quartile
    breakpoints (Lin et al.'s classic). The words feed motif discovery,
    cheap shape clustering, and symbolic anomaly flags — the
    dimensionality-reduction front end before any of those, reducing 64
    points to 8 characters with a distance lower bound.

    Scale shape (100 TB): ONE l_suppkey hash exchange serves the position
    window, the per-series stats aggregate, and the per-segment PAA
    aggregate (same key throughout — Catalyst reuses the exchange);
    per-series state is two scalars plus {SEGS} segment means, and the
    word assembly collects exactly {SEGS} rows per key. Alphabet lookup
    is a codegen'd CASE — no UDF, no collect."""
    li = catalog(spark, sf_dir).lineitem.where(F.col("l_suppkey") <= 50)
    w_pos = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    w_all = Window.partitionBy("l_suppkey")
    pts = SAX_POINTS // SAX_SEGS
    s = li.select(
        "l_suppkey",
        F.col("l_quantity").alias("x"),
        F.row_number().over(w_pos).alias("pos"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    head = s.where(
        (F.col("n") >= SAX_POINTS) & (F.col("pos") <= SAX_POINTS)
    ).select("l_suppkey", "x", F.expr(f"(pos - 1) div {pts}").alias("seg"))
    stats = head.groupBy("l_suppkey").agg(
        (F.sum("x") / F.lit(float(SAX_POINTS))).alias("mean"),
        F.sqrt(
            F.sum(F.col("x") * F.col("x")) / F.lit(float(SAX_POINTS))
            - (F.sum("x") / F.lit(float(SAX_POINTS)))
            * (F.sum("x") / F.lit(float(SAX_POINTS)))
        ).alias("sd"),
    )
    paa = head.groupBy("l_suppkey", "seg").agg(
        (F.sum("x") / F.lit(float(pts))).alias("pm")
    )
    z = (F.col("pm") - F.col("mean")) / F.col("sd")
    sym = paa.join(stats, "l_suppkey").select(
        "l_suppkey",
        "seg",
        F.when(
            F.col("sd") > 0,
            F.when(z < SAX_BPS[0], F.lit("a"))
            .when(z < SAX_BPS[1], F.lit("b"))
            .when(z < SAX_BPS[2], F.lit("c"))
            .otherwise(F.lit("d")),
        ).alias("sym"),
        "mean",
        "sd",
    )
    return (
        sym.groupBy("l_suppkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "sym"))),
                    lambda t: t["sym"],
                ),
                "",
            ).alias("word_raw"),
            F.first("sd").alias("sd_raw"),
            F.round(F.first("mean"), 4).alias("mean"),
            F.round(F.first("sd"), 4).alias("sd"),
        )
        # zero-variance series must yield a NULL word, matching the
        # oracle's string_agg over all-NULL syms — array_join silently
        # DROPS null elements, so without this gate Spark emits '' where
        # DuckDB emits NULL (sd == 0 is exact here: integer quantities
        # with power-of-two divisors make the moment arithmetic exact)
        .select(
            "l_suppkey",
            F.when(F.col("sd_raw") > 0, F.col("word_raw")).alias("sax_word"),
            "mean",
            "sd",
        )
        .orderBy("l_suppkey")
    )
