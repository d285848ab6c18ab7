"""Scalar function library probes: string / date / math / array / JSON.

SURVEY §2.2 D17-D21. The engine's scalar layer IS ``pyspark.sql.functions``
(JVM expressions inside WholeStageCodegen); these declared queries pin the
cross-engine semantics of each family against the DuckDB oracle.

Type-parity rules baked in (Spark <-> DuckDB):
- Spark ``length``/``size``/``datediff`` return INT, DuckDB BIGINT -> one
  side is CAST so both agree (we cast Spark up to BIGINT).
- float32 array elements are cast to DOUBLE before arithmetic so both
  engines accumulate in double (float32 accumulation differs at ~1e-5,
  which round(4) cannot hide).
- outputs are scalars only — no array/map/timestamp columns in oracle
  results, so value hashing is representation-independent.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.lineage import lineage_cut
from conceptnetwork_spark.registry import register


# --------------------------------------------------------------------------
# D17 — string functions
# --------------------------------------------------------------------------
@register(
    "d17_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                                   AS up,
           CAST(length(p_name) AS BIGINT)                  AS len,
           substr(p_name, 1, 4)                            AS pre,
           trim(concat('  ', p_name, '  '))                AS trimmed,
           lpad(p_brand, 12, '*')                          AS padded,
           regexp_extract(p_name, '([a-z]+)', 1)           AS first_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g')     AS devoweled,
           (p_name LIKE '%re%')                            AS has_re,
           string_split(p_name, ' ')[1]                    AS word0
    FROM part ORDER BY p_partkey
    """,
)
def d17_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: concat/substr/case/trim/pad/split/regex/like/length."""
    p = catalog(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.length("p_name").cast("long").alias("len"),
        F.substring("p_name", 1, 4).alias("pre"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        F.lpad("p_brand", 12, "*").alias("padded"),
        F.regexp_extract("p_name", r"([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").like("%re%").alias("has_re"),
        F.element_at(F.split("p_name", " "), 1).alias("word0"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# D18 — date/time functions
# --------------------------------------------------------------------------
@register(
    "d18_date_funcs",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m')                         AS month,
           COUNT(*)                                               AS n_orders,
           ROUND(SUM(o_totalprice), 4)                            AS revenue,
           CAST(MIN(year(o_orderdate)) AS BIGINT)                 AS min_year,
           CAST(MAX(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE))) AS BIGINT) AS max_days_since_95,
           CAST(MIN(month(o_orderdate)) AS BIGINT)                   AS min_month,
           CAST(MIN(epoch(o_orderdate)) AS BIGINT)                   AS min_epoch,
           strftime(MIN(CAST(o_orderdate AS DATE) + 7), '%Y-%m-%d')  AS min_plus7,
           strftime(MIN(date_trunc('day', o_orderdate)),
                    '%Y-%m-%d %H:%M:%S')                             AS first_day
    FROM orders
    GROUP BY strftime(o_orderdate, '%Y-%m')
    ORDER BY month
    """,
)
def d18_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family probed through a monthly roll-up: date_format/year/
    datediff/to_date/month/unix_timestamp/date_add/date_trunc (truncated
    times surfaced as formatted strings so types stay scalar)."""
    o = catalog(spark, sf_dir).orders
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.min(F.year("o_orderdate")).cast("long").alias("min_year"),
            F.max(
                F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
            )
            .cast("long")
            .alias("max_days_since_95"),
            F.min(F.month("o_orderdate")).cast("long").alias("min_month"),
            F.min(F.unix_timestamp("o_orderdate")).cast("long").alias("min_epoch"),
            F.date_format(F.min(F.date_add("o_orderdate", 7)), "yyyy-MM-dd").alias(
                "min_plus7"
            ),
            F.date_format(
                F.min(F.date_trunc("day", "o_orderdate")), "yyyy-MM-dd HH:mm:ss"
            ).alias("first_day"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# D19 — math functions
# --------------------------------------------------------------------------
@register(
    "d19_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 2)                         AS r2,
           CAST(floor(l_extendedprice) AS BIGINT)            AS flr,
           CAST(ceil(l_extendedprice) AS BIGINT)             AS cei,
           ROUND(abs(l_extendedprice - 30000.0), 4)          AS absdev,
           ROUND(pow(l_quantity, 2), 4)                      AS qty_sq,
           ROUND(sqrt(l_extendedprice), 4)                   AS sqrt_p,
           ROUND(exp(l_discount), 4)                         AS exp_d,
           ROUND(ln(l_extendedprice), 4)                     AS ln_p,
           CAST(mod(CAST(l_orderkey AS BIGINT), 7) AS BIGINT) AS m7,
           ROUND(sign(l_extendedprice - 30000.0), 1)         AS sgn
    FROM lineitem
    WHERE l_orderkey <= 1000
    ORDER BY l_orderkey, l_linenumber
    """,
)
def d19_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: round/floor/ceil/abs/pow/sqrt/exp/ln/mod/sign.
    mod on a non-negative key == pmod; exp over the small discount column
    keeps magnitudes hashable at 4 decimals."""
    li = catalog(spark, sf_dir).lineitem
    return (
        li.where(F.col("l_orderkey") <= 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("r2"),
            F.floor("l_extendedprice").cast("long").alias("flr"),
            F.ceil("l_extendedprice").cast("long").alias("cei"),
            F.round(F.abs(F.col("l_extendedprice") - 30000.0), 4).alias("absdev"),
            F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
            F.round(F.sqrt("l_extendedprice"), 4).alias("sqrt_p"),
            F.round(F.exp("l_discount"), 4).alias("exp_d"),
            F.round(F.log("l_extendedprice"), 4).alias("ln_p"),
            F.pmod(F.col("l_orderkey").cast("long"), F.lit(7)).cast("long").alias("m7"),
            F.round(F.signum(F.col("l_extendedprice") - 30000.0), 1).alias("sgn"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# D20 — array functions (incl. higher-order)
# --------------------------------------------------------------------------
@register(
    "d20_array_funcs",
    oracle="""
    -- + 0.0 after every ROUND of a possibly-negative double normalizes
    -- IEEE -0.0 (DuckDB ROUND keeps the sign, Spark's BigDecimal round
    -- cannot; the driver's stringified hash sees "-0.0" != "0.0")
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT)                                  AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 4) + 0.0                    AS e0,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE))), 4) + 0.0                        AS vec_sum,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4)         AS l2_norm,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT)         AS n_pos,
           ROUND(CAST(list_min(embedding) AS DOUBLE), 4) + 0.0             AS e_min,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 4) + 0.0             AS e_max,
           ROUND(CAST(list_sort(embedding)[2] AS DOUBLE), 4) + 0.0         AS second_min,
           CAST(len(list_distinct(embedding)) AS BIGINT)                   AS n_distinct,
           list_contains(embedding, embedding[1])                          AS has_first,
           ROUND(list_sum(list_transform(embedding[1:3],
                 x -> CAST(x AS DOUBLE))), 4) + 0.0                        AS head3_sum
    FROM embeddings ORDER BY vec_id
    """,
)
def d20_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over embeddings: size/element_at/sort_array/slice/
    array_contains/array_distinct/higher-order transform+filter+aggregate/
    array_min/array_max — all JVM-side, no UDFs."""
    e = catalog(spark, sf_dir).embeddings
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    head3 = F.transform(F.slice("embedding", 1, 3), lambda x: x.cast("double"))
    # + 0.0 on every possibly-negative rounded double mirrors the
    # oracle's IEEE negative-zero normalization (r11 rolling_corr class)
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        (F.round(F.element_at("embedding", 1).cast("double"), 4) + F.lit(0.0))
        .alias("e0"),
        (F.round(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x), 4)
         + F.lit(0.0)).alias("vec_sum"),
        F.round(
            F.sqrt(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("l2_norm"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
        (F.round(F.array_min("embedding").cast("double"), 4) + F.lit(0.0))
        .alias("e_min"),
        (F.round(F.array_max("embedding").cast("double"), 4) + F.lit(0.0))
        .alias("e_max"),
        (F.round(
            F.element_at(F.sort_array("embedding"), 2).cast("double"), 4
        ) + F.lit(0.0)).alias("second_min"),
        F.size(F.array_distinct("embedding")).cast("long").alias("n_distinct"),
        F.array_contains("embedding", F.element_at("embedding", 1)).alias(
            "has_first"
        ),
        (F.round(F.aggregate(head3, F.lit(0.0), lambda a, x: a + x), 4)
         + F.lit(0.0)).alias("head3_sum"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# D21 — JSON functions
# --------------------------------------------------------------------------
@register(
    "d21_json_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           (CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 = 0) AS k_mod10,
           json_extract_string(props, '$.k')                 AS k_str,
           to_json(struct_pack(id := event_id))              AS j,
           map(['et','id'], [event_type, CAST(event_id AS VARCHAR)])['et'][1] AS et,
           array_to_string(map_keys(
             map(['et','id'], [event_type, CAST(event_id AS VARCHAR)])), ',') AS ks
    FROM events ORDER BY event_id
    """,
)
def d21_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON + map families: get_json_object / from_json / json_tuple /
    to_json / create_map / map_keys over the events.props payload; scalar
    outputs only (map values extracted, keys joined to a string)."""
    ev = catalog(spark, sf_dir).events
    parsed = F.from_json("props", "k BIGINT")
    m = F.create_map(
        F.lit("et"), F.col("event_type"), F.lit("id"), F.col("event_id").cast("string")
    )
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        (parsed.getField("k") % 10 == 0).alias("k_mod10"),
        F.json_tuple(F.col("props"), "k").alias("k_str"),
        F.to_json(F.struct(F.col("event_id").alias("id"))).alias("j"),
        F.element_at(m, "et").alias("et"),
        F.array_join(F.map_keys(m), ",").alias("ks"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# D20 extension — element-wise vector aggregation (per-label centroid)
# --------------------------------------------------------------------------
@register(
    "d20_embedding_centroid",
    oracle="""
    SELECT label, pos, ROUND(AVG(embedding[pos]), 4) AS mean_val
    FROM embeddings, (SELECT UNNEST(range(1, 9)) AS pos)
    GROUP BY label, pos ORDER BY label, pos
    """,
)
def d20_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors (first 8 dims), in long
    (label, pos, mean) form — element-wise vector aggregation, the core of
    IVF coarse-quantizer training and embedding-drift monitoring. Long form
    via posexplode keeps the aggregate a plain partial+final hash agg on
    (label, pos): at 100 TB this shuffles only (label, pos, partial-sum)
    triples, never whole vectors, and needs no collect_list re-assembly.
    1-based pos matches SQL ordinality."""
    e = catalog(spark, sf_dir).embeddings
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .select("label", (F.col("pos0") + 1).alias("pos"), "val")
        .where(F.col("pos") <= 8)
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 4).alias("mean_val"))
        .orderBy("label", "pos")
    )


# --------------------------------------------------------------------------
# D20 extension — zip_with pairwise combine (element-wise vector algebra)
# --------------------------------------------------------------------------
@register(
    "d20_zip_with_dot",
    oracle="""
    SELECT vec_id,
           ROUND(SUM(CAST(embedding[pos] AS DOUBLE)
                     * CAST(embedding[65 - pos] AS DOUBLE)), 4) AS rdot
    FROM embeddings, (SELECT UNNEST(range(1, 65)) AS pos)
    GROUP BY vec_id ORDER BY vec_id
    """,
)
def d20_zip_with_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``zip_with`` + ``reverse`` + ``aggregate`` in one JVM-side expression:
    the dot product of each embedding with its own reversal. This is the
    element-wise-combine primitive behind vector math without UDFs — the
    whole computation stays in whole-stage codegen, zero Python crossings,
    zero shuffles before the presentation sort. Floats are widened to double
    inside the lambda so both engines run identical arithmetic."""
    e = catalog(spark, sf_dir).embeddings
    pairwise = F.zip_with(
        "embedding",
        F.reverse(F.col("embedding")),
        lambda a, b: a.cast("double") * b.cast("double"),
    )
    rdot = F.aggregate(pairwise, F.lit(0.0), lambda acc, x: acc + x)
    return e.select("vec_id", F.round(rdot, 4).alias("rdot")).orderBy("vec_id")


# --------------------------------------------------------------------------
# D21 extension — Spark 4 VariantType semi-structured path
# --------------------------------------------------------------------------
@register(
    "d21_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT)      AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) * 2  AS k2,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS miss
    FROM events ORDER BY event_id
    """,
)
def d21_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 VariantType: ``parse_json`` once into a variant, then typed
    ``variant_get`` path extraction (including a missing path -> NULL, the
    open-schema contract). Variant is the engine's semi-structured scale
    path — binary-encoded, parsed once, shredded on access — vs re-parsing
    the JSON string per extraction in d21_json_funcs."""
    ev = catalog(spark, sf_dir).events
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        (F.variant_get(v, "$.k", "bigint") * 2).alias("k2"),
        F.variant_get(v, "$.missing", "bigint").alias("miss"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# D21 extension — higher-order MAP functions (map_from_entries /
# map_filter / transform_values / explode over a map column)
# --------------------------------------------------------------------------
@register(
    "d21_map_funcs",
    oracle="""
    WITH cnt AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events WHERE user_id < 40 GROUP BY 1, 2
    ), tot AS (
      SELECT user_id, event_type, n,
             SUM(n) OVER (PARTITION BY user_id) AS total
      FROM cnt
    )
    SELECT user_id, event_type, ROUND(n / CAST(total AS DOUBLE), 4) AS share
    FROM tot WHERE n >= 2
    ORDER BY user_id, event_type
    """,
)
def d21_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order MAP pipeline: per-user event-type counts built into a
    real MapType column (``map_from_entries`` over collected structs),
    pruned with ``map_filter`` (count >= 2), re-valued with
    ``transform_values`` (count -> share of the user's total via
    ``aggregate`` over ``map_values``), then ``explode``d back to rows.
    The oracle computes the same result relationally — the MAP layer is
    the Spark surface under test, the shares are the checkable payload.

    Scale shape: one shuffle to (user, type) counts, one to per-user
    maps (both partial-agg'd); every map operation is a codegen
    expression on an in-row structure — maps are how per-entity sparse
    feature bundles travel through a 100 TB pipeline without exploding
    row counts between stages."""
    e = catalog(spark, sf_dir).events.where(F.col("user_id") < 40)
    cnt = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    maps = cnt.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    total = F.aggregate(
        F.map_values("m"), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    shared = maps.select(
        "user_id",
        F.transform_values(
            F.map_filter("m", lambda k, v: v >= 2),
            lambda k, v: F.round(v / total.cast("double"), 4),
        ).alias("m"),
    )
    return (
        shared.select("user_id", F.explode("m").alias("event_type", "share"))
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# D17 extension (round 5) — COLLATION-AWARE grouping (Spark 4 collations)
# --------------------------------------------------------------------------
@register(
    "d17_collation",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN p_partkey % 2 = 1 THEN upper(w) ELSE w END AS word
      FROM (SELECT p_partkey, string_split(p_name, ' ')[1] AS w FROM part)
    )
    SELECT lower(word) AS word_lc,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN word = upper(word) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_upper
    FROM g GROUP BY lower(word) ORDER BY word_lc
    """,
)
def d17_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 COLLATION support: build a deterministically mixed-case word
    column (odd part keys uppercased), then group by the column COLLATED as
    UTF8_LCASE — equal-ignoring-case keys land in one group WITHOUT
    rewriting the data, the collation participates in the hash/shuffle key
    itself (visible as StringType('UTF8_LCASE') in the schema). The group
    representative under a collation is an arbitrary-case member, so the
    output key is canonicalized with lower() for the hash; the oracle
    reaches the same grouping via lower() — equivalent on this ASCII
    corpus, which is exactly the claim under test.

    Scale shape: one partial+final hash aggregate; collation only changes
    the grouping key's equality/hash semantics, not the plan."""
    p = catalog(spark, sf_dir).part
    w = F.split(F.col("p_name"), " ").getItem(0)
    mixed = F.when(F.col("p_partkey") % 2 == 1, F.upper(w)).otherwise(w)
    g = p.select(mixed.alias("word"))
    return (
        g.groupBy(F.collate(F.col("word"), "UTF8_LCASE").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("word") == F.upper(F.col("word")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_upper"),
        )
        .select(F.lower(F.col("k")).alias("word_lc"), "n", "n_upper")
        .orderBy("word_lc")
    )


# --------------------------------------------------------------------------
# D21 extension (round 6) — XML codec round-trip (to_xml/from_xml, the
# Spark-4 built-in XML support; DuckDB has no XML so the oracle pins the
# round-trip IDENTITY on the base relation, the TFRecord-codec pattern)
# --------------------------------------------------------------------------
@register(
    "d21_xml_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           ROUND(o_totalprice, 4) AS totalprice
    FROM orders WHERE o_orderkey < 2000
    ORDER BY o_orderkey
    """,
)
def d21_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize each order to an XML document (``to_xml``) and parse it
    back (``from_xml``) with an explicit row schema — the semi-structured
    codec surface Spark 4 ships natively (the spark-xml package folded
    in). The oracle is the identity on the base relation, so element
    encoding, escaping, numeric round-trip and schema projection are all
    on the hash; a lossy codec (truncated double, swallowed status char)
    diverges immediately. Both directions are JVM expressions inside
    whole-stage codegen — no Python crossing.

    Scale shape: map-only (one row in, one row out), the same per-row
    codec cost profile as the TFRecord Example round-trip in
    sources/tfrecord.py; the bounded key filter is pushed to the scan."""
    o = catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 2000)
    xml = o.select(
        F.to_xml(
            F.struct("o_orderkey", "o_orderstatus", "o_totalprice")
        ).alias("doc")
    )
    parsed = xml.select(
        F.from_xml(
            "doc", "o_orderkey long, o_orderstatus string, o_totalprice double"
        ).alias("r")
    )
    return parsed.select(
        F.col("r.o_orderkey").alias("o_orderkey"),
        F.col("r.o_orderstatus").alias("o_orderstatus"),
        F.round("r.o_totalprice", 4).alias("totalprice"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# D20 (cont.) — sparse-vector dot via map ops / D17 (cont.) — phonetic
# soundex certification   [round-6 wave 3]
# --------------------------------------------------------------------------
SPARSE_TAU = 0.5  # |x| > tau -> the entry survives sparsification


@register(
    "d20_sparse_dot",
    oracle=f"""
    SELECT vec_id,
           CAST(SUM(CASE WHEN ABS(CAST(embedding[pos] AS DOUBLE)) > {SPARSE_TAU}
                         THEN 1 ELSE 0 END) AS INTEGER) AS nnz,
           ROUND(COALESCE(SUM(CASE
             WHEN ABS(CAST(embedding[pos] AS DOUBLE)) > {SPARSE_TAU}
              AND ABS(CAST(embedding[65 - pos] AS DOUBLE)) > {SPARSE_TAU}
             THEN CAST(embedding[pos] AS DOUBLE)
                  * CAST(embedding[65 - pos] AS DOUBLE) END), 0.0), 4) AS sdot
    FROM embeddings, (SELECT UNNEST(range(1, 65)) AS pos)
    GROUP BY vec_id ORDER BY vec_id
    """,
)
def d20_sparse_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector algebra with MAP columns, zero UDFs: each embedding is
    sparsified to a map<pos,double> of entries with |x| > tau, and the dot
    with its reversal's sparse form runs as ``map_zip_with`` (union of
    keys, missing -> 0) + ``aggregate`` over map_values — the
    sparse-embedding primitive (SPLADE-style retrieval) expressed entirely
    in JVM map functions. The oracle recomputes the same dot positionally,
    certifying the map round-trip.

    Scale shape (100 TB): map-only — build, zip, reduce all inside
    whole-stage-adjacent expression eval on the scan; the only exchange is
    the presentation sort. nnz certifies the sparsification mask itself,
    so a threshold drift can't hide inside a near-zero dot."""
    e = catalog(spark, sf_dir).embeddings
    seq = F.sequence(F.lit(1), F.lit(64))

    def sparse_map(vec):
        entries = F.filter(
            F.transform(
                seq,
                lambda i: F.struct(
                    i.alias("k"),
                    F.element_at(vec, i).cast("double").alias("v"),
                ),
            ),
            lambda s: F.abs(s["v"]) > SPARSE_TAU,
        )
        return F.map_from_entries(entries)

    ma = sparse_map(F.col("embedding"))
    mb = sparse_map(F.reverse(F.col("embedding")))
    # reversal: position p of reverse(v) holds v[65-p], matching the oracle
    inter = F.map_zip_with(
        ma,
        mb,
        lambda k, x, y: F.coalesce(x, F.lit(0.0)) * F.coalesce(y, F.lit(0.0)),
    )
    sdot = F.aggregate(F.map_values(inter), F.lit(0.0), lambda acc, x: acc + x)
    return e.select(
        "vec_id",
        F.size(F.map_keys(ma)).alias("nnz"),
        F.round(sdot, 4).alias("sdot"),
    ).orderBy("vec_id")


@register(
    "d17_soundex",
    oracle=r"""
    WITH w AS (
      SELECT DISTINCT UPPER(string_split(p_name, ' ')[1]) AS word FROM part
    ), coded AS (
      SELECT word,
             -- RE2 has no backreferences: collapse each digit run explicitly
             regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(
               translate(translate(translate(word, 'HW', ''),
                         'BFPVCGJKQSXZDTLMNR', '111122222222334556'),
                         'AEIOUY', '......'),
               '1{2,}', '1', 'g'), '2{2,}', '2', 'g'), '3{2,}', '3', 'g'),
               '4{2,}', '4', 'g'), '5{2,}', '5', 'g'), '6{2,}', '6', 'g')
               AS collapsed
      FROM w
    ), tail AS (
      SELECT word,
             CASE WHEN substr(word, 1, 1) NOT IN
                       ('A','E','I','O','U','Y','H','W')
                  THEN substr(collapsed, 2) ELSE collapsed END AS t
      FROM coded
    )
    SELECT word,
           substr(word, 1, 1) || substr(translate(t, '.', '') || '000', 1, 3)
             AS sdx
    FROM tail ORDER BY word
    """,
)
def d17_soundex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic normalization: Spark's BUILT-IN ``soundex`` on the distinct
    first words of part names, certified against an oracle that implements
    the published American Soundex algorithm from scratch (NARA rules:
    consonant classes 1-6, H/W transparent to adjacency, vowels break
    runs, first letter literal, zero-padded to 4). A hash match means the
    engine's phonetic blocker follows the published spec on this corpus —
    the precondition for using soundex as a fuzzy-join blocking key
    (d29's LSH families, but for names).

    Scale shape (100 TB): distinct over a bounded word universe then
    map-only codegen string ops; as a blocking key this feeds an equi-join
    on sdx, never an all-pairs comparison."""
    p = catalog(spark, sf_dir).part
    w = p.select(
        F.upper(F.split(F.col("p_name"), " ").getItem(0)).alias("word")
    ).distinct()
    return w.select("word", F.soundex("word").alias("sdx")).orderBy("word")


# --------------------------------------------------------------------------
# D18 (cont.) — calendar interval arithmetic battery   [round-6 wave 3]
# --------------------------------------------------------------------------
@register(
    "d18_interval_arith",
    oracle="""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')           AS d,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH,
                    '%Y-%m-%d')                                      AS plus_1m,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
           strftime(date_trunc('quarter', CAST(o_orderdate AS DATE)),
                    '%Y-%m-%d')                                      AS qtr_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          DATE '2025-01-01') AS INTEGER)             AS days_to_2025
    FROM orders WHERE o_orderkey < 1200
    ORDER BY o_orderkey
    """,
)
def d18_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval arithmetic battery: month addition (with the
    month-end clamp — Jan 31 + 1 month = Feb 28 in BOTH engines'
    Postgres-style calendars), end-of-month, quarter truncation, and day
    distance to a fixed horizon. Dates leave as strings per the house
    rule (Spark DATE -> pandas date vs DuckDB DATE -> Timestamp would
    hash-mismatch). Everything is map-only codegen on the scan; the key
    filter is pushed down."""
    o = catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 1200)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("d"),
        F.date_format(F.add_months(d, 1), "yyyy-MM-dd").alias("plus_1m"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("eom"),
        F.date_format(F.date_trunc("quarter", d), "yyyy-MM-dd").alias(
            "qtr_start"
        ),
        F.datediff(F.lit("2025-01-01").cast("date"), d)
        .cast("int")
        .alias("days_to_2025"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# D19 — bitwise aggregate + scalar battery (round 6, wave 6)
# --------------------------------------------------------------------------
@register(
    "d19_bitwise",
    oracle="""
    SELECT event_type,
           CAST(bit_and(event_id) AS BIGINT) AS b_and,
           CAST(bit_or(event_id) AS BIGINT) AS b_or,
           CAST(bit_xor(event_id) AS BIGINT) AS b_xor,
           CAST(SUM(bit_count(event_id)) AS BIGINT) AS pop_bits,
           CAST(SUM(CASE WHEN (event_id & 8) != 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS bit3_set
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def d19_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate battery per event type: BIT_AND / BIT_OR /
    BIT_XOR reductions over the id space, total popcount, and a
    mask-test count (bit 3 set). These are the primitives under
    bitmap-index semantics and the d30_hamming_topk sign-bit packing —
    certifying them as exact integer aggregates pins the two engines'
    64-bit two's-complement behavior against each other.

    Scale shape (100 TB): bitwise AND/OR/XOR and popcount-sum are all
    commutative-associative integer reductions — perfect partial
    aggregation, #types result rows, one scan, one tiny shuffle. All
    arithmetic is exact; no rounding anywhere."""
    e = catalog(spark, sf_dir).events
    return (
        e.groupBy("event_type")
        .agg(
            F.bit_and("event_id").alias("b_and"),
            F.bit_or("event_id").alias("b_or"),
            F.bit_xor("event_id").alias("b_xor"),
            F.sum(F.bit_count("event_id")).alias("pop_bits"),
            F.sum(
                F.when(F.col("event_id").bitwiseAND(8) != 0, 1).otherwise(0)
            ).alias("bit3_set"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# D17 — regular-expression battery (Java regex vs RE2 common subset)
# --------------------------------------------------------------------------
@register(
    "d17_regexp_battery",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+')))
                AS BIGINT) AS total_words,
           CAST(SUM(len(regexp_extract_all(text, '\\b[A-Z][a-z]+')))
                AS BIGINT) AS total_caps,
           CAST(SUM(CASE WHEN regexp_matches(text, '[0-9]{2,}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_num,
           CAST(SUM(length(regexp_replace(text, '[0-9]', '', 'g')))
                AS BIGINT) AS len_no_digits
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
)
def d17_regexp_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp battery over the corpus, aggregated per (lang, source):
    token-run extraction counts, capitalized-word counts (\\b word
    boundary), multi-digit presence test, and global digit-strip length.
    Deliberately restricted to the Java-regex / RE2 COMMON subset — no
    backreferences, no lookaround — so the same pattern text means the
    same thing in both engines (DuckDB is RE2; see the d31_repetition
    note on RE2's silent backreference failure). Two parity traps pinned:
    DuckDB regexp_replace needs the explicit 'g' flag to match Spark's
    replace-ALL default, and patterns stay out of `F.expr` strings so
    Spark SQL's escape handling can never eat a backslash.

    Scale shape (100 TB): all four regexps are map-side scalar
    expressions fused into the scan project; the only shuffle is the
    final (lang, source) partial+final aggregate to ~tens of rows."""
    d = catalog(spark, sf_dir).documents
    # Spark's idx defaults to group 1; DuckDB's to 0 (whole match) — pin 0
    words = F.size(F.regexp_extract_all("text", F.lit("[A-Za-z]+"), 0))
    caps = F.size(F.regexp_extract_all("text", F.lit(r"\b[A-Z][a-z]+"), 0))
    has_num = F.regexp_like("text", F.lit("[0-9]{2,}"))
    no_dig = F.length(F.regexp_replace("text", "[0-9]", ""))
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(words.cast("long")).alias("total_words"),
            F.sum(caps.cast("long")).alias("total_caps"),
            F.sum(F.when(has_num, 1).otherwise(0)).alias("docs_with_num"),
            F.sum(no_dig.cast("long")).alias("len_no_digits"),
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------------------------------------
# D18 — named-timezone conversion battery (IANA zone database parity)
# --------------------------------------------------------------------------
@register(
    "d18_timezone",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M') AS utc_ts,
           strftime(timezone('America/New_York', timezone('UTC', o_orderdate)),
                    '%Y-%m-%d %H:%M') AS ny,
           strftime(timezone('Asia/Kolkata', timezone('UTC', o_orderdate)),
                    '%Y-%m-%d %H:%M') AS kolkata,
           strftime(timezone('Australia/Sydney', timezone('UTC', o_orderdate)),
                    '%Y-%m-%d %H:%M') AS sydney,
           CAST(date_part('hour',
                timezone('America/New_York', timezone('UTC', o_orderdate)))
                AS INT) AS ny_hour
    FROM orders WHERE o_orderkey < 400 ORDER BY o_orderkey
    """,
)
def d18_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-IANA-timezone conversion battery: the same UTC instants
    rendered in a DST zone (America/New_York — offset flips -4/-5 across
    the spring/fall transitions present in the multi-year order span), a
    half-hour-offset zone (Asia/Kolkata +5:30), and a southern-hemisphere
    DST zone (Australia/Sydney — transitions in the OPPOSITE months).
    Both engines resolve against the IANA tz database (Java zoneinfo vs
    ICU); hash-matching the rendered local times certifies rule-for-rule
    agreement over the 1995-2001 span. Session-timezone-independent by
    construction: the source instant is explicitly pinned as UTC on both
    sides (convert_timezone('UTC', ...) / timezone('UTC', ts)), never
    interpreted in a session zone.

    Scale shape (100 TB): pure map-side codegen'd expressions fused into
    the scan project; the o_orderkey filter pushes down to the scan."""
    o = catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 400)
    utc = F.lit("UTC")

    def local(zone: str):
        return F.convert_timezone(utc, F.lit(zone), "o_orderdate")

    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm").alias("utc_ts"),
        F.date_format(local("America/New_York"), "yyyy-MM-dd HH:mm").alias(
            "ny"
        ),
        F.date_format(local("Asia/Kolkata"), "yyyy-MM-dd HH:mm").alias(
            "kolkata"
        ),
        F.date_format(local("Australia/Sydney"), "yyyy-MM-dd HH:mm").alias(
            "sydney"
        ),
        F.hour(local("America/New_York")).cast("int").alias("ny_hour"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# D20 — label-centroid cosine matrix (round 6, wave 6): vector aggregate
# + pairwise similarity entirely in relational long form
# --------------------------------------------------------------------------
@register(
    "d20_centroid_cosine",
    oracle="""
    WITH cent AS (
      SELECT label, pos, AVG(embedding[pos]) AS m
      FROM embeddings, (SELECT UNNEST(range(1, 65)) AS pos)
      GROUP BY label, pos
    ), nrm AS (
      SELECT label, sqrt(SUM(m * m)) AS nn FROM cent GROUP BY label
    ), dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM(a.m * b.m) AS dot
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT CAST(label_a AS INT) AS label_a, CAST(label_b AS INT) AS label_b,
           ROUND(dot / (na.nn * nb.nn), 4) AS cos
    FROM dots JOIN nrm na ON na.label = dots.label_a
              JOIN nrm nb ON nb.label = dots.label_b
    ORDER BY label_a, label_b
    """,
)
def d20_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding CENTROIDS —
    the class-confusability matrix an embedding-quality audit reads
    (near-1 off-diagonals predict classifier confusion; it is also the
    cheap proxy for whether IVF cells will separate, see d30_ivf_ann).
    Everything stays in relational long form: centroids are a (label,
    pos) hash aggregate over posexploded components (the
    d20_embedding_centroid shape, full 64 dims), norms a re-aggregate,
    and the dot products a pos-equi-join over label pairs — no vector
    UDF, no collect, every step a partial+final aggregate.

    Scale shape (100 TB): the big table is touched once by the centroid
    aggregate, which shuffles (label, pos, partial-sum) triples — never
    whole vectors; norms, the #labels² pair join (bounded by the label
    alphabet, both sides ~64*#labels rows), and the cosine arithmetic
    run on centroid-sized relations."""
    e = catalog(spark, sf_dir).embeddings
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .select("label", (F.col("pos0") + 1).alias("pos"), "v")
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("m"))
        # lazy lineage cut on the |labels|x64-row centroid table: the norm
        # aggregate and both pair-join sides consume it — uncut, the
        # corpus posexplode + aggregate ran three times
        .transform(lineage_cut)
    )
    nrm = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("nn")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("pos").alias("pos_b"),
        F.col("m").alias("mb"),
    )
    dots = (
        a.join(
            b,
            (F.col("pos") == F.col("pos_b"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ma") * F.col("mb")).alias("dot"))
    )
    na = nrm.select(F.col("label").alias("label_a"), F.col("nn").alias("na"))
    nb = nrm.select(F.col("label").alias("label_b"), F.col("nn").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            F.col("label_a").cast("int").alias("label_a"),
            F.col("label_b").cast("int").alias("label_b"),
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias(
                "cos"
            ),
        )
        .orderBy("label_a", "label_b")
    )


# --------------------------------------------------------------------------
# D10 — Shannon-entropy profiling (round 6, wave 6)
# --------------------------------------------------------------------------
@register(
    "d10_entropy_profile",
    oracle="""
    WITH c AS (
      SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2
    ), t AS (
      SELECT source, n, SUM(n) OVER (PARTITION BY source) AS tot,
             COUNT(*) OVER (PARTITION BY source) AS k
      FROM c
    )
    SELECT source,
           CAST(MAX(k) AS BIGINT) AS n_langs,
           CAST(MAX(tot) AS BIGINT) AS n_docs,
           ROUND(-SUM((CAST(n AS DOUBLE) / tot)
                      * ln(CAST(n AS DOUBLE) / tot)), 4) AS entropy,
           ROUND(CASE WHEN MAX(k) = 1 THEN 0.0
                 ELSE -SUM((CAST(n AS DOUBLE) / tot)
                           * ln(CAST(n AS DOUBLE) / tot)) / ln(MAX(k))
                 END, 4) AS norm_entropy
    FROM t GROUP BY source ORDER BY source
    """,
)
def d10_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language mix per source, raw and normalized
    by ln(#langs) — the diversity gauge a corpus audit reads next to
    d10_psi_drift (PSI says the mix MOVED; entropy says how concentrated
    it is — a crawl source collapsing to one language shows norm_entropy
    falling toward 0 before any drift gate fires). Probabilities are
    exact-int ratios, so each ln term is bit-identical across engines;
    the single-language edge case (ln(1) division) pins to 0 on both
    sides.

    Scale shape (100 TB): one partial+final aggregate to (source, lang)
    counts; the entropy sum runs over that tiny grid under a per-source
    window. One scan, one shuffle."""
    d = catalog(spark, sf_dir).documents
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source")
    t = c.select(
        "source",
        "n",
        F.sum("n").over(w).alias("tot"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    p = F.col("n").cast("double") / F.col("tot")
    ent = -F.sum(p * F.log(p))
    return (
        t.groupBy("source")
        .agg(
            F.max("k").alias("n_langs"),
            F.max("tot").alias("n_docs"),
            F.round(ent, 4).alias("entropy"),
            F.round(
                F.when(F.max("k") == 1, F.lit(0.0)).otherwise(
                    ent / F.log(F.max("k").cast("double"))
                ),
                4,
            ).alias("norm_entropy"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# D17 extension (round 7) — Jaro-Winkler similarity (from scratch; Spark has
# levenshtein but no Jaro family, so this is the declared Pandas-UDF slot)
# --------------------------------------------------------------------------
def _jaro_winkler_py(s1: str, s2: str) -> float:
    """Classic Jaro-Winkler: Jaro with match window floor(max_len/2)-1 and
    half-transposition counting, Winkler prefix boost (p=0.1, prefix<=4)
    applied only when jaro > 0.7 — the boost-threshold variant DuckDB's
    jaro_winkler_similarity implements (verified on the canonical
    martha/marhta=0.9611 and dixon/dicksonx=0.8133 vectors and on
    sub-threshold pairs, where DuckDB returns the raw Jaro)."""
    if not s1 or not s2:
        return 0.0  # DuckDB scores ANY empty side 0, including ('','')
    if s1 == s2:
        return 1.0
    md = max(len(s1), len(s2)) // 2 - 1
    m1 = [False] * len(s1)
    m2 = [False] * len(s2)
    m = 0
    for i, ch in enumerate(s1):
        for j in range(max(0, i - md), min(len(s2), i + md + 1)):
            if not m2[j] and s2[j] == ch:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len(s1)):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (m / len(s1) + m / len(s2) + (m - t) / m) / 3
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1 - jaro)


@register(
    "d17_jaro_winkler",
    oracle="""
    WITH w AS (
      SELECT DISTINCT p_name AS word FROM part
    )
    SELECT a.word AS word_a, b.word AS word_b,
           ROUND(jaro_winkler_similarity(a.word, b.word), 4) AS jw
    FROM w a JOIN w b
      ON substr(a.word, 1, 1) = substr(b.word, 1, 1) AND a.word < b.word
    WHERE jaro_winkler_similarity(a.word, b.word) >= 0.8
    ORDER BY word_a, word_b
    """,
)
def d17_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler fuzzy matching over the part-name vocabulary: distinct
    first words, first-letter blocking (the family's standard cheap
    block — JW weights prefixes, so cross-initial pairs score low),
    pairs scored >= 0.8 survive. Spark has no Jaro-family builtin, so the
    scorer is an Arrow-batched pandas UDF over candidate pairs ONLY —
    the declared slow-path slot (SURVEY D22 ladder), never applied
    all-pairs. Certified byte-for-byte against DuckDB's independent
    jaro_winkler_similarity implementation.

    Scale shape (100 TB): the vocabulary (distinct words, not rows)
    feeds a first-letter equi-join whose fanout is per-letter vocabulary
    mass; the Python stage sees candidate pairs only. The same
    block-then-verify shape as d29_fuzzy_join (Levenshtein), one family
    over."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [_jaro_winkler_py(x, y) for x, y in zip(a, b)], dtype="float64"
        )

    w = catalog(spark, sf_dir).part.select(F.col("p_name").alias("word")).distinct()
    a = w.select(F.col("word").alias("word_a"))
    b = w.select(F.col("word").alias("word_b"))
    return (
        a.join(
            b,
            (F.substring("word_a", 1, 1) == F.substring("word_b", 1, 1))
            & (F.col("word_a") < F.col("word_b")),
        )
        .withColumn("jw_raw", jw_udf("word_a", "word_b"))
        .where(F.col("jw_raw") >= 0.8)
        .select("word_a", "word_b", F.round("jw_raw", 4).alias("jw"))
        .orderBy("word_a", "word_b")
    )
