"""Python UDF surface: pandas scalar UDF, grouped-map, UDTF-shaped one→many.

SURVEY §2.2 D22-D24, faithful to the reference's three Python-code-per-record
shapes: ``beam.Map(network.preprocess)`` scalar encode (P2,
``examples/trainer/networks/preprocess.py:57-58``), per-concept
feature_engineering (P9/P10, ``conceptnetwork/concept.py:48-51``), and
``beam.FlatMap(parse_example)`` one→many (P1, ``preprocess.py:54-55``).

Engine stance: UDFs are the *slow path* — every crossing here is
Arrow-batched (pandas_udf / applyInPandas / mapInPandas), never row-at-a-time
Python. Rounding happens JVM-side AFTER the UDF so Spark's HALF_UP matches
the oracle (pandas .round is banker's rounding — a real cross-engine trap).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, IntegerType

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.registry import register


# --------------------------------------------------------------------------
# D22 — pandas scalar UDF (must hash-match the relational D2 form)
# --------------------------------------------------------------------------
@pandas_udf(IntegerType())
def _first_char_class(names: pd.Series) -> pd.Series:
    """Vectorized re-expression of D2's CASE: 'c'-initial -> 0 else 1."""
    return (names.str.slice(0, 1).str.lower() != "c").astype("int32")


@register(
    "d22_pandas_udf",
    oracle="""
    SELECT c_custkey,
           CASE WHEN lower(substr(c_name, 1, 1)) = 'c' THEN 0 ELSE 1 END AS g
    FROM customer ORDER BY c_custkey
    """,
)
def d22_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as d02_case_parse but through an Arrow-batched pandas
    UDF — pins the UDF data path (types, nulls, batching) to the relational
    answer."""
    c = catalog(spark, sf_dir).customer
    return c.select(
        "c_custkey", _first_char_class(F.col("c_name")).alias("g")
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# D23 — grouped-map (applyInPandas) / UDAF surface
# --------------------------------------------------------------------------
def _mean_center(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf["centered_raw"] = pdf["l_quantity"] - pdf["l_quantity"].mean()
    return pdf[["l_orderkey", "l_linenumber", "l_returnflag", "centered_raw"]]


@register(
    "d23_grouped_map",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           ROUND(l_quantity - AVG(l_quantity) OVER (PARTITION BY l_returnflag), 4)
             AS centered
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
)
def d23_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mean-centering via applyInPandas; oracle is the equivalent
    window SQL.

    Scale note: l_returnflag has ~3 distinct values, so the grouped-map form
    concentrates data on 3 tasks — fine for the API-surface check, but the
    *scalable* form of this computation is the broadcast-mean join
    (`mean_center_scalable`), which keeps the row stream fully parallel.
    """
    li = catalog(spark, sf_dir).lineitem.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    out = li.groupBy("l_returnflag").applyInPandas(
        _mean_center,
        schema="l_orderkey long, l_linenumber int, l_returnflag string, centered_raw double",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("centered_raw", 4).alias("centered"),
    ).orderBy("l_orderkey", "l_linenumber")


def mean_center_scalable(df: DataFrame, key: str, value: str) -> DataFrame:
    """100 TB-safe mean-centering: tiny per-key mean agg broadcast back onto
    the stream — no low-cardinality grouped shuffle of the full data."""
    means = df.groupBy(key).agg(F.avg(value).alias("__mean"))
    return df.join(F.broadcast(means), key).withColumn(
        "centered_raw", F.col(value) - F.col("__mean")
    ).drop("__mean")


@register(
    "d23_mean_center",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           ROUND(l_quantity - AVG(l_quantity) OVER (PARTITION BY l_returnflag), 4)
             AS centered
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
)
def d23_mean_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALABLE D23 headline: same per-group mean-centering semantics as
    ``d23_grouped_map`` (identical oracle), but via ``mean_center_scalable``
    — a 3-row mean aggregate broadcast-joined back onto the stream. The row
    stream stays fully parallel (no 3-task concentration, no Python
    workers); ``d23_grouped_map`` remains the applyInPandas API-surface
    check."""
    li = catalog(spark, sf_dir).lineitem.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    out = mean_center_scalable(li, "l_returnflag", "l_quantity")
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("centered_raw", 4).alias("centered"),
    ).orderBy("l_orderkey", "l_linenumber")


# --------------------------------------------------------------------------
# D24 — UDTF surface (one row -> many)
# --------------------------------------------------------------------------
@register(
    "d24_explode_words",
    oracle="""
    SELECT p_partkey, t.word AS word
    FROM part, unnest(string_split(p_name, ' ')) AS t(word)
    ORDER BY p_partkey, word
    """,
)
def d24_explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One->many via explode(split(...)) — JVM-native generator, the fast
    path for the reference's FlatMap parse shape (P1)."""
    p = catalog(spark, sf_dir).part
    return (
        p.select("p_partkey", F.explode(F.split("p_name", " ")).alias("word"))
        .orderBy("p_partkey", "word")
    )


def flatmap_parse(df: DataFrame, schema: str, parse_iter) -> DataFrame:
    """General one->many Python escape hatch: ``mapInPandas`` with an
    iterator-of-batches UDF (Arrow both ways). ``parse_iter`` maps a
    pd.DataFrame batch to an iterator of output pd.DataFrames. This is the
    faithful P1 (`beam.FlatMap`) surface for non-relational parsers."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield from parse_iter(pdf)

    return df.mapInPandas(gen, schema=schema)


# --------------------------------------------------------------------------
# D22b — row-at-a-time Python UDF (declared surface; deliberately not hot path)
# --------------------------------------------------------------------------
@register(
    "d22_scalar_udf",
    oracle="""
    SELECT c_custkey,
           CASE WHEN lower(substr(c_name, 1, 1)) = 'c' THEN 0 ELSE 1 END AS g
    FROM customer ORDER BY c_custkey
    """,
)
def d22_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time ``F.udf`` form of D2/D22 — the declared D22 surface
    includes both UDF flavors, so the plain-Python path (pickle per row, no
    Arrow) is pinned to the same oracle. It exists to prove semantics, not
    speed: at 100 TB you use the pandas_udf twin (``d22_pandas_udf``), which
    is the same logic Arrow-batched."""

    @F.udf(IntegerType())
    def first_char_class(name):
        return 0 if (name or "")[:1].lower() == "c" else 1

    c = catalog(spark, sf_dir).customer
    return c.select(
        "c_custkey", first_char_class(F.col("c_name")).alias("g")
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# D23b — GROUPED_AGG pandas UDF (true UDAF surface)
# --------------------------------------------------------------------------
@pandas_udf(DoubleType())
def _mean_agg(v: pd.Series) -> float:
    return float(v.mean())


@register(
    "d23_grouped_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(AVG(l_quantity), 4) AS avg_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def d23_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via a GROUPED_AGG pandas UDF — the UDAF half of the
    declared D23 surface (``d23_grouped_map`` is the grouped-map half).
    Arrow ships each group's column once; the group count here is tiny (~4)
    so the whole-group-in-memory contract holds at any SF. Rounding is
    JVM-side after the UDF (HALF_UP, matching the oracle)."""
    li = catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(_mean_agg("l_quantity"), 4).alias("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# D23d — COGROUPED map (two keyed streams into one Python function)
# --------------------------------------------------------------------------
@register(
    "d23_cogrouped_map",
    oracle="""
    WITH v AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_views
      FROM events WHERE event_type = 'view'
        AND CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100 < 20
      GROUP BY user_id
    ), p AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases
      FROM events WHERE event_type = 'purchase'
        AND CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100 < 20
      GROUP BY user_id
    )
    SELECT COALESCE(v.user_id, p.user_id) AS user_id,
           COALESCE(v.n_views, 0) AS n_views,
           COALESCE(p.n_purchases, 0) AS n_purchases,
           ROUND(COALESCE(p.n_purchases, 0)
                 / CAST(GREATEST(COALESCE(v.n_views, 0), 1) AS DOUBLE), 4)
             AS conv_ratio
    FROM v FULL OUTER JOIN p ON v.user_id = p.user_id
    ORDER BY user_id
    """,
)
def d23_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COGROUPED pandas map: each user's view events and purchase events
    arrive as TWO aligned pandas frames in one Python call — the two-input
    generalization of d23_grouped_map (``groupby().cogroup().
    applyInPandas``), for per-key logic that needs both sides at once
    (sessionized attribution, per-key reconciliation, feature joins with
    custom merge rules). Keys present on either side fire the function
    (the other frame arrives empty), matching the full-outer oracle.

    Scale shape: both inputs shuffle ONCE on the cogroup key and stream
    through Arrow per key-group; per-group state is that key's rows only.
    The aggregate itself is oracle-trivial ON PURPOSE — the surface under
    test is the cogrouped crossing, checked against a full-outer join of
    two plain aggregates. The md5-bucket key sample (20%) bounds the
    per-key Python-call count the declared query pays (applyInPandas fires
    once per key): the crossing under test is unchanged, and the sampled
    key set is engine-portable, so the oracle re-derives it exactly.

    r12 optimization (guide §2.3 — aggregate before you shuffle; built-in
    aggregations do partial map-side aggregation, groupBy().applyInPandas
    ships every row): each side is pre-collapsed to (user_id, n) by a
    codegen'd count BEFORE the cogroup, so the Arrow crossing ships ONE
    row per side per key instead of every event, and the cogroup exchange
    carries count partials instead of event ids. The cogrouped crossing —
    both frames arriving aligned per key, empty on absent keys — is
    unchanged, and so is the result. At sf0.1 the wall-clock is flat
    (interleaved in-session A/B min-of-5: 2.56 s both ways — the per-key
    Python call overhead dominates and is identical in both shapes); the
    win is the shuffle: the exchange ships one count partial per
    (task, user) instead of every event row, which is what survives at
    100 TB."""
    from conceptnetwork_spark.operators.sampling import hash_bucket

    ev = catalog(spark, sf_dir).events.where(
        hash_bucket(F.col("user_id")) < 20
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def merge(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        nv = int(left["n"].iloc[0]) if len(left) else 0
        np_ = int(right["n"].iloc[0]) if len(right) else 0
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_views": [nv],
                "n_purchases": [np_],
                "conv_ratio_raw": [np_ / max(nv, 1)],
            }
        )

    out = (
        views.groupby("user_id")
        .cogroup(purchases.groupby("user_id"))
        .applyInPandas(
            merge,
            "user_id long, n_views long, n_purchases long, conv_ratio_raw double",
        )
    )
    # rounding JVM-side AFTER the UDF (HALF_UP, matching the oracle)
    return out.select(
        "user_id",
        "n_views",
        "n_purchases",
        F.round("conv_ratio_raw", 4).alias("conv_ratio"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# D24b — one→many through mapInPandas (the faithful P1 escape hatch)
# --------------------------------------------------------------------------
@register(
    "d24_mapinpandas_parse",
    oracle="""
    SELECT p_partkey, t.word AS word
    FROM part, unnest(string_split(p_name, ' ')) AS t(word)
    ORDER BY p_partkey, word
    """,
)
def d24_mapinpandas_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python one→many path: ``mapInPandas`` fan-out of p_name into
    words, pinned to the same oracle as the JVM-native ``d24_explode_words``.
    This is the faithful shape of the reference's ``beam.FlatMap``
    (``examples/trainer/networks/preprocess.py:54-55``) for parsers that
    genuinely need Python; Arrow-batched both directions, and the scan still
    prunes to the two referenced columns."""

    def parse_iter(pdf: pd.DataFrame):
        out = pdf[["p_partkey", "p_name"]].copy()
        out["word"] = out["p_name"].str.split(" ")
        yield out.explode("word")[["p_partkey", "word"]]

    p = catalog(spark, sf_dir).part.select("p_partkey", "p_name")
    return flatmap_parse(p, "p_partkey long, word string", parse_iter).orderBy(
        "p_partkey", "word"
    )


# --------------------------------------------------------------------------
# D24c — explode_outer (null-preserving generate)
# --------------------------------------------------------------------------
@register(
    "d24_explode_outer",
    oracle="""
    SELECT p_partkey, t.word
    FROM part LEFT JOIN LATERAL (
      SELECT UNNEST(list_filter(string_split(p_name, ' '), w -> length(w) > 5)) AS word
    ) t ON TRUE
    ORDER BY p_partkey, word NULLS FIRST
    """,
)
def d24_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` over a filtered word array: parts with no word
    longer than 5 chars survive as a NULL row instead of vanishing — the
    outer-generate semantics a plain explode (inner-join-like) loses. The
    array filter is a JVM higher-order function, so the generate input never
    leaves codegen."""
    p = catalog(spark, sf_dir).part
    words = F.filter(F.split("p_name", " "), lambda w: F.length(w) > 5)
    return (
        p.select("p_partkey", F.explode_outer(words).alias("word"))
        .orderBy("p_partkey", F.asc_nulls_first("word"))
    )


# --------------------------------------------------------------------------
# D24d — mapInArrow (Arrow-native batch transform, zero pandas conversion)
# --------------------------------------------------------------------------
@register(
    "d24_mapinarrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                      * 1000000, 0) AS BIGINT) AS charge_micro
    FROM lineitem
    WHERE l_returnflag = 'R'
    ORDER BY l_orderkey, l_linenumber
    """,
)
def d24_mapinarrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the lowest-overhead Python crossing — RecordBatches
    flow to the worker and back with NO pandas materialization (no index
    building, no object boxing; pyarrow.compute runs the vectorized kernel
    directly on Arrow buffers). The charge formula deliberately matches the
    pandas-UDF variants elsewhere so the three crossings are comparable;
    it is emitted in MICROS as an exact integer (three 2-decimal factors
    multiply to an exact 6-decimal value, so nearest-integer is unambiguous
    in both engines, where ROUND(x, 4) on the raw double straddles ties).
    Filter and projection still happen JVM-side before the crossing — the
    batch carries exactly the 5 needed columns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def charge_batches(batches):
        # raw product only — the final ROUND happens JVM-side so both
        # engines share one rounding implementation (arrow's default
        # half-to-even would diverge from SQL ROUND on .5 boundaries)
        for b in batches:
            charge = pc.multiply(
                pc.multiply(
                    b.column("l_extendedprice"),
                    pc.subtract(pa.scalar(1.0), b.column("l_discount")),
                ),
                pc.add(pa.scalar(1.0), b.column("l_tax")),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("l_orderkey"), b.column("l_linenumber"), charge],
                names=["l_orderkey", "l_linenumber", "charge"],
            )

    li = catalog(spark, sf_dir).lineitem
    src = li.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"
    )
    return (
        src.mapInArrow(
            charge_batches, "l_orderkey long, l_linenumber int, charge double"
        )
        .withColumn(
            "charge_micro", F.round(F.col("charge") * 1000000, 0).cast("long")
        )
        .drop("charge")
        .orderBy("l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# D24e — Python UDTF (the Spark-4 user-defined TABLE function surface)
# --------------------------------------------------------------------------
def _make_word_pos_udtf():
    """Arrow-optimized Python UDTF: one text row -> (pos, word, is_long)
    rows. Defined lazily so the class is only materialized where the
    registered query runs."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, word string, is_long boolean")
    class WordPos:
        def eval(self, text: str):
            if text is None:
                return
            for pos, word in enumerate(text.split(" ")):
                yield pos, word, len(word) > 5

    return WordPos


@register(
    "d24_python_udtf",
    oracle="""
    SELECT p_partkey, t.pos, t.word, t.is_long
    FROM part, LATERAL (
      SELECT CAST(ROW_NUMBER() OVER () - 1 AS INT) AS pos,
             w AS word, length(w) > 5 AS is_long
      FROM unnest(string_split(p_name, ' ')) AS u(w)
    ) t
    WHERE p_partkey < 400
    ORDER BY p_partkey, pos
    """,
)
def d24_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-4 Python UDTF surface: a user-defined TABLE function applied
    with ``lateralJoin`` — each part name fans out to (pos, word, is_long)
    rows from an arbitrary Python generator. This is the escape hatch for
    one-to-many logic that genuinely needs Python (stateful tokenizers,
    format sniffers); for anything expressible as an array expression the
    explode/posexplode forms elsewhere in this module stay JVM-side and are
    strictly faster. The id filter keeps the Python crossing bounded and is
    pushed to the scan BEFORE the UDTF (asserted in the plan test)."""
    WordPos = _make_word_pos_udtf()
    p = (
        catalog(spark, sf_dir)
        .part.where(F.col("p_partkey") < 400)
        .select("p_partkey", "p_name")
    )
    return (
        p.lateralJoin(WordPos(F.col("p_name").outer()))
        .select("p_partkey", "pos", "word", "is_long")
        .orderBy("p_partkey", "pos")
    )


# --------------------------------------------------------------------------
# D22 extension — SCALAR_ITER pandas UDF (amortized per-worker init)
# --------------------------------------------------------------------------
@pandas_udf(DoubleType())
def _scored_price(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Iterator-of-Series form: the 'model' (here a lookup of constants,
    standing in for an expensive-to-load artifact) is built ONCE per
    worker before the batch loop, then reused across every Arrow batch —
    the execution shape for scoring with a real model where per-batch
    reload would dominate."""
    coef, intercept = 1.07, -4.25  # "loaded model" — once per worker
    # no rounding HERE: pandas .round is banker's (half-to-even), which
    # breaks the repo-wide HALF_UP contract on an exact .xxxx5 tie — the
    # caller applies F.round in its select like every other operator
    for prices in batches:
        yield prices * coef + intercept


@register(
    "d22_iter_udf",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice * 1.07 - 4.25, 4) AS scored
    FROM orders WHERE o_orderkey < 20000
    ORDER BY o_orderkey
    """,
)
def d22_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR_ITER pandas UDF — the third Python-crossing scalar shape
    (row UDF d22_scalar_udf, per-batch pandas d22_pandas_udf, and this
    iterator form): one-time per-worker initialization amortized across
    all Arrow batches, the pattern for model-scoring UDFs where loading
    the artifact costs more than scoring a batch.

    Scale shape: identical data path to a scalar pandas UDF (Arrow
    batches, JVM-side filter pushed below the crossing); the iterator
    only changes WHERE init cost lands — once per worker (×32 here,
    ×executors at scale), not once per batch (×thousands)."""
    o = catalog(spark, sf_dir).orders
    return (
        o.where(F.col("o_orderkey") < 20000)
        .select(
            "o_orderkey",
            F.round(_scored_price(F.col("o_totalprice")), 4).alias("scored"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# D23 extension — grouped-map over Arrow tables (Spark-4 applyInArrow)
# --------------------------------------------------------------------------
@register(
    "d23_grouped_arrow",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MAX(l_extendedprice) - MIN(l_extendedprice), 4) AS price_range
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def d23_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map over RAW ARROW TABLES (``applyInArrow``, Spark 4) —
    the zero-pandas twin of applyInPandas: each group arrives as a
    pyarrow.Table and the compute runs on Arrow arrays directly, skipping
    the pandas conversion entirely. The shape for per-group logic backed
    by Arrow-native libraries at 100 TB, where the pandas materialization
    is pure overhead.

    Scale shape: one shuffle on the group key, Arrow IPC both ways; the
    per-group reduction returns one row per group so the crossing's
    return payload is negligible."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def span(tbl: pa.Table) -> pa.Table:
        prices = tbl.column("l_extendedprice")
        rng = pc.subtract(pc.max(prices), pc.min(prices))
        return pa.table(
            {
                "l_returnflag": [tbl.column("l_returnflag")[0].as_py()],
                "n_rows": pa.array([tbl.num_rows], pa.int64()),
                "price_range": pa.array(
                    [round(rng.as_py(), 4)], pa.float64()
                ),
            }
        )

    li = catalog(spark, sf_dir).lineitem.select(
        "l_returnflag", "l_extendedprice"
    )
    return (
        li.groupBy("l_returnflag")
        .applyInArrow(
            span,
            schema="l_returnflag string, n_rows long, price_range double",
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# D24 extension — posexplode (index-preserving fan-out)
# --------------------------------------------------------------------------
@register(
    "d24_posexplode",
    oracle="""
    SELECT p_partkey,
           CAST(i - 1 AS INT) AS pos,
           words[i] AS word
    FROM (
      SELECT p_partkey, string_split(p_name, ' ') AS words
      FROM part WHERE p_partkey <= 200
    ), LATERAL unnest(generate_series(1, len(words))) AS t(i)
    ORDER BY p_partkey, pos
    """,
)
def d24_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — index-preserving fan-out: each array element emits
    with its ORDINAL position, the generator needed whenever downstream
    logic depends on element order (token positions, frame numbers,
    turn indices in a conversation). Plain explode destroys the index;
    zipping by hand costs an extra transform — this is the built-in,
    codegen'd spelling.

    Scale shape: map-side Generate, no shuffle except the output sort;
    the position column is computed during generation, not joined back."""
    p = catalog(spark, sf_dir).part.where(F.col("p_partkey") <= 200)
    return (
        p.select(
            "p_partkey",
            F.posexplode(F.split("p_name", " ")).alias("pos", "word"),
        )
        .orderBy("p_partkey", "pos")
    )


# --------------------------------------------------------------------------
# D22d — Arrow-optimized Python UDF (Spark 3.5+/4 ``useArrow=True``):
# completes the scalar-UDF matrix — pickled row-at-a-time (d22_scalar_udf)
# / pandas vectorized (d22_pandas_udf) / Arrow-serialized row semantics
# --------------------------------------------------------------------------
@register(
    "d22_arrow_udf",
    oracle="""
    SELECT c_custkey,
           CASE WHEN lower(substr(c_name, 1, 1)) = 'c' THEN 0 ELSE 1 END AS g
    FROM customer ORDER BY c_custkey
    """,
)
def d22_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.udf(..., useArrow=True)``: row-semantics Python UDF with Arrow
    transport — same per-row function contract as ``d22_scalar_udf``
    (pinned to the SAME oracle) but batches cross the JVM/Python boundary
    as Arrow record batches instead of pickled rows. The middle rung of
    the scalar-UDF ladder: row-pickle < Arrow row < pandas vectorized;
    use it when per-row logic doesn't vectorize but serialization
    dominates (typical 2-5x over pickle)."""

    @F.udf(IntegerType(), useArrow=True)
    def first_char_class(name):
        return 0 if (name or "")[:1].lower() == "c" else 1

    c = catalog(spark, sf_dir).customer
    return c.select(
        "c_custkey", first_char_class(F.col("c_name")).alias("g")
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# D24g — inline: one row per struct element (the typed-generator form;
# completes the generator family: explode / explode_outer / posexplode /
# mapInPandas / UDTF / inline)
# --------------------------------------------------------------------------
@register(
    "d24_inline",
    oracle="""
    SELECT p_partkey, u.metric AS metric, ROUND(u.value, 4) AS value
    FROM part, UNNEST([
      {'metric': 'size',   'value': CAST(p_size AS DOUBLE)},
      {'metric': 'retail', 'value': CAST(p_retailprice AS DOUBLE)}
    ]) AS t(u)
    ORDER BY p_partkey, metric
    """,
)
def d24_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``inline``: explode an array of STRUCTS into rows WITH the struct
    fields as columns in one step — the typed generator (explode of
    array<struct> then field-select, fused). The DuckDB twin is UNNEST
    over a list of structs.

    Scale shape: map-side Generate node inside codegen, no shuffle —
    same Expand-style cost model as d12_unpivot (output = n_structs x
    input rows; build the array AFTER filtering/projection)."""
    p = catalog(spark, sf_dir).part
    arr = F.array(
        F.struct(
            F.lit("size").alias("metric"),
            F.col("p_size").cast("double").alias("value"),
        ),
        F.struct(
            F.lit("retail").alias("metric"),
            F.col("p_retailprice").cast("double").alias("value"),
        ),
    )
    return (
        p.select("p_partkey", F.inline(arr))
        .select("p_partkey", "metric", F.round("value", 4).alias("value"))
        .orderBy("p_partkey", "metric")
    )


# --------------------------------------------------------------------------
# D24 extension (round 5) — ARROW-NATIVE UDTF (Spark 4.1 ``arrow_udtf``):
# the table function receives whole pyarrow RecordBatches and yields
# pyarrow Tables — true vectorized compute, no per-row Python, completing
# the UDTF ladder (row UDTF d24_python_udtf -> arrow batches here).
# --------------------------------------------------------------------------
def _make_part_stats_arrow_udtf():
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udtf

    @arrow_udtf(returnType="p_partkey bigint, name_len bigint, n_words bigint, tier bigint")
    class PartStats:
        def eval(self, batch: pa.RecordBatch):
            import pyarrow.compute as pc

            name = batch.column("p_name")
            yield pa.table(
                {
                    "p_partkey": batch.column("p_partkey"),
                    "name_len": pc.utf8_length(name).cast(pa.int64()),
                    "n_words": pc.add(
                        pc.count_substring(name, " "), 1
                    ).cast(pa.int64()),
                    "tier": pc.floor(
                        pc.divide(batch.column("p_retailprice"), 100.0)
                    ).cast(pa.int64()),
                }
            )

    return PartStats


@register(
    "d24_arrow_native_udtf",
    oracle="""
    SELECT p_partkey,
           CAST(length(p_name) AS BIGINT) AS name_len,
           CAST(array_length(string_split(p_name, ' ')) AS BIGINT) AS n_words,
           CAST(FLOOR(p_retailprice / 100.0) AS BIGINT) AS tier
    FROM part WHERE p_partkey < 600
    ORDER BY p_partkey
    """,
)
def d24_arrow_native_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4.1 ARROW-NATIVE UDTF: ``eval`` receives whole pyarrow
    RecordBatches and yields pyarrow Tables built with pyarrow.compute
    kernels (utf8_length / count_substring / floor) — zero per-row Python,
    the vectorized end of the D24 generator ladder. The DuckDB oracle
    recomputes every column, so batch iteration, Arrow kernel semantics,
    and the table-argument (``df.asTable()``) calling convention are all
    on the hash. The div-by-100 tier uses IEEE double division in both
    engines, so the floor is bit-identical.

    Scale shape: one Python crossing per Arrow batch with columnar
    kernels inside — same data path as mapInArrow; the id filter is
    applied BEFORE ``asTable()`` so it stays JVM-side below the
    crossing."""
    PartStats = _make_part_stats_arrow_udtf()
    p = (
        catalog(spark, sf_dir)
        .part.where(F.col("p_partkey") < 600)
        .select("p_partkey", "p_name", "p_retailprice")
    )
    return PartStats(p.asTable()).orderBy("p_partkey")


# --------------------------------------------------------------------------
# D24 extension (round 6) — POLYMORPHIC UDTF: output schema computed by a
# static analyze() from a literal argument (the Spark-4 table-function
# analogue of schema-on-read)
# --------------------------------------------------------------------------
def _make_split_fields_udtf():
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class SplitFields:
        """Splits a space-delimited string into named columns — the COLUMN
        NAMES (and arity) come from the first literal argument, resolved at
        plan time by analyze(). 'grade finish material' -> 3 string cols."""

        @staticmethod
        def analyze(fields: AnalyzeArgument, s: AnalyzeArgument) -> AnalyzeResult:
            if fields.value is None:
                raise ValueError("fields spec must be a foldable literal")
            schema = StructType()
            for name in str(fields.value).split(" "):
                schema = schema.add(name, StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, fields: str, s: str):
            n = len(fields.split(" "))
            parts = (s or "").split(" ")
            # pad/truncate to the declared arity — schema is fixed at
            # plan time, rows must conform
            yield tuple((parts + [None] * n)[:n])

    return udtf(SplitFields)


@register(
    "d24_udtf_analyze",
    oracle="""
    SELECT p_partkey,
           string_split(p_type, ' ')[1] AS grade,
           string_split(p_type, ' ')[2] AS finish,
           string_split(p_type, ' ')[3] AS material
    FROM part
    WHERE p_partkey < 400
    ORDER BY p_partkey
    """,
)
def d24_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POLYMORPHIC Python UDTF surface: ``analyze()`` computes the
    output schema at PLAN TIME from a literal argument — here the field
    spec 'grade finish material' turns p_type ('STANDARD ANODIZED TIN')
    into three named string columns. This is the schema-on-read table
    function: one UDTF serves any delimited layout, with Catalyst seeing
    concrete, prunable columns. Completes the D24 ladder beyond the
    fixed-schema d24_python_udtf and the Arrow-native d24_arrow_native_udtf.

    The id filter bounds the Python crossing and is pushed to the scan
    before the UDTF (same contract as the other ladder rungs)."""
    SplitFields = _make_split_fields_udtf()
    p = (
        catalog(spark, sf_dir)
        .part.where(F.col("p_partkey") < 400)
        .select("p_partkey", "p_type")
    )
    return (
        p.lateralJoin(
            SplitFields(F.lit("grade finish material"), F.col("p_type").outer())
        )
        .select("p_partkey", "grade", "finish", "material")
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# D24 (cont.) — UDTF over a partitioned TABLE argument   [round-6 wave 3]
# --------------------------------------------------------------------------
def _make_gap_stats_udtf():
    from pyspark.sql.functions import udtf

    class GapStats:
        """Per-partition streaming accumulator: rows arrive in (user_id)
        groups ordered by tsu; state is O(1) — prev timestamp, running
        max gap, count."""

        def __init__(self):
            self.uid = None
            self.prev = None
            self.mx = None
            self.n = 0

        def eval(self, row):
            self.uid = row["user_id"]
            self.n += 1
            if self.prev is not None:
                g = row["tsu"] - self.prev
                if self.mx is None or g > self.mx:
                    self.mx = g
            self.prev = row["tsu"]

        def terminate(self):
            yield self.uid, self.n, self.mx

    return udtf(
        GapStats, returnType="user_id bigint, n_events int, max_gap_us bigint"
    )


@register(
    "d24_udtf_table_partition",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS gap
      FROM events WHERE user_id < 40
    )
    SELECT user_id, CAST(COUNT(*) AS INTEGER) AS n_events,
           MAX(gap) AS max_gap_us
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def d24_udtf_table_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TABLE-argument UDTF surface (Spark 4): ``f(TABLE(t) PARTITION BY
    user_id ORDER BY tsu)`` hands each user's rows, time-ordered, to ONE
    UDTF instance — eval() streams rows with O(1) state, terminate() emits
    the per-user summary (max inter-event gap). This is the imperative
    per-group escape hatch with the engine owning the shuffle and the
    sort, completing the D24 ladder's input-table dimension (the other
    rungs take scalar/lateral arguments).

    Timestamps cross into Python as integer MICROSECONDS (unix_micros on
    the scan) — exact arithmetic, no tz or chunking hazard; the user_id
    filter bounds the Python crossing and is pushed to the parquet scan.

    Scale shape (100 TB): one exchange on user_id + in-partition sort —
    identical movement to the equivalent window query; the UDTF adds no
    second shuffle. Rows stream through eval() without buffering the
    group (contrast applyInPandas, which materializes each group as one
    pandas frame), so a single hot user cannot OOM an executor."""
    ev = catalog(spark, sf_dir).events
    ev.where(F.col("user_id") < 40).select(
        "user_id", F.unix_micros("ts").alias("tsu"), "event_id"
    ).createOrReplaceTempView("cns_gap_events")
    spark.udtf.register("cns_gap_udtf", _make_gap_stats_udtf())
    return spark.sql(
        """
        SELECT user_id, n_events, max_gap_us
        FROM cns_gap_udtf(TABLE(cns_gap_events)
                          PARTITION BY user_id ORDER BY (tsu, event_id))
        ORDER BY user_id
        """
    )


# --------------------------------------------------------------------------
# D22 — SQL-defined functions (round 6, wave 6): the ZERO-overhead rung of
# the UDF ladder — CREATE FUNCTION bodies are SQL expressions Catalyst
# INLINES into the plan, so unlike every Python rung they cost nothing
# --------------------------------------------------------------------------
@register(
    "d22_sql_udf",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1.00 - CAST(l_discount AS DECIMAL(4,2)))
                      * (1.00 + CAST(l_tax AS DECIMAL(4,2))), 4) AS DOUBLE)
             AS net,
           CAST(i AS INT) AS chunk_id,
           CAST(LEAST(20, CAST(l_quantity AS BIGINT) - i * 20) AS INT)
             AS chunk_qty
    FROM lineitem,
         unnest(range(0, CAST(ceil(l_quantity / 20.0) AS BIGINT))) AS t(i)
    WHERE l_orderkey < 200
    ORDER BY l_orderkey, l_linenumber, chunk_id
    """,
)
def d22_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions: a scalar CREATE FUNCTION (net price after
    discount and tax) plus a SQL TABLE function (split a quantity into
    <=20-unit shipment chunks) applied via correlated LATERAL — the
    declarative end of the D22 ladder. Where d22_scalar_udf measures the
    per-row Python toll and d22_pandas_udf the Arrow batch transfer, a
    SQL UDF has NO runtime at all: Catalyst inlines the body expression
    into the caller's plan, so the physical plan is indistinguishable
    from writing the arithmetic inline (same codegen, same pushdown) —
    the right default for any logic expressible as SQL. The oracle
    inlines both bodies by hand, certifying the inlining is semantically
    exact. Money math runs in DECIMAL inside the function body on both
    sides: ROUND(double,4) is engine-divergent at representation edges
    (Spark rounds the shortest decimal repr, DuckDB the binary value),
    and the decimal product makes the boundary exact.

    Scale shape (100 TB): map-side expression + per-row bounded generate
    (<=3 chunk rows per lineitem); the key filter pushes to the scan; no
    shuffle before the final order."""
    t = catalog(spark, sf_dir)
    t.lineitem.createOrReplaceTempView("cns_sqludf_lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION cns_net_price(
            ep DOUBLE, d DOUBLE, tax DOUBLE) RETURNS DOUBLE
        RETURN CAST(ROUND(CAST(ep AS DECIMAL(12,2))
                          * (1.00 - CAST(d AS DECIMAL(4,2)))
                          * (1.00 + CAST(tax AS DECIMAL(4,2))), 4) AS DOUBLE)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION cns_qty_chunks(q BIGINT)
        RETURNS TABLE(chunk_id INT, chunk_qty INT)
        RETURN SELECT CAST(pos AS INT) AS chunk_id,
                      CAST(LEAST(20, q - pos * 20) AS INT) AS chunk_qty
               FROM (SELECT explode(sequence(
                       0, CAST(ceil(q / 20.0) AS BIGINT) - 1)) AS pos)
        """
    )
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               cns_net_price(l_extendedprice, l_discount, l_tax) AS net,
               c.chunk_id, c.chunk_qty
        FROM cns_sqludf_lineitem,
             LATERAL cns_qty_chunks(CAST(l_quantity AS BIGINT)) c
        WHERE l_orderkey < 200
        ORDER BY l_orderkey, l_linenumber, chunk_id
        """
    )
