"""Reproducible sampling & split assignment for training-data pipelines.

The sampling layer every 100 TB dataprep job needs and Spark's built-in
``df.sample`` cannot give you: **content-addressed, engine-independent**
row selection. ``sample()``/``sampleBy()`` are seeded per-partition, so the
selected set changes whenever partitioning changes and can never be
reproduced by another engine. Instead we bucket on a cryptographic hash of
a stable key — ``bucket = int(md5(key)[:8], 16) % N`` — which gives:

- the same rows selected on every engine, every partitioning, every run
  (the DuckDB oracle literally re-derives the sample);
- stable membership under corpus growth (a doc's bucket never changes, so
  train/test assignment is permanent — no leakage when data is re-ingested);
- per-row pure projection: no shuffle, no state, fully pushdown-friendly.

This is the standard trick (e.g. the "mod-hash split" used across published
LLM dataprep stacks); md5 is uniform enough that bucket sizes are within
~1% of nominal at corpus scale.

Reference anchor: the reference's only sampling surface is the boolean
``randomize_input`` training shuffle (`conceptnetwork/network.py:199`),
mapped to Network.read(shuffle_seed); deterministic subsetting/splitting is
part of the mandated LLM-pipeline extension surface (SURVEY §2.2 preamble).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.registry import register


def hash_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Engine-portable deterministic bucket in [0, n_buckets): the first 8
    hex chars of md5(key) as an integer, mod n_buckets. 32 bits of hash is
    plenty for bucket assignment (collisions don't matter — identical keys
    SHOULD collide)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    )


def hash_sample(df: DataFrame, key: str, fraction_pct: int) -> DataFrame:
    """Keep rows whose hash bucket falls below ``fraction_pct`` (out of
    100). Reproducible across engines/runs/partitionings, unlike
    ``df.sample``."""
    return df.where(hash_bucket(F.col(key)) < fraction_pct)


def assign_split(
    df: DataFrame, key: str, train_pct: int = 80, val_pct: int = 10
) -> DataFrame:
    """Add a ``split`` column (train/val/test) by hash bucket. Membership is
    a pure function of the key, so re-ingesting or growing the corpus never
    moves a document across splits (the leakage-safety property)."""
    b = hash_bucket(F.col(key))
    return df.withColumn(
        "split",
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def _bucket_sql(key_expr: str, n: int = 100) -> str:
    """The DuckDB spelling of hash_bucket (same md5-prefix arithmetic)."""
    return f"CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 8)) AS BIGINT) % {n}"


# --------------------------------------------------------------------------
# D2 extension — reproducible hash sample
# --------------------------------------------------------------------------
@register(
    "d02_hash_sample",
    oracle=f"""
    SELECT doc_id, length(text) AS n_chars
    FROM documents
    WHERE {_bucket_sql('doc_id')} < 10
    ORDER BY doc_id
    """,
)
def d02_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample of the corpus by md5 bucket of doc_id —
    the DuckDB oracle re-derives the identical row set, which no seeded
    ``df.sample`` could ever satisfy. Pure projection+filter: no shuffle,
    and the filter is a scan-level predicate at any scale."""
    d = catalog(spark, sf_dir).documents
    return (
        hash_sample(d, "doc_id", 10)
        .select("doc_id", F.length("text").alias("n_chars"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D2 extension — leakage-safe train/val/test split
# --------------------------------------------------------------------------
@register(
    "d02_train_test_split",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN {_bucket_sql('doc_id')} < 80 THEN 'train'
                  WHEN {_bucket_sql('doc_id')} < 90 THEN 'val'
                  ELSE 'test' END AS split,
             length(text) AS n_chars
      FROM documents
    )
    SELECT split, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 4) AS avg_chars
    FROM s GROUP BY split ORDER BY split
    """,
)
def d02_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by doc_id hash bucket, summarized
    per split. Both engines derive the same permanent assignment; the
    per-split char means also agreeing proves the row membership matches,
    not just the counts."""
    d = catalog(spark, sf_dir).documents
    return (
        assign_split(d, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# D2 extension — deterministic WEIGHTED sampling (Efraimidis–Spirakis)
# --------------------------------------------------------------------------
WEIGHTED_K = 100  # sample size


@register(
    "d02_weighted_sample",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, length(text) AS n_chars,
             POW((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) + 0.5) / 4294967296.0,
                 1.0 / length(text)) AS es_key
      FROM documents
      WHERE length(text) > 0
    )
    , top AS (
      SELECT * FROM scored ORDER BY es_key DESC, doc_id LIMIT {WEIGHTED_K}
    )
    SELECT doc_id, n_chars, ROUND(es_key, 4) AS es_key
    FROM top ORDER BY doc_id
    """,
)
def d02_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    key u^(1/w) — here weight = document length, the quality/size-weighted
    selection step of a curated training mix. u is derived from md5(doc_id)
    (not a seeded RNG), so the drawn sample is a pure function of content:
    identical on every engine, partitioning, and rerun, and the oracle
    re-derives it exactly.

    Scale shape: scoring is a map-only projection; selection is a single
    TakeOrderedAndProject top-k (per-partition heaps + driver merge of K
    rows), NOT a global sort — the same plan shape as d15_topk, so a 100 TB
    corpus never shuffles more than num_partitions * K score rows."""
    d = catalog(spark, sf_dir).documents
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    scored = (
        d.where(F.length("text") > 0)
        .select(
            "doc_id",
            F.length("text").alias("n_chars"),
            F.pow(u, 1.0 / F.length("text")).alias("es_key_raw"),
        )
    )
    return (
        scored.orderBy(F.desc("es_key_raw"), F.asc("doc_id"))
        .limit(WEIGHTED_K)
        .select("doc_id", "n_chars", F.round("es_key_raw", 4).alias("es_key"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D2 extension — per-group cap (deterministic reservoir per stratum)
# --------------------------------------------------------------------------
GROUP_CAP = 10  # max docs kept per source domain


@register(
    "d02_group_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('cap' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {GROUP_CAP}
    ORDER BY doc_id
    """,
)
def d02_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: keep at most GROUP_CAP documents per source, chosen
    by a salted md5 order — the 'no domain may dominate the mixture' rule
    of corpus curation. Selection is content-addressed (a deterministic
    per-stratum reservoir), so the kept set is stable across engines,
    partitionings and re-ingestion — growing a domain never evicts
    previously kept docs ONLY via hash order, not arrival order.

    Scale shape: one shuffle on source + per-group sort; with many domains
    the window parallelizes across them. For few huge domains the rank-k
    form degrades to a per-domain sort — the production escape hatch is a
    two-phase top-k (per-partition heap then merge, the TakeOrdered shape),
    declared here in window form because it is oracle-comparable."""
    from pyspark.sql import Window

    d = catalog(spark, sf_dir).documents
    ok = F.md5(F.concat(F.lit("cap"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(ok, F.col("doc_id"))
    return (
        d.select(
            "doc_id", "source", F.row_number().over(w).cast("long").alias("rk")
        )
        .where(F.col("rk") <= GROUP_CAP)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D31 extension — percentile-thresholded corpus filter
# --------------------------------------------------------------------------
@register(
    "d31_quantile_filter",
    oracle="""
    SELECT doc_id, length(text) AS n_chars
    FROM documents
    WHERE length(text) > (SELECT quantile_cont(length(text), 0.75)
                          FROM documents)
    ORDER BY doc_id
    """,
)
def d31_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep documents longer than the corpus 75th percentile — the
    quantile-thresholded filter shape used for quality gating. The exact
    interpolated percentile (Spark ``percentile`` == DuckDB
    ``quantile_cont``) is computed once and broadcast as a single-row
    threshold; at scale the percentile is one partial+final agg pass, never
    a sort. (``approx_percentile`` is the drop-in at 100 TB; the exact form
    is declared because it is oracle-comparable.)"""
    d = catalog(spark, sf_dir).documents.select(
        "doc_id", F.length("text").alias("n_chars")
    )
    thr = d.agg(
        F.expr("percentile(n_chars, 0.75)").alias("p75")
    )
    return (
        d.join(F.broadcast(thr))
        .where(F.col("n_chars") > F.col("p75"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D2 extension — stratified (per-class rate) hash sample
# --------------------------------------------------------------------------
@register(
    "d02_stratified_sample",
    oracle=f"""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE {_bucket_sql('c_custkey')} <
          CASE WHEN c_mktsegment = 'BUILDING' THEN 10 ELSE 50 END
    ORDER BY c_custkey
    """,
)
def d02_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum downsampling (10% of the over-represented BUILDING
    segment, 50% elsewhere) — the class-rebalancing primitive of a training
    pipeline, expressed as the same md5-bucket predicate as d02_hash_sample
    so membership is permanent and oracle-reproducible (unlike seeded
    ``df.sampleBy``). Still a pure scan-level filter: no shuffle, no state,
    identical row set on any cluster size."""
    c = catalog(spark, sf_dir).customer
    rate = F.when(F.col("c_mktsegment") == "BUILDING", 10).otherwise(50)
    return (
        c.where(hash_bucket(F.col("c_custkey")) < rate)
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# D2 extension — deterministic negative sampling (contrastive pairs)
# --------------------------------------------------------------------------
@register(
    "d02_negative_sampling",
    oracle="""
    WITH pos AS (
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey < 500
    ), negs AS (
      SELECT o_orderkey, o_custkey, j AS neg_rank,
             ((o_orderkey * 31 + j * 17) % (SELECT MAX(p_partkey) FROM part)) + 1
               AS neg_partkey
      FROM pos, unnest([1, 2, 3]) AS t(j)
    )
    SELECT n.o_orderkey, n.neg_rank, n.neg_partkey, p.p_name
    FROM negs n JOIN part p ON n.neg_partkey = p.p_partkey
    ORDER BY o_orderkey, neg_rank
    """,
)
def d02_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs: k=3
    pseudo-random part ids per positive via modular arithmetic on the order
    key (NO all-pairs, no seeded rand — both engines derive the identical
    negatives), then one equi-join to resolve attributes. The generate step
    is a pure projection + 3-element explode; the resolve step shuffles only
    (order, neg_id) pairs against the part table — at 100 TB this is the
    standard 'generate ids, hydrate via join' shape."""
    t = catalog(spark, sf_dir)
    max_part = t.part.agg(F.max("p_partkey").alias("m"))
    pos = t.orders.where(F.col("o_orderkey") < 500).select(
        "o_orderkey", "o_custkey"
    )
    negs = (
        pos.join(F.broadcast(max_part))
        .select(
            "o_orderkey",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("neg_rank"),
            F.col("m"),
        )
        .withColumn(
            "neg_partkey",
            (F.col("o_orderkey") * 31 + F.col("neg_rank") * 17) % F.col("m") + 1,
        )
    )
    return (
        negs.join(t.part, F.col("neg_partkey") == F.col("p_partkey"))
        .select("o_orderkey", "neg_rank", "neg_partkey", "p_name")
        .orderBy("o_orderkey", "neg_rank")
    )


# --------------------------------------------------------------------------
# D2 extension — domain-mixture resampling (per-source target rates)
# --------------------------------------------------------------------------
# mixture spec: keep-percent per source family; the re-weighting step that
# turns a raw crawl into a curated pretraining mixture
MIX_FULL = ("src0", "src1")  # curated sources: keep all
MIX_MID = ("src2", "src3", "src4", "src5")  # keep 40%
MIX_TAIL_PCT = 15  # everything else


@register(
    "d02_domain_mix",
    oracle=f"""
    WITH kept AS (
      SELECT doc_id, source
      FROM documents
      WHERE {_bucket_sql('doc_id')} <
            CASE WHEN source IN {MIX_FULL!r} THEN 100
                 WHEN source IN {MIX_MID!r} THEN 40
                 ELSE {MIX_TAIL_PCT} END
    )
    SELECT source, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM kept GROUP BY source ORDER BY source
    """,
)
def d02_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: per-source keep rates (100%/40%/15%)
    applied via the same md5-bucket predicate as d02_hash_sample, so the
    sampled membership is permanent, engine-independent, and re-derivable
    by the oracle. This is the mixture-weights step of pretraining corpus
    curation (up-weight curated sources, down-weight crawl tail) as a pure
    scan-level filter — no shuffle for the sampling itself; the per-source
    summary is one partial+final agg over ~|sources| keys."""
    d = catalog(spark, sf_dir).documents
    rate = (
        F.when(F.col("source").isin(*MIX_FULL), 100)
        .when(F.col("source").isin(*MIX_MID), 40)
        .otherwise(MIX_TAIL_PCT)
    )
    return (
        d.where(hash_bucket(F.col("doc_id")) < rate)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# D2 extension — temperature-scaled domain rebalancing (rates computed FROM
# the data, vs d02_domain_mix's fixed editorial rates)
# --------------------------------------------------------------------------
@register(
    "d02_temperature_mix",
    # alpha=0.5 temperature sampling, downsample-only normalization: keep
    # rate r_dom = sqrt(n_min / n_dom) in basis points. Every step
    # (divide, sqrt, multiply, floor) is IEEE-754 correctly rounded, so
    # Spark and DuckDB derive bit-identical rates — no float-fuzz in the
    # admission threshold.
    oracle=f"""
    WITH c AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ), r AS (
      SELECT lang, n_docs,
             CAST(floor(10000 * sqrt(
               CAST(MIN(n_docs) OVER () AS DOUBLE) / n_docs)) AS BIGINT)
               AS bp
      FROM c
    ), k AS (
      SELECT d.lang, COUNT(*) AS n_kept
      FROM documents d JOIN r USING (lang)
      WHERE {_bucket_sql('doc_id', 10000)} < r.bp
      GROUP BY d.lang
    )
    SELECT lang, n_docs, bp, n_kept
    FROM r JOIN k USING (lang) ORDER BY lang
    """,
)
def d02_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalancing (alpha = 0.5): per-language keep
    rates are COMPUTED from the observed counts — q_dom ∝ p_dom^0.5,
    normalized so the rarest domain keeps 100% — flattening the mixture
    toward rare domains the way multilingual/multidomain pretraining
    up-weights tail languages. Admission stays the permanent md5-bucket
    predicate (10k-bucket precision), so membership is re-derivable and
    engine-independent even though the rates themselves came from data.

    Scale shape: the rate table is one tiny agg (|domains| rows) broadcast
    back onto the scan — the corpus itself never shuffles for sampling;
    readout is one partial+final agg. Changing alpha or refreshing counts
    re-plans only the broadcast side at 100 TB."""
    from pyspark.sql import Window

    d = catalog(spark, sf_dir).documents
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    r = c.withColumn(
        "bp",
        F.floor(
            10000
            * F.sqrt(
                F.min("n_docs").over(Window.partitionBy()).cast("double")
                / F.col("n_docs")
            )
        ).cast("long"),
    )
    kept = (
        d.join(F.broadcast(r), "lang")
        .where(hash_bucket(F.col("doc_id"), 10000) < F.col("bp"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        r.join(kept, "lang")
        .select("lang", "n_docs", "bp", "n_kept")
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# D2 extension — deterministic class balancing (round 6, wave 6)
# --------------------------------------------------------------------------
@register(
    "d02_class_balance",
    oracle="""
    WITH r AS (
      SELECT event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
      FROM events
    ), m AS (
      SELECT MIN(cnt) AS n_min FROM (
        SELECT COUNT(*) AS cnt FROM events GROUP BY event_type)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN rk <= (SELECT n_min FROM m)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rk <= (SELECT n_min FROM m)
                         THEN event_id ELSE 0 END) AS BIGINT) AS kept_id_sum
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def d02_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic majority-class undersampling: every class is cut to
    the minority class's size by keeping each class's first n_min rows in
    (md5(id), id) order — the hash gives an unbiased, REPRODUCIBLE
    pseudo-random draw (the d02_hash_sample principle applied to class
    balancing), so re-running the pipeline selects byte-identical
    training rows, which no seeded df.sample can promise across
    partitionings. The contract certifies the exact selection without
    materializing it: kept_id_sum is the integer checksum of the chosen
    ids per class.

    Scale shape (100 TB): one per-class sort window (each class sorts
    independently — the shuffle is partitioned by class, and a skewed
    majority class is exactly what AQE handles); n_min rides as a
    broadcast scalar; output is #classes rows. For billion-row classes
    swap the full per-class sort for the two-pass quantile cut on the
    hash value (d10_equidepth's shape) at the same contract."""
    e = catalog(spark, sf_dir).events
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.md5(F.col("event_id").cast("string")), "event_id"
        )
    )
    r = e.select("event_type", "event_id", rk.alias("rk"))
    m = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("n_min"))
    )
    kept = F.col("rk") <= F.col("n_min")
    return (
        r.crossJoin(F.broadcast(m))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, F.col("event_id")).otherwise(0)).alias(
                "kept_id_sum"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# D2 extension — deterministic Poisson bootstrap (uncertainty quantification
# for corpus statistics without replication of the dataset)
# --------------------------------------------------------------------------
# Discretized Poisson(1) weight table indexed by a 4-bit hash: pmf
# {0: 6/16, 1: 6/16, 2: 3/16, 3: 1/16} ~ Poisson(1) (0.368/0.368/0.184/
# 0.080 tail mass on >=3). Deterministic given the (key, replicate) hash,
# so every replicate estimate is a pure function of the data — exactly
# hash-match certifiable, unlike rand()-based bootstrapping.
BOOT_W = (0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 2, 2, 2, 3)
BOOT_R = 16


@register(
    "d02_poisson_bootstrap",
    oracle=f"""
    WITH rep AS (
      SELECT r.r, o.o_orderkey,
             CAST(o.o_totalprice AS DECIMAL(12,2)) AS price,
             ([{", ".join(str(w) for w in BOOT_W)}])[
               (CAST(('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)
                                          || ':' || CAST(r.r AS VARCHAR)),
                                     1, 8)) AS BIGINT) % 16) + 1] AS w
      FROM orders o CROSS JOIN (SELECT unnest(range({BOOT_R})) AS r) r
    )
    SELECT CAST(r AS INT) AS replicate,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           ROUND(CAST(SUM(w * price) AS DOUBLE) / SUM(w), 4) AS mean_price
    FROM rep GROUP BY r ORDER BY replicate
    """,
)
def d02_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean order value: each of {BOOT_R} replicates
    reweights every order by a deterministic ~Poisson(1) draw keyed on
    md5(orderkey, replicate) — the single-pass bootstrap used on datasets
    too large to resample by index (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012). The spread of the replicate
    means IS the standard error of the corpus statistic; because draws are
    hash-deterministic, all {BOOT_R} estimates are certified bit-for-bit
    (weighted sums stay DECIMAL until the final per-replicate division).

    Scale shape: the replicate dimension explodes map-side (16x rows into a
    map-side-combined aggregate of 16 cells — no extra shuffle volume, the
    combiner collapses everything locally); at 100 TB this is ONE scan
    producing all replicates, versus 16 scans for naive resampling."""
    o = catalog(spark, sf_dir).orders
    rep = o.select(
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_R - 1))).alias("r"),
        F.col("o_orderkey"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 16
    )
    w = F.element_at(F.array(*[F.lit(x) for x in BOOT_W]), (h + 1).cast("int"))
    agg = (
        rep.select(F.col("r").cast("int").alias("replicate"), "price", w.alias("w"))
        .groupBy("replicate")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.sum(F.col("w") * F.col("price")).alias("wsum"),
            F.sum("w").alias("wtot"),
        )
    )
    return agg.select(
        "replicate",
        "n_eff",
        F.round(F.col("wsum").cast("double") / F.col("wtot"), 4).alias(
            "mean_price"
        ),
    ).orderBy("replicate")


# --------------------------------------------------------------------------
# D2 extension — deterministic k-fold cross-validation assignment
# --------------------------------------------------------------------------
KFOLD = 5


@register(
    "d02_kfold",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, {_bucket_sql('doc_id')} % {KFOLD} AS fold
      FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM f)
    SELECT CAST(fold AS INT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_val,
           CAST(MAX(tot.n) - COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(doc_id) AS BIGINT) AS val_id_sum,
           ROUND(COUNT(*) * 100.0 / MAX(tot.n), 2) AS val_pct
    FROM f, tot GROUP BY fold ORDER BY fold
    """,
)
def d02_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment: every document lands in exactly one
    of {KFOLD} validation folds by md5 bucket — permanent, content-addressed
    membership (re-runs, re-partitions, and appends of OTHER rows never move
    a document between folds, the property seeded randomSplit cannot give).
    The per-fold id checksum certifies the exact membership, not just the
    sizes — the same contract as d02_class_balance.

    Scale shape: one map-side bucket expression, one tiny agg; the total
    count broadcasts. Fold i's TRAIN view is the complement filter
    ``fold != i`` over the same expression — no data movement to
    materialize any of the k splits."""
    d = catalog(spark, sf_dir).documents
    f = d.select(
        "doc_id", (hash_bucket(F.col("doc_id")) % KFOLD).alias("fold")
    )
    tot = f.agg(F.count(F.lit(1)).alias("n"))
    agg = (
        f.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_val"),
            F.sum("doc_id").cast("long").alias("val_id_sum"),
        )
        .crossJoin(F.broadcast(tot))
    )
    return agg.select(
        F.col("fold").cast("int").alias("fold"),
        "n_val",
        (F.col("n") - F.col("n_val")).cast("long").alias("n_train"),
        "val_id_sum",
        F.round(F.col("n_val") * F.lit(100.0) / F.col("n"), 2).alias(
            "val_pct"
        ),
    ).orderBy("fold")


# --------------------------------------------------------------------------
# D2 extension (round 7) — negative downsampling with importance weights,
# the CTR / ranking-model data-prep staple
# --------------------------------------------------------------------------
NEG_KEEP_DENOM = 5  # keep 1/5 of negatives


@register(
    "d02_negative_downsample",
    oracle=f"""
    WITH lab AS (
      SELECT event_id, event_type,
             event_type IN ('purchase', 'signup') AS is_positive
      FROM events
    ), r AS (
      SELECT event_id, event_type, is_positive,
             ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM lab
    ), kept AS (
      SELECT event_type, is_positive, n,
             CASE WHEN is_positive THEN TRUE
                  ELSE rk <= n // {NEG_KEEP_DENOM} END AS keep,
             event_id
      FROM r
    )
    SELECT event_type, is_positive,
           CAST(MAX(n) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(MAX(n) / CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END)
                               AS DOUBLE), 4) AS weight,
           CAST(SUM(CASE WHEN keep THEN event_id ELSE 0 END) AS BIGINT)
             AS kept_id_sum
    FROM kept GROUP BY event_type, is_positive
    ORDER BY event_type
    """,
)
def d02_negative_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative downsampling with inverse-propensity weights: positives
    (purchase/signup) all survive; each negative class keeps a
    deterministic 1/NEG_KEEP_DENOM — ranked by md5(event_id), the same
    content-addressed pseudo-randomness as d02_class_balance, so the
    SELECTED ROWS are identical in both engines and certified via
    kept_id_sum — and carries weight = n_before/n_kept so weighted
    training statistics stay unbiased (the CTR-model recipe: never train
    on the full negative firehose, reweight instead).

    Scale shape (100 TB): one window exchange on event_type (bounded
    partitions only if types are bounded — at real scale the rank-window
    becomes the hash-threshold form d02_class_balance documents:
    md5 < n_keep/n as a map-side filter, no window at all); the summary
    is a partial+final agg. Weights are derived from exact counts, not
    the sampling rate, so rounding in the keep count never biases the
    estimator."""
    ev = catalog(spark, sf_dir).events
    lab = ev.select(
        "event_id",
        "event_type",
        F.col("event_type").isin("purchase", "signup").alias("is_positive"),
    )
    wrk = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    wn = Window.partitionBy("event_type")
    r = lab.select(
        "event_id",
        "event_type",
        "is_positive",
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    keep = F.when(F.col("is_positive"), F.lit(True)).otherwise(
        F.col("rk") <= F.floor(F.col("n") / NEG_KEEP_DENOM)
    )
    kept = r.withColumn("keep", keep)
    return (
        kept.groupBy("event_type", "is_positive")
        .agg(
            F.max("n").cast("long").alias("n_before"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.round(
                F.max("n")
                / F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("double"),
                4,
            ).alias("weight"),
            F.sum(F.when(F.col("keep"), F.col("event_id")).otherwise(0))
            .cast("long")
            .alias("kept_id_sum"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# D2 extension (round 11) — deterministic A/B assignment with the
# sample-ratio-mismatch (SRM) guardrail
# --------------------------------------------------------------------------
@register(
    "d02_ab_assignment",
    # the same engine-portable md5 bucket as d02_hash_sample assigns each
    # user PERMANENTLY to an arm; the SRM chi-square (1 dof, expected
    # 50/50) is the first guardrail any experimentation platform checks
    # before reading the metric
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN {_bucket_sql('user_id')} < 50 THEN 'A' ELSE 'B' END
               AS arm,
             COUNT(*) AS n_events,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id, arm
    ), per AS (
      SELECT arm,
             COUNT(*) AS n_users,
             SUM(n_events) AS n_events,
             SUM(converted) AS conv_users
      FROM u GROUP BY arm
    ), tot AS (
      SELECT SUM(n_users) AS n FROM per
    )
    SELECT arm,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(conv_users AS BIGINT) AS conv_users,
           ROUND(conv_users * 1.0 / n_users, 4) AS conv_rate,
           ROUND((n_users - tot.n / 2.0) * (n_users - tot.n / 2.0)
                 / (tot.n / 2.0) * 2, 4) AS srm_chi2
    FROM per, tot ORDER BY arm
    """,
)
def d02_ab_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 50/50 A/B assignment by md5 bucket of user_id — the
    permanent, engine-portable arm assignment an experimentation platform
    derives (no seeded RNG: the same user lands in the same arm on every
    engine, run, and partitioning) — with the per-arm readout (users,
    events, converters, conversion rate) and the SRM chi-square (1 dof
    against the expected 50/50 split), the guardrail that must pass
    before anyone reads the metric: a skewed assignment means the
    bucketing itself is biased and the experiment is void.

    Scale shape (100 TB): bucket arithmetic is codegen'd on the scan;
    ONE partial+final agg to (user, arm) collapses the event stream
    (conversion is a MAX flag, absorbed map-side), then a 2-row arm agg
    and a broadcast total. Note the chi-square here is symmetric, so
    both arm rows carry the same srm_chi2 — by construction, not by
    accident."""
    e = catalog(spark, sf_dir).events
    u = (
        e.groupBy(
            "user_id",
            F.when(hash_bucket(F.col("user_id")) < 50, "A")
            .otherwise("B")
            .alias("arm"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
        )
    )
    per = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("n_events"),
        F.sum("converted").alias("conv_users"),
    )
    tot = per.agg(F.sum("n_users").alias("n"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "arm",
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("conv_users").cast("long").alias("conv_users"),
            F.round(F.col("conv_users") / F.col("n_users"), 4).alias(
                "conv_rate"
            ),
            F.round(
                (F.col("n_users") - F.col("n") / 2.0)
                * (F.col("n_users") - F.col("n") / 2.0)
                / (F.col("n") / 2.0)
                * 2,
                4,
            ).alias("srm_chi2"),
        )
        .orderBy("arm")
    )
