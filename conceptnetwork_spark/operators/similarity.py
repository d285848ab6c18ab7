"""Similarity search over embedding columns (SURVEY §2.2 D30).

Baseline: brute-force cosine top-k (deterministic, oracle-checked) — the
correctness anchor. Scale path: LSH-bucketed ANN (random hyperplane /
MLlib BucketedRandomProjectionLSH), checked by recall@k vs the exact answer,
never by hash (bucketing is engine-defined).

All vector math is native Spark higher-order functions (zip_with/aggregate)
in double precision — no UDF in the hot path.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from conceptnetwork_spark.catalog import Catalog
from conceptnetwork_spark.lineage import lineage_cut
from conceptnetwork_spark.registry import register
from conceptnetwork_spark.sources.staging import staged


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# DataType instance, not DDL string: a string returnType is parsed through
# the active SparkContext, which doesn't exist yet at module import
@F.pandas_udf(DoubleType())
def _cosine_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched cosine: one vectorized numpy pass per record batch.
    Used on the high-volume candidate-pair re-score paths, where the
    interpreted higher-order-function form (no codegen for array lambdas)
    costs ~100x more per row."""
    ma = np.vstack(a.to_numpy()).astype(np.float64)
    mb = np.vstack(b.to_numpy()).astype(np.float64)
    num = (ma * mb).sum(axis=1)
    den = np.sqrt((ma * ma).sum(axis=1)) * np.sqrt((mb * mb).sum(axis=1))
    return pd.Series(num / den)


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "qid",
    q_vec: str = "qvec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against the
    corpus, score JVM-side, per-query top-k via window. At scale: corpus
    stays partitioned, queries broadcast — one pass, no shuffle of the
    corpus; the window tops-k within each query partition. Norms are
    hoisted below the join — once per corpus row and once per query row
    instead of once per PAIR (array lambdas don't codegen, so each saved
    pass is interpreted work; same doubles, so sim is bit-identical)."""
    scored = corpus.withColumn("__cn", _norm(F.col(c_vec))).join(
        F.broadcast(queries.withColumn("__qn", _norm(F.col(q_vec)))),
        F.col(q_id) != F.col(c_id),
    ).withColumn(
        "sim",
        F.round(
            _dot(F.col(q_vec), F.col(c_vec)) / (F.col("__qn") * F.col("__cn")),
            4,
        )
        + F.lit(0.0),
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, "rank", c_id, "sim")
    )


@register(
    "d30_knn_exact",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             ROUND(
               list_sum(list_transform(list_zip(q.qvec, e.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qvec,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) + 0.0 AS sim
      FROM q JOIN embeddings e ON e.vec_id <> q.qid
    )
    SELECT qid, rank, vec_id, sim FROM (
      SELECT qid, vec_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY qid, rank
    """,
)
def d30_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors vec_id<5. Similarity is rounded
    to 4 decimals BEFORE ranking in both engines so rank order (with vec_id
    tiebreak) is engine-independent."""
    e = Catalog(spark, sf_dir).embeddings
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return cosine_topk(q, e, k=10).orderBy("qid", "rank")


IVF_K, IVF_NPROBE = 32, 14  # coarse cells / probed cells per query


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str,
    tables: int = 16,
    bits: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Multi-table random-hyperplane LSH: for each of ``tables`` hash tables,
    project onto ``bits`` seeded hyperplanes and pack the sign bits into a
    bucket id. Output = input exploded to one row per (table, bucket), with
    the two added as ``lsh_table`` and ``lsh_bucket``; an input that already
    has either column raises ``ValueError`` naming it (the result would
    otherwise carry two columns of that name).

    The projection is an Arrow-batched pandas UDF: one
    ``(batch x dim) @ (dim x tables*bits)`` numpy matmul per record batch.
    The plane matrix is a seeded constant generated driver-side and shipped
    in the UDF closure (tables*bits*dim doubles — a few KB). This is the
    deliberate exception to the built-ins-first rule: Catalyst's
    higher-order array functions run interpreted (no codegen), so folding
    a 96-plane dot product into them costs ~100x more than one vectorized
    matmul per batch. Multiple tables trade candidate volume for recall —
    the standard LSH amplification, never all-pairs.

    The signature relation (one row per vector, ``tables`` longs) is cut
    with a lazy lineage cut BEFORE the posexplode: every caller feeds
    the bucketed relation to both sides of a join, and uncut the planner
    re-evaluated the pandas-UDF matmul once per side and again below each
    pushed null-filter (d30_embedding_near_dup carried 8 ArrowEvalPython
    nodes for ONE projection; r12 interleaved A/B: 3.5 s -> 1.3 s noop).
    The cut stores per-vector width + 16 longs — the d29_simhash_pairs
    precedent, NOT the rejected wide-payload case (nothing is exploded
    yet when it materializes). Two consequences for callers (see
    conceptnetwork_spark.lineage for the fault-tolerance trade-off):
    the cut materializes the FULL input relation (all of ``df``'s
    columns, embeddings included), and it is a pushdown barrier — a
    selective caller cannot push its predicate below the cut into the
    scan, so signatures are always computed for the whole input. Both
    current callers consume the full corpus side, where that is optimal.
    """
    from pyspark.sql.functions import pandas_udf

    taken = [c for c in ("lsh_table", "lsh_bucket") if c in df.columns]
    if taken:
        raise ValueError(
            f"hyperplane_buckets adds column(s) {taken}, which the input "
            "already has; rename or drop them first"
        )
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, tables * bits))
    weights = 1 << np.arange(bits - 1, -1, -1, dtype=np.int64)

    @pandas_udf("array<long>")
    def bucket_ids(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)  # B x dim
        signs = (m @ planes) > 0  # B x (tables*bits)
        packed = (
            signs.reshape(len(m), tables, bits).astype(np.int64) * weights
        ).sum(axis=2)  # B x tables
        return pd.Series(list(packed))

    # temp-column collision guard (ADVICE r12): df.select("*", ...) with a
    # fixed name silently duplicates the column if the caller already has
    # one, making the posexplode/drop below ambiguous
    sig_col = "__lsh_sigs"
    while sig_col in df.columns:
        sig_col = "_" + sig_col
    sigs = df.select(
        "*", bucket_ids(F.col(vec_col)).alias(sig_col)
    ).transform(lineage_cut)
    return sigs.select(
        "*", F.posexplode(sig_col).alias("lsh_table", "lsh_bucket")
    ).drop(sig_col)


@register("d30_lsh_ann", oracle=None)
def d30_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH: candidates = corpus
    vectors sharing any (table, bucket) with the query; exact cosine
    re-score on the deduped candidate set; top-k per query.

    Non-oracle (bucketing is engine-defined); pytest checks recall@10 vs
    d30_knn_exact. At 100 TB the (table, bucket) equi-join replaces the full
    cross product — cost scales with bucket occupancy, not corpus size.
    (tables, bits) trade candidate volume for recall and must match the
    data: the synthetic embeddings are near-uniform (top-10 cosine ~0.3),
    so short 4-bit keys x 24 tables are needed; real clustered embedding
    spaces (cosine >= 0.8 neighbors) support 16+ bits per table, and an
    IVF-style coarse quantizer is the next step beyond hyperplanes.
    """
    e = Catalog(spark, sf_dir).embeddings
    bucketed = hyperplane_buckets(e, "embedding", tables=24, bits=4)
    q = bucketed.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("lsh_table").alias("qtable"),
        F.col("lsh_bucket").alias("qbucket"),
    )
    cand = (
        bucketed.join(
            F.broadcast(q),
            (F.col("lsh_table") == F.col("qtable"))
            & (F.col("lsh_bucket") == F.col("qbucket"))
            & (F.col("qid") != F.col("vec_id")),
        )
        .select("qid", "vec_id", F.round(_cosine_batch("qvec", "embedding"), 4).alias("sim"))
        # score BEFORE dedup: re-scoring a pair once per colliding table is a
        # cheap vectorized matmul, while dropDuplicates first would shuffle
        # the full vector payloads of every candidate; post-score dedup
        # shuffles only (qid, vec_id, sim)
        .dropDuplicates(["qid", "vec_id"])
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("qid", "rank", "vec_id", "sim")
        .orderBy("qid", "rank")
    )


@register("d30_ivf_ann", oracle=None)
def d30_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF (inverted-file) coarse quantization: seeded KMeans
    centroids partition the corpus into cells; each query probes its
    ``nprobe`` nearest cells and re-scores exactly within them.

    The scale path for clustered embedding spaces: the corpus is
    partitioned (and at 100 TB physically bucketed) by centroid id, so a
    query touches ~nprobe/k of the data. Probe cells are selected by the
    QUERY VECTOR's own distance to each centroid (the FAISS/IVF contract),
    not by its assigned cell's neighbor list — a boundary query probes the
    cells its true neighbors actually live in, which at the same probed
    fraction lifts recall@10 from 0.58 to ~0.86 on the near-uniform
    synthetic vectors (measured at sf0.1, r6). The centroid table is k
    rows and broadcast; per-query probe selection is a k-row ranked
    cross-join, never touching the corpus. Non-oracle (centroid
    assignment is engine-defined); pytest checks recall@10 vs
    d30_knn_exact. On genuinely clustered data (the real use case) a far
    smaller nprobe/k recovers ~all true neighbors.
    """
    k, nprobe = IVF_K, IVF_NPROBE
    e = Catalog(spark, sf_dir).embeddings
    centers, assigned = _ivf_index(spark, sf_dir, e)

    # k-row centroid table, broadcast to rank probe cells per query
    cent_df = spark.createDataFrame(
        [(int(c), [float(x) for x in centers[c]]) for c in range(k)],
        "cell int, cvec array<double>",
    )
    d2q = F.aggregate(
        F.zip_with(
            F.col("qvec").cast("array<double>"),
            F.col("cvec"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("cell"))
    q = (
        e.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .crossJoin(F.broadcast(cent_df))
        .withColumn("d2", d2q)
        .withColumn("prank", F.row_number().over(wp))
        .where(F.col("prank") <= nprobe)
        .select("qid", "qvec", "cell")
    )
    cand = (
        assigned.join(F.broadcast(q), ["cell"])
        .where(F.col("qid") != F.col("vec_id"))
        .withColumn("sim", F.round(_cosine_batch("qvec", "embedding"), 4))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("qid", "rank", "vec_id", "sim")
        .orderBy("qid", "rank")
    )


@register(
    "d30_hamming_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5
    )
    SELECT qid, rank, vec_id, ham FROM (
      SELECT qid, vec_id, ham,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY ham, vec_id) AS INTEGER) AS rank
      FROM (
        SELECT q.qid, e.vec_id,
               CAST(list_sum(list_transform(list_zip(e.embedding, q.qvec),
                 s -> CASE WHEN (CAST(s[1] AS DOUBLE) > 0)
                            <> (CAST(s[2] AS DOUBLE) > 0)
                      THEN 1 ELSE 0 END)) AS BIGINT) AS ham
        FROM embeddings e JOIN q ON e.vec_id <> q.qid
      )
    ) WHERE rank <= 10
    ORDER BY qid, rank
    """,
)
def d30_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized retrieval: pack each 64-dim embedding's SIGN BITS
    into ONE BIGINT and rank candidates by Hamming distance — one
    ``bit_count(sig XOR qsig)`` per comparison. The 32x-compressed fast
    path of modern binary-embedding search (the re-rank stage then uses
    full vectors, as in d30_pq_ann).

    The oracle computes the same distance as an explicit per-position
    sign-disagreement count over the raw vectors, so the hash certifies
    the bit packing itself (a wrong shift or sign test diverges
    immediately). Fully deterministic integers — no float in any compared
    quantity.

    Scale shape: the signature build is map-only codegen; the corpus-side
    scan carries 8 bytes per vector; queries broadcast. At 100 TB the
    signature column is what you'd persist (and Z-order), keeping the
    vector table out of the scan entirely until re-rank."""
    e = Catalog(spark, sf_dir).embeddings
    pack = F.expr(
        "aggregate(zip_with(embedding, sequence(0, 63), "
        "(x, i) -> IF(CAST(x AS DOUBLE) > 0D, shiftleft(1L, i), 0L)), "
        "0L, (a, b) -> a | b)"
    )
    sigs = e.select("vec_id", pack.alias("sig"))
    q = sigs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("sig").alias("qsig")
    )
    scored = (
        sigs.join(F.broadcast(q), F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", F.bit_count(F.expr("sig ^ qsig")).alias("ham"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("ham"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("qid", "rank", "vec_id", "ham")
        .orderBy("qid", "rank")
    )


@register("d30_embedding_near_dup", oracle=None)
def d30_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed. Non-oracle
    (bucket recall is probabilistic); pytest asserts every reported pair
    clears the threshold with exact cosine.

    Threshold/bucketing tuned to the synthetic embeddings (near-uniform,
    max pairwise cosine ~0.4): 0.35 with 6-bit x 16-table keys surfaces the
    closest pairs. Real near-dup detection (copies at cosine ~1) uses the
    function defaults (0.95, 10-bit keys) — fewer candidates per table."""
    e = Catalog(spark, sf_dir).embeddings
    return embedding_near_dup_pairs(
        e, threshold=0.35, tables=16, bits=6
    ).orderBy("id_a", "id_b")


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = 0.95, tables: int = 8, bits: int = 10
) -> DataFrame:
    """Embedding-cosine near-dup detection, LSH-bucketed: pairs sharing any
    (table, bucket) -> exact cosine -> keep pairs >= threshold. High-cosine
    pairs (the near-dups) collide in some table with near-certainty while
    random pairs rarely do, so candidate volume stays linear-ish."""
    bucketed = hyperplane_buckets(
        emb, "embedding", tables=tables, bits=bits, seed=7
    ).select("vec_id", "embedding", "lsh_table", "lsh_bucket")
    a = bucketed.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("lsh_table").alias("ta"),
        F.col("lsh_bucket").alias("ba"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("lsh_table").alias("tb"),
        F.col("lsh_bucket").alias("bb"),
    )
    return (
        a.join(
            b,
            (F.col("ta") == F.col("tb"))
            & (F.col("ba") == F.col("bb"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", F.round(_cosine_batch("va", "vb"), 4).alias("sim"))
        # threshold BEFORE dedup: collisions are re-scored per table (cheap
        # vectorized matmul); the dedup shuffle then carries only the few
        # qualifying (id, id, sim) triples instead of every candidate's
        # vector payloads
        .where(F.col("sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------------------------
# D30 extension — L2-normalize + int8 scalar quantization (long form)
# --------------------------------------------------------------------------
@register(
    "d30_quantize_int8",
    oracle="""
    SELECT vec_id, pos,
           CAST(ROUND(
             CAST(embedding[pos] AS DOUBLE)
             / sqrt(list_sum(list_transform(embedding,
                                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * 127) AS INTEGER) AS qval
    FROM embeddings, (SELECT UNNEST(range(1, 65)) AS pos)
    ORDER BY vec_id, pos
    """,
)
def d30_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize each embedding and scalar-quantize to int8 (×127), in
    long (vec_id, pos, qval) form — the standard 4× footprint reduction
    before ANN indexing. All math is JVM-side higher-order functions on
    doubles (floats are widened FIRST so Spark and the oracle run identical
    double arithmetic); per-row work only, no shuffle before the final
    presentation sort. 1-based pos matches SQL ordinality."""
    e = Catalog(spark, sf_dir).embeddings
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        e.select("vec_id", nrm.alias("nrm"), F.posexplode("embedding"))
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("pos"),
            F.round(F.col("col").cast("double") / F.col("nrm") * 127, 0)
            .cast("int")
            .alias("qval"),
        )
        .orderBy("vec_id", "pos")
    )


# --------------------------------------------------------------------------
# D30 extension — product quantization (PQ) ANN with ADC scoring + exact
# re-rank: the memory-compression scale path (64 doubles -> M bytes/vector)
# --------------------------------------------------------------------------
PQ_M, PQ_K = 8, 256  # 8 subspaces x 256 centroids -> 8 uint8 bytes per
#   vector: the standard PQ configuration. K=256 over K=16 costs nothing in
#   code footprint and an M x 256 distance table per query (2 KB) in the
#   ADC scan, but cuts quantization error enough to lift recall@10 from
#   0.46 to ~1.0 at the same rerank budget (measured at sf0.1, r6)
PQ_TRAIN_CAP = 2048  # codebook training sample ceiling (see docstring)
PQ_RERANK = 200  # floor of ADC candidates re-ranked exactly per query
PQ_RERANK_FRAC = 0.1  # rerank budget as a corpus fraction (recall knob)
PQ_RERANK_CAP = 1000  # hydration-join ceiling: beyond this, recall comes
#   from finer codes (raise PQ_M/PQ_K) or IVF cell confinement, never from
#   an unbounded exact re-rank


def _sqdist(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Pairwise squared distances (n, k) via the ||x||^2 - 2xc + ||c||^2
    expansion — one BLAS matmul instead of an (n, k, d) broadcast tensor;
    at K=256 this is the difference between ~0.1 s and multi-second
    training/encode/ADC passes. Ranking-safe: monotone in true distance
    (fp dust never reorders by more than ~1e-9 relative)."""
    return (
        (x * x).sum(-1)[:, None] - 2.0 * (x @ c.T) + (c * c).sum(-1)[None, :]
    )


def _pq_train_codebooks(emb: DataFrame, seed: int = 42) -> np.ndarray:
    """Train per-subspace codebooks with seeded Lloyd iterations on a
    BOUNDED deterministic sample (md5-bucket membership, capped at
    PQ_TRAIN_CAP rows). Training on a small reservoir is the standard PQ
    recipe (codebooks need the distribution's shape, not the corpus): the
    driver-side collect here is capacity-bounded by construction and
    independent of corpus size — the full corpus is only ever touched by
    the distributed encode pass. Returns (M, K, dsub) float64."""
    from conceptnetwork_spark.operators.sampling import hash_bucket

    n = emb.count()
    pct = max(1, min(100, int(100 * PQ_TRAIN_CAP / max(n, 1))))
    sample = (
        emb.where(hash_bucket(F.col("vec_id")) < pct)
        .select("embedding")
        .limit(PQ_TRAIN_CAP)
        .toPandas()
    )
    x = np.vstack(sample["embedding"].to_numpy()).astype(np.float64)
    dim = x.shape[1]
    dsub = dim // PQ_M
    rng = np.random.default_rng(seed)
    books = np.empty((PQ_M, PQ_K, dsub))
    for m in range(PQ_M):
        xs = x[:, m * dsub : (m + 1) * dsub]
        # seeded k-means++ init then 10 Lloyd rounds — deterministic.
        # The init keeps a RUNNING min-distance (classic k-means++): each
        # new center only pays one n x dsub distance pass, so K=256 init
        # is O(K n dsub), not O(K^2 n dsub)
        centers = np.empty((PQ_K, dsub))
        centers[0] = xs[rng.choice(len(xs))]
        min_d2 = ((xs - centers[0]) ** 2).sum(-1)
        for j in range(1, PQ_K):
            p = min_d2 / min_d2.sum()
            centers[j] = xs[rng.choice(len(xs), p=p)]
            min_d2 = np.minimum(min_d2, ((xs - centers[j]) ** 2).sum(-1))
        # 5 Lloyd rounds: PQ codebooks need the distribution's shape,
        # not convergence — recall@10 is identical at 5 vs 10 rounds
        # (measured at sf0.1, r6) and training is a serve-path-visible
        # cost only on a cold index build
        for _ in range(5):
            assign = _sqdist(xs, centers).argmin(1)
            # vectorized per-centroid mean: scatter-add sums per dimension
            counts = np.bincount(assign, minlength=PQ_K)
            sums = np.zeros((PQ_K, dsub))
            np.add.at(sums, assign, xs)
            nz = counts > 0
            centers[nz] = sums[nz] / counts[nz, None]
        books[m] = centers
    return books


def pq_encode(emb: DataFrame, books: np.ndarray) -> DataFrame:
    """Distributed PQ encode: vec -> M uint8 codes. One vectorized numpy
    argmin per Arrow batch against the broadcast codebooks; output is
    (vec_id, codes) — the 8-byte representation that makes a 100 TB vector
    corpus fit a fraction of the executors' memory."""
    spark = emb.sparkSession
    b_books = spark.sparkContext.broadcast(books)

    def encode(batches):
        bk = b_books.value  # (M, K, dsub)
        dsub = bk.shape[2]
        for pdf in batches:
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = np.empty((len(x), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                xs = x[:, m * dsub : (m + 1) * dsub]
                codes[:, m] = _sqdist(xs, bk[m]).argmin(1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id long, codes array<int>"
    )


def stage_clustered_embeddings(
    n: int = 20000,
    dim: int = 64,
    k: int = 12,
    seed: int = 7,
    mean_scale: float = 0.7,
    scale_lo: float = 0.35,
    scale_hi: float = 1.3,
) -> str:
    """Stage a CLUSTERED / ANISOTROPIC embedding fixture (VERDICT r6 ask
    #5): the driver testdata's synthetic vectors are near-uniform on the
    sphere (top-10 cosine ~0.3; the Zipf fit flags the corpus as
    non-natural), which makes recall floors non-discriminating — PQ hit
    1.00 trivially. Real embedding spaces are clustered and anisotropic,
    so this fixture draws a mixture of K Gaussians with

    - Zipf-skewed cluster mass (w_c proportional to 1/(c+1): one dominant
      cluster, a long tail — the hard case for IVF probe budgets),
    - per-cluster anisotropic axis scales (log-uniform in [0.05, 0.6] per
      dimension — elongated ellipsoids, the hard case for hyperplane LSH),
    - a shared random rotation (QR of a Gaussian matrix), so clusters are
      NOT axis-aligned — the hard case for PQ's independent-subspace
      quantizer.

    Deterministic (seeded), pyarrow-only. Returns a directory laid out
    like a scale-factor dir (embeddings.parquet with the same
    vec_id/embedding/label schema), so every d30 ANN query runs on it
    unchanged with the fixture path as sf_dir. Row order is a seeded
    permutation, so the query set (vec_id < 5) spans clusters instead of
    landing in the dominant one.

    Default n is 10x the sf0.1 corpus: at 2,000 vectors every retriever's
    candidate budget (LSH 24x4-bit tables, IVF 14/32 probed cells, PQ 10%
    rerank) covers essentially the whole corpus and recall saturates at
    1.00 regardless of data shape — measured across mean_scale 0.7-1.4.
    At 20,000 the budgets bind (PQ measured 0.98) and the floors actually
    discriminate a broken retriever from a working one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        rng = np.random.RandomState(seed)
        # Zipf cluster mass -> integer counts summing to n
        w = 1.0 / (np.arange(k) + 1.0)
        w /= w.sum()
        counts = np.floor(w * n).astype(int)
        counts[0] += n - counts.sum()
        means = rng.randn(k, dim) * mean_scale
        rot = np.linalg.qr(rng.randn(dim, dim))[0]
        parts, labels = [], []
        for c in range(k):
            scales = np.exp(rng.uniform(np.log(scale_lo), np.log(scale_hi), size=dim))
            parts.append(means[c] + rng.randn(counts[c], dim) * scales)
            labels.append(np.full(counts[c], c))
        x = (np.vstack(parts) @ rot.T).astype(np.float32)
        lab = np.concatenate(labels).astype(np.int32)
        perm = rng.permutation(n)
        x, lab = x[perm], lab[perm]
        table = pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": pa.array(list(x), pa.list_(pa.float32())),
                "label": pa.array(lab),
            }
        )
        pq.write_table(table, os.path.join(tmp, "embeddings.parquet"))

    return staged(
        f"annfix_{n}_{dim}_{k}_{seed}_{mean_scale}_{scale_lo}_{scale_hi}", build
    )


# In-process ANN index cache: codebooks + encoded codes (and IVF cells)
# are an INDEX — built once per (session, corpus), then served. Real
# deployments materialize exactly these artifacts (codes table, centroid
# list) to storage; rebuilding them per query would be architectural
# nonsense at any scale. Cold-build cost stays visible in the one-shot
# bench sweep; the headline bench times the serve path, as production
# would. Keyed by (applicationId, sf_dir) — applicationId is unique per
# JVM app, so a recycled Python object id can never alias a dead
# session's persisted index. DataFrames are persisted and bounded
# (8-byte codes / cell ids per vector).
_PQ_INDEX_CACHE: dict = {}
_IVF_INDEX_CACHE: dict = {}


def _evict_dead_sessions(cache: dict, live_app_id: str) -> None:
    """Drop index entries built under a previous Spark application: their
    persisted DataFrames reference a dead (or superseded) session, and a
    long-lived Python process that restarts Spark or touches many corpora
    would otherwise grow the cache without bound. unpersist() is attempted
    best-effort (the old JVM may already be gone)."""
    for key in [k for k in cache if k[0] != live_app_id]:
        entry = cache.pop(key)
        for part in entry if isinstance(entry, tuple) else (entry,):
            if isinstance(part, DataFrame):
                try:
                    part.unpersist()
                except Exception:
                    pass


def _pq_index(spark: SparkSession, sf_dir: str, emb: DataFrame):
    key = (spark.sparkContext.applicationId, sf_dir)
    _evict_dead_sessions(_PQ_INDEX_CACHE, key[0])
    if key not in _PQ_INDEX_CACHE:
        books = _pq_train_codebooks(emb)
        codes = pq_encode(emb, books).persist()
        codes.count()  # materialize the index eagerly
        _PQ_INDEX_CACHE[key] = (books, codes)
    return _PQ_INDEX_CACHE[key]


def _ivf_index(spark: SparkSession, sf_dir: str, emb: DataFrame):
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    key = (spark.sparkContext.applicationId, sf_dir)
    _evict_dead_sessions(_IVF_INDEX_CACHE, key[0])
    if key not in _IVF_INDEX_CACHE:
        vecs = emb.withColumn(
            "fv", array_to_vector(F.col("embedding").cast("array<double>"))
        )
        # maxIter=8: the quantizer only needs coarse cells, not converged
        # centroids — recall is governed by probe coverage
        km = KMeans(k=IVF_K, seed=42, maxIter=8, featuresCol="fv",
                    predictionCol="cell")
        model = km.fit(vecs)
        assigned = model.transform(vecs).select(
            "vec_id", "embedding", "cell"
        ).persist()
        assigned.count()
        centers = np.array([np.asarray(c) for c in model.clusterCenters()])
        _IVF_INDEX_CACHE[key] = (centers, assigned)
    return _IVF_INDEX_CACHE[key]


@register("d30_pq_ann", oracle=None)
def d30_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ANN: asymmetric-distance (ADC) scan over 8-byte PQ codes, then
    exact cosine re-rank of the top PQ_RERANK candidates per query.

    Scale shape: the corpus is touched by (1) the bounded codebook-training
    sample, (2) one distributed encode pass, (3) the ADC scan — which reads
    ONLY (vec_id, 8 int codes), never the vectors; the per-batch score is a
    table lookup-sum against the query's (M x K) distance table. Exact
    re-rank hydrates vectors for just rerank-budget x |queries| rows via an
    equi-join (budget corpus-proportional, floor PQ_RERANK, hard cap
    PQ_RERANK_CAP). Non-oracle (codebook assignment is engine/seed-defined);
    pytest checks recall@10 vs d30_knn_exact after re-rank."""
    e = Catalog(spark, sf_dir).embeddings
    books, codes = _pq_index(spark, sf_dir, e)
    # rerank budget scales with the corpus (fixed-50 was 10% of the sf0.01
    # corpus but 2.5% at sf0.1 and recall@10 measurably sagged 0.5 -> 0.36);
    # the cap bounds the exact-rerank hydration join at real scale
    rerank = min(PQ_RERANK_CAP, max(PQ_RERANK, int(e.count() * PQ_RERANK_FRAC)))

    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    scored = codes.join(F.broadcast(queries)).where(
        F.col("qid") != F.col("vec_id")
    )

    b_books = spark.sparkContext.broadcast(books)

    @F.pandas_udf(DoubleType())
    def adc_dist(qvec: pd.Series, codes_s: pd.Series) -> pd.Series:
        bk = b_books.value
        dsub = bk.shape[2]
        q = np.vstack(qvec.to_numpy()).astype(np.float64)
        c = np.vstack(codes_s.to_numpy()).astype(np.int64)
        # distance tables per DISTINCT query (queries are broadcast, so a
        # batch holds very few), then a pure table-lookup sum per row —
        # the classic ADC shape: O(|q| M K dsub) table build + O(N M)
        # lookups, never an (N, K, dsub) tensor
        uq, inv = np.unique(q, axis=0, return_inverse=True)
        out = np.zeros(len(q))
        for m in range(PQ_M):
            tbl = _sqdist(uq[:, m * dsub : (m + 1) * dsub], bk[m])  # (U, K)
            out += tbl[inv, c[:, m]]
        return pd.Series(out)

    w = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("vec_id"))
    cand = (
        scored.withColumn("adc", adc_dist("qvec", "codes"))
        .withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= rerank)
        .select("qid", "qvec", "vec_id")
    )
    # exact re-rank: hydrate candidate vectors (PQ_RERANK x |queries| rows).
    # The candidate side is bounded by construction (rerank cap x |queries|),
    # so BROADCAST it: the corpus scan stays map-side instead of shuffling
    # every vector by vec_id into a sort-merge join (2 Exchange + sorts
    # removed; scale-correct because the bound is the hard PQ_RERANK_CAP).
    rer = F.broadcast(cand).join(
        e.select(F.col("vec_id"), F.col("embedding").alias("cvec")), "vec_id"
    ).withColumn("sim", F.round(_cosine_batch("qvec", "cvec"), 4))
    w2 = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= 10)
        .select("qid", "rank", "vec_id", "sim")
        .orderBy("qid", "rank")
    )


@register("d30_ivf_pq", oracle=None)
def d30_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed (the FAISS ``IVFx,PQy`` index, simplified to
    raw-vector codebooks): a KMeans coarse quantizer confines the search
    to the query's nprobe nearest cells, the ADC scan inside those cells
    reads ONLY 8-byte PQ codes, and the survivors are exactly re-ranked
    from hydrated vectors. Each stage reuses the standalone operator's
    machinery (d30_ivf_ann cells + probe ranking, d30_pq_ann codebooks +
    ADC + re-rank), so this is the composition test: at 100 TB the corpus
    is bucketed by cell, each query reads nprobe/k of the CODE table
    (nprobe/k x corpus/32 bytes), and full vectors surface only for the
    rerank-budget x |queries| hydration join.

    Non-oracle (cell + codebook assignment are engine/seed-defined);
    pytest checks recall@10 vs d30_knn_exact."""
    k, nprobe = IVF_K, IVF_NPROBE
    e = Catalog(spark, sf_dir).embeddings
    centers, assigned = _ivf_index(spark, sf_dir, e)
    books, codes_flat = _pq_index(spark, sf_dir, e)
    codes = codes_flat.join(assigned.select("vec_id", "cell"), "vec_id")
    rerank = min(PQ_RERANK_CAP, max(PQ_RERANK, int(e.count() * PQ_RERANK_FRAC)))

    cent_df = spark.createDataFrame(
        [(int(c), [float(x) for x in centers[c]]) for c in range(k)],
        "cell int, cvec array<double>",
    )
    d2q = F.aggregate(
        F.zip_with(
            F.col("qvec").cast("array<double>"),
            F.col("cvec"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("cell"))
    q = (
        e.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .crossJoin(F.broadcast(cent_df))
        .withColumn("d2", d2q)
        .withColumn("prank", F.row_number().over(wp))
        .where(F.col("prank") <= nprobe)
        .select("qid", "qvec", "cell")
    )

    b_books = spark.sparkContext.broadcast(books)

    @F.pandas_udf(DoubleType())
    def adc_dist(qvec: pd.Series, codes_s: pd.Series) -> pd.Series:
        bk = b_books.value
        dsub = bk.shape[2]
        qm = np.vstack(qvec.to_numpy()).astype(np.float64)
        c = np.vstack(codes_s.to_numpy()).astype(np.int64)
        # per-distinct-query tables + lookups (see d30_pq_ann's adc_dist)
        uq, inv = np.unique(qm, axis=0, return_inverse=True)
        out = np.zeros(len(qm))
        for m in range(PQ_M):
            tbl = _sqdist(uq[:, m * dsub : (m + 1) * dsub], bk[m])
            out += tbl[inv, c[:, m]]
        return pd.Series(out)

    # cell-confined ADC: the join key is the probed cell, so each query
    # only scores codes inside its nprobe cells
    scored = codes.join(F.broadcast(q), ["cell"]).where(
        F.col("qid") != F.col("vec_id")
    )
    wc = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("vec_id"))
    cand = (
        scored.withColumn("adc", adc_dist("qvec", "codes"))
        .withColumn("crank", F.row_number().over(wc))
        .where(F.col("crank") <= rerank)
        .select("qid", "qvec", "vec_id")
    )
    # bounded candidate side broadcast — same rationale as d30_pq_ann's
    # rerank join (corpus scan stays map-side, no vec_id shuffle of vectors)
    rer = F.broadcast(cand).join(
        e.select(F.col("vec_id"), F.col("embedding").alias("cvec")), "vec_id"
    ).withColumn("sim", F.round(_cosine_batch("qvec", "cvec"), 4))
    w2 = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= 10)
        .select("qid", "rank", "vec_id", "sim")
        .orderBy("qid", "rank")
    )


# --------------------------------------------------------------------------
# D30g — semantic dedup (SemDeDup-style: cluster, then prune within cells)
# --------------------------------------------------------------------------
SEMDEDUP_K = 16
SEMDEDUP_TAU = 0.95


@register("d30_semantic_dedup", oracle=None)
def d30_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023):
    cluster the embedding space with seeded KMeans, compare vectors only
    WITHIN their cluster, and drop every vector whose cosine to a
    lower-id cluster-mate exceeds SEMDEDUP_TAU (keep the min vec_id as
    canonical). Returns every vector with its cluster, keep/drop decision
    and the canonical it duplicates.

    Scale shape: clustering is the whole trick — the quadratic verify is
    confined to one cell, so with k grown proportionally to n the
    per-cell work is constant and the job is embarrassingly parallel
    across cells (at 100 TB: one applyInPandas-free equi-self-join per
    cell, physically bucketed by cell id). Non-oracle (KMeans assignment
    is engine-defined); the pytest plants exact-duplicate embeddings and
    asserts they always land in one cell and the higher ids are dropped,
    plus determinism across runs via the fixed seed."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = Catalog(spark, sf_dir).embeddings
    vecs = e.withColumn(
        "fv", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    km = KMeans(
        k=SEMDEDUP_K, seed=42, maxIter=8, featuresCol="fv", predictionCol="cell"
    )
    assigned = (
        km.fit(vecs).transform(vecs).select("vec_id", "embedding", "cell")
    )
    a = assigned.alias("a")
    b = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("other_id"),
        F.col("embedding").alias("other_emb"),
    ).alias("b")
    # within-cell, lower-id mates only: the candidate set is the SemDeDup
    # quadratic, bounded by cell size
    pairs = a.join(b, "cell").where(F.col("other_id") < F.col("vec_id"))
    sims = pairs.withColumn(
        "sim", _cosine_batch(F.col("embedding"), F.col("other_emb"))
    )
    dup_of = (
        sims.where(F.col("sim") >= SEMDEDUP_TAU)
        .groupBy("vec_id")
        .agg(F.min("other_id").alias("dup_of"))
    )
    return (
        assigned.join(dup_of, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Metadata-FILTERED exact kNN (pre-filter semantics — the vector-search
# feature most engines get wrong by post-filtering a fixed candidate list)
# --------------------------------------------------------------------------
@register(
    "d30_filtered_knn",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             ROUND(
               list_sum(list_transform(list_zip(q.qvec, e.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qvec,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) + 0.0 AS sim
      FROM q JOIN embeddings e
        ON e.vec_id <> q.qid AND e.label = q.qlabel
    )
    SELECT qid, rank, vec_id, sim FROM (
      SELECT qid, vec_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, vec_id) AS INTEGER)
               AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY qid, rank
    """,
)
def d30_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact kNN: top-10 cosine neighbors restricted to
    the query's OWN label class — PRE-filter semantics (the predicate
    shrinks the scored set, so every query still gets k results from its
    class) rather than post-filtering a fixed candidate list (which
    silently returns <k when the filter is selective). The shape behind
    'nearest duplicates in the same language/domain' in corpus curation.

    Scale shape: identical to d30_knn_exact — queries broadcast, corpus
    never shuffles — plus the label equi-condition folds into the join, so
    the scorer touches only the matching class partitions. With a
    selective filter at 100 TB, pre-filter beats post-filter both ways:
    fewer rows scored AND no recall loss."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    scored = emb.withColumn("__cn", _norm(F.col("embedding"))).join(
        F.broadcast(queries.withColumn("__qn", _norm(F.col("qvec")))),
        (F.col("qid") != F.col("vec_id")) & (F.col("label") == F.col("qlabel")),
    ).withColumn(
        "sim",
        F.round(
            _dot(F.col("qvec"), F.col("embedding"))
            / (F.col("__qn") * F.col("__cn")),
            4,
        )
        + F.lit(0.0),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("qid", "rank", "vec_id", "sim")
        .orderBy("qid", "rank")
    )


# --------------------------------------------------------------------------
# Range (radius) search — all neighbors above a similarity floor, the
# variable-cardinality dual of top-k
# --------------------------------------------------------------------------
RANGE_SIM_FLOOR = 0.25


@register(
    "d30_range_search",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5
    )
    SELECT qid, vec_id, sim FROM (
      SELECT q.qid, e.vec_id,
             ROUND(
               list_sum(list_transform(list_zip(q.qvec, e.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qvec,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
      FROM q JOIN embeddings e ON e.vec_id <> q.qid
    ) WHERE sim >= {RANGE_SIM_FLOOR}
    ORDER BY qid, vec_id
    """,
)
def d30_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search: ALL corpus vectors within a cosine-similarity floor
    of each query — the variable-cardinality dual of top-k (dedup and
    recall jobs want 'everything this close', not 'the closest k'; a
    near-dup query may legitimately return 0 or 500 neighbors). No window,
    no rank: the floor is a plain filter on the scored stream.

    Scale shape: queries broadcast, corpus never shuffles, and because
    there is no per-query top-k there is NO window exchange at all — the
    whole query is scan → broadcast-join → filter, strictly cheaper than
    kNN. The LSH/IVF variants (d30_lsh_ann, d30_ivf_ann) bound the scored
    set when the corpus is 100 TB; this is their exact-answer baseline."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    scored = emb.withColumn("__cn", _norm(F.col("embedding"))).join(
        F.broadcast(queries.withColumn("__qn", _norm(F.col("qvec")))),
        F.col("qid") != F.col("vec_id"),
    ).select(
        "qid",
        "vec_id",
        F.round(
            _dot(F.col("qvec"), F.col("embedding"))
            / (F.col("__qn") * F.col("__cn")),
            4,
        ).alias("sim"),
    )
    return scored.where(F.col("sim") >= RANGE_SIM_FLOOR).orderBy(
        "qid", "vec_id"
    )


# --------------------------------------------------------------------------
# D30 extension — maximum-inner-product search (MIPS) top-k
# --------------------------------------------------------------------------
@register(
    "d30_mips_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qvec FROM embeddings
      WHERE vec_id >= 5 AND vec_id < 10
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             ROUND(list_sum(list_transform(list_zip(q.qvec, e.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) + 0.0 AS ip
      FROM q JOIN embeddings e ON e.vec_id <> q.qid
    )
    SELECT qid, rank, vec_id, ip FROM (
      SELECT qid, vec_id, ip,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY ip DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY qid, rank
    """,
)
def d30_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (un-normalized retrieval scoring, the
    ranking used by dot-product-trained retrievers where vector norm IS
    signal): exact top-10 by inner product for a broadcast query set.
    Scores are rounded to 4 decimals BEFORE ranking in both engines so
    rank order (vec_id tiebreak) is engine-independent.

    Scale shape: identical to d30_knn_exact — queries broadcast, corpus
    never shuffles, per-query window top-k. The standard scale-out is the
    norm-augmentation reduction (Neyshabur & Srebro: append
    sqrt(M^2-|x|^2) to corpus vectors, 0 to queries) which turns MIPS
    into cosine ANN and reuses the LSH/IVF/PQ paths (d30_lsh_ann etc.)
    unchanged."""
    e = Catalog(spark, sf_dir).embeddings
    q = e.where((F.col("vec_id") >= 5) & (F.col("vec_id") < 10)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    scored = e.join(F.broadcast(q), F.col("qid") != F.col("vec_id")).withColumn(
        "ip", F.round(_dot(F.col("qvec"), F.col("embedding")), 4) + F.lit(0.0)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("ip"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("qid", "rank", "vec_id", "ip")
        .orderBy("qid", "rank")
    )


# --------------------------------------------------------------------------
# D30 extension — truncated-dimension (matryoshka-style) retrieval
# --------------------------------------------------------------------------
MATRYOSHKA_DIMS = 16


@register(
    "d30_matryoshka_knn",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding[1:{MATRYOSHKA_DIMS}] AS qvec
      FROM embeddings WHERE vec_id >= 10 AND vec_id < 15
    ),
    c AS (
      SELECT vec_id, embedding[1:{MATRYOSHKA_DIMS}] AS cvec FROM embeddings
    ),
    scored AS (
      SELECT q.qid, c.vec_id,
             ROUND(
               list_sum(list_transform(list_zip(q.qvec, c.cvec),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qvec,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.cvec,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) + 0.0 AS sim
      FROM q JOIN c ON c.vec_id <> q.qid
    )
    SELECT qid, rank, vec_id, sim FROM (
      SELECT qid, vec_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY qid, rank
    """,
)
def d30_matryoshka_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension retrieval (matryoshka-style): exact cosine
    top-10 using only the FIRST 16 of 64 dimensions — the coarse-search
    trick nested-representation embeddings enable (score cheap on a
    prefix, re-rank survivors on full dims; 4x less vector I/O and
    arithmetic in the scan stage). Oracle-exact on the truncated space;
    the recall-vs-full-dims floor is pytest-pinned separately (prefix
    dims of the synthetic embeddings still carry the planted cluster
    signal).

    Scale shape: identical broadcast-queries plan to d30_knn_exact, but
    the corpus projection is slice(embedding, 1, 16) — pushed into the
    scan projection, so a columnar store with sub-array pruning (or a
    pre-materialized prefix column) reads a quarter of the vector
    bytes."""
    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", F.slice("embedding", 1, MATRYOSHKA_DIMS).alias("cvec")
    )
    q = e.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 15)).select(
        F.col("vec_id").alias("qid"), F.col("cvec").alias("qvec")
    )
    scored = e.withColumn("__cn", _norm(F.col("cvec"))).join(
        F.broadcast(q.withColumn("__qn", _norm(F.col("qvec")))),
        F.col("qid") != F.col("vec_id"),
    ).withColumn(
        "sim",
        F.round(
            _dot(F.col("qvec"), F.col("cvec")) / (F.col("__qn") * F.col("__cn")),
            4,
        )
        + F.lit(0.0),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("qid", "rank", "vec_id", "sim")
        .orderBy("qid", "rank")
    )


# --------------------------------------------------------------------------
# D30 extension (round 5) — HYBRID retrieval via Reciprocal-Rank Fusion:
# the standard way modern search stacks combine a lexical (BM25) leg and a
# vector (cosine) leg without score calibration.
# --------------------------------------------------------------------------
RRF_K = 60
RRF_LEG_DEPTH = 100
RRF_TOPN = 20
RRF_QUERY_VEC_ID = 0


def _hybrid_rrf_oracle() -> str:
    from conceptnetwork_spark.operators.text import (
        BM25_B,
        BM25_K1,
        BM25_QUERY_TERMS,
    )

    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ), corpus AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN {tuple(BM25_QUERY_TERMS)!r} GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), bm25 AS (
      SELECT tf.doc_id,
             ROUND(SUM(
               ln(1 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / corpus.avgdl))
             ), 4) AS score
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus
      GROUP BY tf.doc_id
    ), lex AS (
      SELECT doc_id, r_lex FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_lex
        FROM bm25
      ) WHERE r_lex <= {RRF_LEG_DEPTH}
    ), q AS (
      SELECT embedding AS qvec FROM embeddings
      WHERE vec_id = {RRF_QUERY_VEC_ID}
    ), cos AS (
      SELECT e.vec_id AS doc_id,
             ROUND(
               list_sum(list_transform(list_zip(q.qvec, e.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qvec,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
               AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {RRF_QUERY_VEC_ID}
    ), vec AS (
      SELECT doc_id, r_vec FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS r_vec
        FROM cos
      ) WHERE r_vec <= {RRF_LEG_DEPTH}
    ), fused AS (
      SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
             CAST(COALESCE(lex.r_lex, -1) AS BIGINT) AS r_lex,
             CAST(COALESCE(vec.r_vec, -1) AS BIGINT) AS r_vec,
             ROUND(
               CASE WHEN lex.r_lex IS NULL THEN 0.0
                    ELSE 1.0 / ({RRF_K} + lex.r_lex) END
               + CASE WHEN vec.r_vec IS NULL THEN 0.0
                      ELSE 1.0 / ({RRF_K} + vec.r_vec) END, 6) AS rrf
      FROM lex FULL OUTER JOIN vec USING (doc_id)
    )
    SELECT doc_id, r_lex, r_vec, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {RRF_TOPN}
    """


@register("d30_hybrid_rrf", oracle=_hybrid_rrf_oracle)
def d30_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval with Reciprocal-Rank Fusion: a lexical BM25 leg
    (d31_bm25's exact scorer over BM25_QUERY_TERMS) and a vector cosine leg
    (one query embedding vs the corpus) each contribute their top-100 RANK
    list; fused score = Σ 1/(60 + rank) over the legs a document appears
    in — rank-only fusion, so the incomparable BM25 and cosine scales
    never need calibration. Ranks break float ties on doc_id AFTER the
    repo-wide ROUND(·, 4), keeping both engines' rank lists identical;
    missing-leg ranks surface as -1 so the audit columns stay integer.

    Scale shape: each leg is its existing scale-shaped pipeline (BM25:
    filtered explode + broadcast stats; cosine: broadcast single query,
    unshuffled corpus) feeding a top-RRF_LEG_DEPTH rank list — the global
    rank window only ever orders CANDIDATE lists, which a production stack
    bounds by its index (ANN buckets / posting lists) long before this
    final, tiny fusion join."""
    from conceptnetwork_spark.operators.text import bm25_scores

    d = Catalog(spark, sf_dir).documents
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    wl = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex = (
        bm25_scores(d)
        .withColumn("r_lex", F.row_number().over(wl))
        .where(F.col("r_lex") <= RRF_LEG_DEPTH)
        .select("doc_id", "r_lex")
    )
    q = emb.where(F.col("vec_id") == RRF_QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    cos = (
        emb.where(F.col("vec_id") != RRF_QUERY_VEC_ID)
        .withColumn("__cn", _norm(F.col("embedding")))
        .crossJoin(F.broadcast(q.withColumn("__qn", _norm(F.col("qvec")))))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot(F.col("qvec"), F.col("embedding"))
                / (F.col("__qn") * F.col("__cn")),
                4,
            ).alias("sim"),
        )
    )
    wv = Window.orderBy(F.desc("sim"), F.asc("doc_id"))
    vec = (
        cos.withColumn("r_vec", F.row_number().over(wv))
        .where(F.col("r_vec") <= RRF_LEG_DEPTH)
        .select("doc_id", "r_vec")
    )
    fused = (
        lex.join(vec, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce("r_lex", F.lit(-1)).cast("long").alias("r_lex"),
            F.coalesce("r_vec", F.lit(-1)).cast("long").alias("r_vec"),
            F.round(
                F.when(
                    F.col("r_lex").isNotNull(), 1.0 / (RRF_K + F.col("r_lex"))
                ).otherwise(0.0)
                + F.when(
                    F.col("r_vec").isNotNull(), 1.0 / (RRF_K + F.col("r_vec"))
                ).otherwise(0.0),
                6,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(RRF_TOPN)


# --------------------------------------------------------------------------
# D30 (cont.) — MMR diversified re-ranking   [round-6 wave 3]
# --------------------------------------------------------------------------
MMR_QUERY_VEC_ID = 0
MMR_POOL = 50      # relevance-ranked candidate pool fed to the re-ranker
MMR_K = 10         # diversified results returned
MMR_LAMBDA = 0.7   # relevance weight; (1-lambda) penalizes redundancy


def _mmr_select(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy maximal-marginal-relevance over one (small) candidate pool.
    All comparisons run on values rounded to 6dp with vec_id tiebreaks, so
    the selection is bit-deterministic across partitionings and platforms."""
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = np.round(V @ V.T, 6)  # candidate-candidate cosine
    rel = np.round(pdf["sim"].to_numpy().astype(np.float64), 6)
    ids = pdf["vec_id"].to_numpy()
    selected: list[int] = []
    remaining = list(range(len(pdf)))
    scores: list[float] = []
    while remaining and len(selected) < MMR_K:
        if selected:
            red = C[np.ix_(remaining, selected)].max(axis=1)
        else:
            red = np.zeros(len(remaining))
        sc = np.round(MMR_LAMBDA * rel[remaining] - (1 - MMR_LAMBDA) * red, 6)
        best = max(range(len(remaining)), key=lambda i: (sc[i], -ids[remaining[i]]))
        selected.append(remaining[best])
        scores.append(float(sc[best]))
        remaining.pop(best)
    return pd.DataFrame(
        {
            "rank": np.arange(1, len(selected) + 1, dtype=np.int32),
            "vec_id": ids[selected],
            "rel": np.round(rel[selected], 4),
            "mmr": np.round(scores, 4),
        }
    )


@register("d30_mmr_rerank")  # greedy argmax chain: not SQL-expressible —
# pytest pins exact equivalence vs an independent numpy reference plus the
# diversity property (tests/test_similarity.py)
def d30_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: fetch a relevance-ranked pool
    (exact cosine top-MMR_POOL, same scale path as d30_knn_exact), then
    greedily pick MMR_K results maximizing λ·relevance − (1−λ)·max-sim-to-
    already-picked — the standard redundancy-removal stage between ANN
    retrieval and an LLM context window.

    Scale shape (100 TB): the corpus-sized work is the pooled top-k scan
    (broadcast query, corpus never shuffles, TakeOrdered-style window
    top-k); the re-rank is O(POOL²) on a ≤50-row pandas frame inside ONE
    applyInPandas group — bounded by construction, never corpus-sized.
    The greedy chain is inherently sequential, so pushing it into a
    bounded single group is the honest distributed decomposition."""
    e = Catalog(spark, sf_dir).embeddings
    q = e.where(F.col("vec_id") == MMR_QUERY_VEC_ID).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    pool = cosine_topk(q, e, k=MMR_POOL).select("vec_id", "sim")
    cand = pool.join(e.select("vec_id", "embedding"), "vec_id")
    out = cand.groupBy(F.lit(1).alias("g")).applyInPandas(
        lambda key, pdf: _mmr_select(pdf),
        schema="rank int, vec_id long, rel double, mmr double",
    )
    return out.orderBy("rank")


# --------------------------------------------------------------------------
# D30 extension — ColBERT-style late interaction (MaxSim): multi-vector
# retrieval scoring. Each "document" is a bag of token embeddings (here:
# a label's first 8 vectors); the query is itself a bag (the 4 lowest
# vec_ids); score(doc) = sum over query tokens of the MAX dot product
# against any doc token. This is the retrieval scorer that beats
# single-vector cosine on long documents, expressed relationally.
# --------------------------------------------------------------------------
MAXSIM_Q = 4  # query tokens
MAXSIM_T = 8  # doc tokens per label


@register(
    "d30_maxsim",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      ORDER BY vec_id LIMIT {MAXSIM_Q}
    ), toks AS (
      SELECT label, vec_id, embedding FROM (
        SELECT label, vec_id, embedding,
               ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
        FROM embeddings
      ) WHERE rn <= {MAXSIM_T}
    ), dots AS (
      SELECT t.label, q.q_id,
             MAX(list_dot_product(CAST(t.embedding AS DOUBLE[]),
                                  CAST(q.q_emb AS DOUBLE[]))) AS m
      FROM toks t CROSS JOIN q
      GROUP BY t.label, q.q_id
    ), nt AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY label
    )
    SELECT d.label, nt.n_tokens, ROUND(SUM(d.m), 4) + 0.0 AS maxsim
    FROM dots d JOIN nt USING (label)
    GROUP BY d.label, nt.n_tokens
    ORDER BY d.label
    """,
)
def d30_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (MaxSim) retrieval scoring: each label is a
    multi-vector document (its first {MAXSIM_T} token embeddings), the
    query is a {MAXSIM_Q}-token bag, and the document score sums the best
    dot product per query token — the ColBERT scoring rule, which
    single-vector d30_knn_exact/d30_mips_topk cannot express. Entirely
    relational: broadcast the query bag, codegen'd zip_with dot per
    (doc-token, query-token) pair, MAX per (doc, query-token), SUM per
    doc. No UDF, no Python.

    Scale shape: the query bag broadcasts (Q rows); the per-pair dot work
    is map-side over the token table; both reductions are partial+final
    aggregates keyed by (label[, q_id]) — at corpus scale this is exactly
    one scan of the token-embedding table per query bag, with the
    candidate-set pruning (d30_lsh_ann / d30_ivf_ann) composable in front
    as stage one."""
    e = Catalog(spark, sf_dir).embeddings
    q = (
        e.orderBy("vec_id")
        .limit(MAXSIM_Q)
        .select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        )
    )
    w = Window.partitionBy("label").orderBy("vec_id")
    toks = (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= MAXSIM_T)
        .select("label", "vec_id", "embedding")
    )
    dot = F.aggregate(
        F.zip_with(
            "embedding",
            "q_emb",
            lambda a, b: a.cast("double") * b.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dots = (
        toks.crossJoin(F.broadcast(q))
        .select("label", "q_id", dot.alias("d"))
        .groupBy("label", "q_id")
        .agg(F.max("d").alias("m"))
    )
    nt = toks.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    return (
        dots.groupBy("label")
        .agg((F.round(F.sum("m"), 4) + F.lit(0.0)).alias("maxsim"))
        .join(F.broadcast(nt), "label")
        .select("label", "n_tokens", "maxsim")
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# D30 extension (round 7) — in-engine retrieval evaluation harness:
# recall@k of one retriever against the exact answer, as a query
# --------------------------------------------------------------------------
def _recall_eval_per(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNCUT per-query hit table (both retrieval arms + eval join) —
    factored out so the plan-pin test can inspect the broadcast-query-bag
    shape that d30_recall_eval hides behind its lineage cut."""
    exact = d30_knn_exact(spark, sf_dir).select("qid", "vec_id")
    ham = (
        d30_hamming_topk(spark, sf_dir)
        .select(F.col("qid").alias("hqid"), F.col("vec_id").alias("hvec"))
    )
    return (
        exact.join(
            ham,
            (F.col("qid") == F.col("hqid")) & (F.col("vec_id") == F.col("hvec")),
            "left",
        )
        .groupBy("qid")
        .agg(F.count("hvec").alias("n_hit"))
    )


@register(
    "d30_recall_eval",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5
    ), ex AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 list_sum(list_transform(list_zip(q.qvec, e.embedding),
                          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(q.qvec,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                 DESC, e.vec_id) AS rank
        FROM q JOIN embeddings e ON e.vec_id <> q.qid
      ) WHERE rank <= 10
    ), hm AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 list_sum(list_transform(list_zip(e.embedding, q.qvec),
                   s -> CASE WHEN (CAST(s[1] AS DOUBLE) > 0)
                              <> (CAST(s[2] AS DOUBLE) > 0)
                        THEN 1 ELSE 0 END)), e.vec_id) AS rank
        FROM q JOIN embeddings e ON e.vec_id <> q.qid
      ) WHERE rank <= 10
    ), per AS (
      SELECT ex.qid, COUNT(hm.vec_id) AS n_hit
      FROM ex LEFT JOIN hm ON ex.qid = hm.qid AND ex.vec_id = hm.vec_id
      GROUP BY ex.qid
    )
    SELECT CAST(qid AS VARCHAR) AS query,
           CAST(n_hit AS BIGINT) AS n_hits,
           ROUND(n_hit / 10.0, 4) AS recall_at_10
    FROM per
    UNION ALL
    SELECT 'MEAN', CAST(SUM(n_hit) AS BIGINT), ROUND(AVG(n_hit / 10.0), 4)
    FROM per
    ORDER BY query
    """,
)

def d30_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation AS A QUERY: recall@10 of the bit-sign Hamming
    retriever (d30_hamming_topk) against exact cosine (d30_knn_exact),
    per query plus the MEAN row — the eval harness a retrieval pipeline
    materializes beside its index instead of shipping result sets to a
    driver script (tools/recall_at_scale.py is the offline twin; this is
    the in-engine form). Both retrievers are deterministic, so — unlike
    the seeded LSH/IVF/PQ evals, which are pytest-floored — the whole
    harness is exactly oracle-certified end to end.

    Scale shape (100 TB): both arms share the broadcast 5-row query bag
    and one corpus pass each; the eval itself is an equi-join on
    (qid, vec_id) between two k*|Q|-row leaderboards — negligible next
    to retrieval. Swap the exact arm for labeled qrels and the same
    harness scores production retrievers."""
    per = _recall_eval_per(spark, sf_dir).transform(lineage_cut)
    # lazy lineage cut on the |Q|-row eval table: both union branches
    # (per-query rows + MEAN) consume it, and uncut each branch re-ran
    # BOTH retrieval arms over the corpus
    rows = per.select(
        F.col("qid").cast("string").alias("query"),
        F.col("n_hit").cast("long").alias("n_hits"),
        F.round(F.col("n_hit") / 10.0, 4).alias("recall_at_10"),
    )
    mean = per.agg(
        F.lit("MEAN").alias("query"),
        F.sum("n_hit").cast("long").alias("n_hits"),
        F.round(F.avg(F.col("n_hit") / 10.0), 4).alias("recall_at_10"),
    )
    return rows.unionAll(mean).orderBy("query")


def _ndcg_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNCUT per-query DCG/IDCG table (one corpus pass scoring grade +
    Hamming against the broadcast query bag, two rank windows, one agg) —
    factored out so the plan-pin test can inspect the broadcast shape that
    d30_ndcg_eval hides behind its lineage cut."""
    e = Catalog(spark, sf_dir).embeddings
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    scored = e.withColumn("__cn", _norm(F.col("embedding"))).join(
        F.broadcast(q.withColumn("__qn", _norm(F.col("qvec")))),
        F.col("qid") != F.col("vec_id"),
    ).select(
        "qid",
        "vec_id",
        F.greatest(
            _dot(F.col("qvec"), F.col("embedding"))
            / (F.col("__qn") * F.col("__cn")),
            F.lit(0.0),
        ).alias("rel"),
        F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("qvec").cast("array<double>"),
                lambda a, b: ((a > 0) != (b > 0)).cast("int"),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("ham"),
    )
    ranked = scored.select(
        "qid",
        "rel",
        F.row_number()
        .over(Window.partitionBy("qid").orderBy(F.asc("ham"), F.asc("vec_id")))
        .alias("ham_rank"),
        F.row_number()
        .over(Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("vec_id")))
        .alias("ideal_rank"),
    )
    return ranked.groupBy("qid").agg(
        F.sum(
            F.when(
                F.col("ham_rank") <= 10,
                F.col("rel") / F.log2(F.col("ham_rank") + 1),
            ).otherwise(0.0)
        ).alias("dcg"),
        F.sum(
            F.when(
                F.col("ideal_rank") <= 10,
                F.col("rel") / F.log2(F.col("ideal_rank") + 1),
            ).otherwise(0.0)
        ).alias("idcg"),
    )


@register(
    "d30_ndcg_eval",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.qid, e.vec_id,
             greatest(
               list_sum(list_transform(list_zip(q.qvec, e.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qvec,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 0)
               AS rel,
             list_sum(list_transform(list_zip(e.embedding, q.qvec),
               s -> CASE WHEN (CAST(s[1] AS DOUBLE) > 0)
                          <> (CAST(s[2] AS DOUBLE) > 0) THEN 1 ELSE 0 END))
               AS ham
      FROM q JOIN embeddings e ON e.vec_id <> q.qid
    ), ranked AS (
      SELECT qid, rel,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, vec_id)
               AS ham_rank,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id)
               AS ideal_rank
      FROM scored
    ), parts AS (
      SELECT qid,
             SUM(CASE WHEN ham_rank <= 10
                      THEN rel / log2(ham_rank + 1) ELSE 0 END) AS dcg,
             SUM(CASE WHEN ideal_rank <= 10
                      THEN rel / log2(ideal_rank + 1) ELSE 0 END) AS idcg
      FROM ranked GROUP BY qid
    )
    SELECT CAST(qid AS VARCHAR) AS query,
           ROUND(dcg, 4) AS dcg_at_10,
           ROUND(dcg / idcg, 4) AS ndcg_at_10
    FROM parts
    UNION ALL
    SELECT 'MEAN', ROUND(AVG(dcg), 4), ROUND(AVG(dcg / idcg), 4) FROM parts
    ORDER BY query
    """,
)

def d30_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded ranking evaluation: NDCG@10 of the Hamming retriever with
    exact cosine as the (continuous, clamped-at-0) relevance grade — the
    companion to d30_recall_eval's binary hit metric; NDCG credits a
    retriever for returning NEAR neighbors even when they aren't the
    exact top-10, which is what embedding retrieval quality actually
    means. Both the retriever and the grade are deterministic, so the
    whole metric is exactly oracle-certified (the seeded retrievers'
    NDCG would be pytest-floored like their recall).

    Scale shape (100 TB): one corpus pass computes grade AND Hamming
    distance per (query, candidate) against the broadcast query bag; two
    row_number windows partitioned by qid rank it both ways; DCG/IDCG
    are a |Q|-row agg. Same single-pass shape as d30_knn_exact."""
    parts = _ndcg_parts(spark, sf_dir).transform(lineage_cut)
    # lazy cut on the |Q|-row eval table, consumed by both union
    # branches — uncut, each branch re-ran the corpus scoring pass
    rows = parts.select(
        F.col("qid").cast("string").alias("query"),
        F.round("dcg", 4).alias("dcg_at_10"),
        F.round(F.col("dcg") / F.col("idcg"), 4).alias("ndcg_at_10"),
    )
    mean = parts.agg(
        F.lit("MEAN").alias("query"),
        F.round(F.avg("dcg"), 4).alias("dcg_at_10"),
        F.round(F.avg(F.col("dcg") / F.col("idcg")), 4).alias("ndcg_at_10"),
    )
    return rows.unionAll(mean).orderBy("query")


# --------------------------------------------------------------------------
# D30 extension (round 7) — embedding-table health audit: the data-quality
# gate every ANN index build runs before trusting its corpus
# --------------------------------------------------------------------------
@register(
    "d30_embedding_audit",
    oracle="""
    WITH s AS (
      SELECT vec_id, label,
             len(embedding) AS dim,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2,
             len(list_filter(embedding, x -> x = 0)) AS n_zero,
             len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE))))
               AS n_nan
      FROM embeddings
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN n_nan > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_nan,
           CAST(SUM(CASE WHEN l2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_norm,
           ROUND(MIN(l2), 4) AS min_norm,
           ROUND(quantile_cont(l2, 0.5), 4) AS p50_norm,
           ROUND(MAX(l2), 4) AS max_norm,
           ROUND(AVG(n_zero / CAST(dim AS DOUBLE)), 4) AS mean_zero_frac
    FROM s GROUP BY dim ORDER BY dim
    """,
)
def d30_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health audit, grouped by dimensionality (a mixed-dim
    table is itself the first finding): vector count, NaN-poisoned and
    zero-norm counts (either silently corrupts cosine math — zero norms
    divide by zero, one NaN eats a whole reduction), the L2-norm
    min/median/max envelope (norm collapse or explosion flags a bad
    encoder checkpoint), and the mean zero-component fraction (dead
    dimensions). This is the gate an index build (IVF/PQ/LSH) runs
    BEFORE trusting its corpus; exact percentile is oracle-comparable —
    at production scale the documented approx_percentile swap applies.

    Scale shape (100 TB): all per-vector statistics are map-side array
    lambdas (codegen'd, no Python); ONE partial+final agg keyed by dim
    — the exact percentile is the only sort, over the (tiny) per-dim
    norm sets; nothing but (dim, partials) shuffles."""
    e = Catalog(spark, sf_dir).embeddings
    arr = F.col("embedding").cast("array<double>")
    s = e.select(
        F.size("embedding").alias("dim"),
        F.sqrt(
            F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("l2"),
        F.size(F.filter("embedding", lambda x: x == 0)).alias("n_zero"),
        F.size(F.filter(arr, lambda x: F.isnan(x))).alias("n_nan"),
    )
    return (
        s.groupBy(F.col("dim").cast("int").alias("dim"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(F.when(F.col("n_nan") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_with_nan"),
            F.sum(F.when(F.col("l2") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero_norm"),
            F.round(F.min("l2"), 4).alias("min_norm"),
            F.round(F.expr("percentile(l2, 0.5)"), 4).alias("p50_norm"),
            F.round(F.max("l2"), 4).alias("max_norm"),
            F.round(
                F.avg(F.col("n_zero") / F.col("dim").cast("double")), 4
            ).alias("mean_zero_frac"),
        )
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# D30 (cont., round 11) — nearest-centroid assignment audit (the
# cluster-quality / label-coherence readout over an embedding table)
# --------------------------------------------------------------------------
@register(
    "d30_centroid_assign",
    # centroids are the per-label coordinate means ROUNDED to 4 decimals
    # in both engines before any distance, and squared L2 is rounded to 4
    # before the argmin (label tiebreak) — every compared quantity is
    # deterministic across engines
    oracle="""
    WITH cm AS (
      SELECT label, i, ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) AS c
      FROM embeddings, LATERAL unnest(generate_series(1, len(embedding)))
           AS t(i)
      GROUP BY label, i
    ), cent AS (
      SELECT label AS clabel, list(c ORDER BY i) AS cvec FROM cm
      GROUP BY label
    ), scored AS (
      SELECT e.vec_id, e.label, c.clabel,
             list_sum(list_transform(
               list_zip(e.embedding, c.cvec),
               x -> (CAST(x[1] AS DOUBLE) - x[2])
                    * (CAST(x[1] AS DOUBLE) - x[2]))) AS draw
      FROM embeddings e, cent c
    ), best AS (
      SELECT vec_id, label, clabel, draw,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY ROUND(draw, 4), clabel) AS rn
      FROM scored
    )
    SELECT CAST(label AS INTEGER) AS true_label,
           CAST(clabel AS INTEGER) AS assigned_label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(AVG(draw), 4) AS avg_sqdist
    FROM best WHERE rn = 1
    GROUP BY label, clabel ORDER BY true_label, assigned_label
    """,
)
def d30_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment audit: each embedding is assigned to
    the closest per-label mean centroid (squared L2, rounded before the
    argmin with a label tiebreak), and the (true label, assigned label)
    confusion counts + mean distance measure how separable the labeled
    clusters actually are — the one-pass diagnostic run before trusting
    labels for stratified sampling or as kmeans seeds (d33_kmeans is the
    iterative sibling; this is its closed-form quality readout).

    Scale shape (100 TB): centroids are a LABEL-COUNT x DIM relation —
    KB-sized — built by one posexplode + partial+final avg keyed on
    (label, dim) (near-uniform, no hot key), then BROADCAST against the
    embedding scan; the per-vector argmin is a window keyed on vec_id
    (max cardinality, perfectly parallel) over label-count rows each.
    The embedding table shuffles once (the window exchange); at a larger
    label count the same plan holds until the centroid table outgrows a
    broadcast, where the fallback is the IVF route (d30_ivf_ann)."""
    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "vec"
        ),
    )
    cm = (
        e.select(
            "label", F.posexplode("vec").alias("i", "v")
        )
        .groupBy("label", "i")
        .agg(F.round(F.avg("v"), 4).alias("c"))
    )
    cent = cm.groupBy(F.col("label").alias("clabel")).agg(
        F.array_sort(
            F.collect_list(F.struct("i", "c"))
        ).alias("sc")
    ).select(
        "clabel", F.transform(F.col("sc"), lambda s: s["c"]).alias("cvec")
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.aggregate(
            F.zip_with(
                F.col("vec"), F.col("cvec"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("draw"),
    )
    # rank on the ROUNDED distance (engine-independent argmin with label
    # tiebreak) but average the RAW one: averaging already-rounded values
    # lands exactly on .00005 half-ulp boundaries, where the two engines'
    # rounding modes disagree
    w = Window.partitionBy("vec_id").orderBy(F.round("draw", 4), "clabel")
    best = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return (
        best.groupBy(
            F.col("label").cast("int").alias("true_label"),
            F.col("clabel").cast("int").alias("assigned_label"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(F.avg("draw"), 4).alias("avg_sqdist"),
        )
        .orderBy("true_label", "assigned_label")
    )


# --------------------------------------------------------------------------
# D30 (cont., round 11) — MRR eval (third leg of the retrieval-eval
# harness beside recall@10 and NDCG@10)
# --------------------------------------------------------------------------
@register(
    "d30_mrr_eval",
    # relevant item per query = the exact-cosine TOP-1; the metric is the
    # reciprocal of its rank in the Hamming retriever's top-10 (0 when
    # missed) — the first-hit quality number recall@k cannot see
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5
    ), rel AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 ROUND(
                 list_sum(list_transform(list_zip(q.qvec, e.embedding),
                          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(q.qvec,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
                 DESC, e.vec_id) AS rank
        FROM q JOIN embeddings e ON e.vec_id <> q.qid
      ) WHERE rank = 1
    ), hm AS (
      SELECT qid, vec_id, rank FROM (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 list_sum(list_transform(list_zip(e.embedding, q.qvec),
                   s -> CASE WHEN (CAST(s[1] AS DOUBLE) > 0)
                              <> (CAST(s[2] AS DOUBLE) > 0)
                        THEN 1 ELSE 0 END)), e.vec_id) AS rank
        FROM q JOIN embeddings e ON e.vec_id <> q.qid
      ) WHERE rank <= 10
    ), per AS (
      SELECT rel.qid,
             COALESCE(MAX(hm.rank), 0) AS rank_found,
             COALESCE(MAX(1.0 / hm.rank), 0.0) AS rr
      FROM rel LEFT JOIN hm
        ON rel.qid = hm.qid AND rel.vec_id = hm.vec_id
      GROUP BY rel.qid
    )
    SELECT CAST(qid AS VARCHAR) AS query,
           CAST(rank_found AS BIGINT) AS rank_found,
           ROUND(rr, 4) AS rr
    FROM per
    UNION ALL
    SELECT 'MRR', CAST(SUM(CASE WHEN rank_found > 0 THEN 1 ELSE 0 END)
                       AS BIGINT),
           ROUND(AVG(rr), 4)
    FROM per
    ORDER BY query
    """,
)
def d30_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the Hamming retriever against the exact
    cosine TOP-1 — the third leg of the in-engine retrieval-eval harness
    (d30_recall_eval measures set overlap, d30_ndcg_eval graded order;
    MRR scores WHERE the single best answer lands, the metric for
    known-item search). Per query: the exact top-1's rank in the Hamming
    top-10 (0 = missed) and its reciprocal; plus the MRR summary row
    (rank_found column carries the hit count there).

    Scale shape (100 TB): identical to its two siblings — both arms
    share the broadcast query bag and one corpus pass each; the eval
    join touches |Q| x k leaderboard rows. The cosine rank is rounded
    before ordering (knn precedent) so the relevant set is
    engine-independent."""
    exact = d30_knn_exact(spark, sf_dir)
    rel = exact.where(F.col("rank") == 1).select(
        "qid", F.col("vec_id").alias("rvec")
    )
    ham = d30_hamming_topk(spark, sf_dir).select(
        F.col("qid").alias("hqid"),
        F.col("vec_id").alias("hvec"),
        F.col("rank").alias("hrank"),
    )
    per = (
        rel.join(
            ham,
            (F.col("qid") == F.col("hqid")) & (F.col("rvec") == F.col("hvec")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.coalesce(F.max("hrank"), F.lit(0)).alias("rank_found"),
            F.coalesce(F.max(F.lit(1.0) / F.col("hrank")), F.lit(0.0)).alias(
                "rr"
            ),
        )
        # lazy lineage cut on the |Q|-row eval table (see d30_recall_eval)
        .transform(lineage_cut)
    )
    rows = per.select(
        F.col("qid").cast("string").alias("query"),
        F.col("rank_found").cast("long").alias("rank_found"),
        F.round("rr", 4).alias("rr"),
    )
    mean = per.agg(
        F.lit("MRR").alias("query"),
        F.sum(F.when(F.col("rank_found") > 0, 1).otherwise(0))
        .cast("long")
        .alias("rank_found"),
        F.round(F.avg("rr"), 4).alias("rr"),
    )
    return rows.unionAll(mean).orderBy("query")


# --------------------------------------------------------------------------
# Binary quantization + Hamming shortlist + exact rerank (round 12) — the
# 1-bit compression path modern vector stores run before full-precision
# scoring (complements d30_quantize_int8's scalar quantization and the
# pq/ivf codebook family: this one needs NO training pass at all)
# --------------------------------------------------------------------------
BQ_WORD_BITS = 32  # sign bits per packed word (2 words cover dim=64;
#                    32 keeps every packed value far inside BIGINT)
BQ_SHORTLIST = 50  # Hamming candidates per query fed to the exact rerank
BQ_TOPK = 10


def _bq_pack_sql(col: str, word: int) -> str:
    """DuckDB: pack sign bits [word*32, word*32+31] of a FLOAT[] into one
    BIGINT (bit i set iff component > 0 — the standard BQ threshold)."""
    lo = word * BQ_WORD_BITS + 1
    hi = lo + BQ_WORD_BITS - 1
    return (
        f"CAST(list_sum(list_transform({col}[{lo}:{hi}], "
        f"(x, i) -> CASE WHEN x > 0 THEN (1::BIGINT << (i - 1)) "
        f"ELSE 0::BIGINT END)) AS BIGINT)"
    )


def _bq_pack_col(col: str, word: int):
    """Spark twin of _bq_pack_sql (transform's index is 0-based where
    DuckDB's lambda index is 1-based; the shift amounts coincide)."""
    lo = word * BQ_WORD_BITS + 1
    return F.expr(
        f"aggregate(transform(slice({col}, {lo}, {BQ_WORD_BITS}), "
        f"(x, i) -> IF(x > 0, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"
    )


@register(
    "d30_binary_quantize",
    # both stages are exact-integer (bit packing, xor, popcount) until the
    # final cosine, which reuses the d30_knn_exact discipline: round to 4
    # decimals BEFORE ranking so rank order with vec_id tiebreak is
    # engine-independent. The shortlist boundary is the deterministic
    # total order (hamming, vec_id).
    oracle=f"""
    WITH p AS (
      SELECT vec_id, embedding,
             {_bq_pack_sql('embedding', 0)} AS w0,
             {_bq_pack_sql('embedding', 1)} AS w1
      FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, embedding AS qvec, w0 AS qw0, w1 AS qw1
      FROM p WHERE vec_id < 5
    ), h AS (
      SELECT q.qid, p.vec_id, p.embedding, q.qvec,
             CAST(bit_count(xor(q.qw0, p.w0))
                  + bit_count(xor(q.qw1, p.w1)) AS BIGINT) AS hamming
      FROM q JOIN p ON p.vec_id <> q.qid
    ), shortlist AS (
      SELECT qid, vec_id, embedding, qvec, hamming,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY hamming, vec_id) AS hrank
      FROM h
    ), scored AS (
      SELECT qid, vec_id, hamming,
             ROUND(
               list_sum(list_transform(list_zip(qvec, embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(qvec,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               4) + 0.0 AS sim
      FROM shortlist WHERE hrank <= {BQ_SHORTLIST}
    )
    SELECT qid, rank, vec_id, hamming, sim FROM (
      SELECT qid, vec_id, hamming, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= {BQ_TOPK}
    ORDER BY qid, rank
    """,
)
def d30_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized retrieval: pack each embedding's SIGN BITS into
    two 32-bit words (64 dims -> 16 bytes, a 16x compression with no
    training pass), shortlist the {SHORTLIST} nearest per query by
    Hamming distance (two xor+popcount ops per comparison), then rerank
    the shortlist with exact full-precision cosine — the
    quantize/shortlist/rescore architecture production vector stores run
    at billion scale, certified end to end because every stage before
    the final cosine is exact integer arithmetic.

    Scale shape (100 TB): the packed relation is 3 longs per vector —
    the corpus scan that serves the Hamming stage reads 24 bytes/row
    where the float stage would read 256+; xor/popcount stay inside
    whole-stage codegen (Long.bitCount intrinsics). Queries broadcast;
    the shortlist's rank<=K plans as WindowGroupLimit so each map task
    forwards at most {SHORTLIST} candidates per query, and only
    |queries| x {SHORTLIST} rows ever touch float vectors again. Wider
    embeddings add packed words linearly (dim/32); in production the
    full-precision vectors live in a separate column family fetched only
    for the shortlist."""
    e = Catalog(spark, sf_dir).embeddings
    p = e.select(
        "vec_id",
        "embedding",
        _bq_pack_col("embedding", 0).alias("w0"),
        _bq_pack_col("embedding", 1).alias("w1"),
    )
    q = p.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    h = p.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        "embedding",
        "qvec",
        F.expr(
            "CAST(bit_count(qw0 ^ w0) + bit_count(qw1 ^ w1) AS BIGINT)"
        ).alias("hamming"),
    )
    w_h = Window.partitionBy("qid").orderBy("hamming", "vec_id")
    shortlist = (
        h.withColumn("hrank", F.row_number().over(w_h))
        .where(F.col("hrank") <= BQ_SHORTLIST)
    )
    scored = shortlist.select(
        "qid",
        "vec_id",
        "hamming",
        # + 0.0 pins the IEEE negative-zero class (a cosine in
        # (-5e-5, 0) rounds to -0.0 in DuckDB but 0.0 in Spark)
        (
            F.round(
                _dot(F.col("qvec"), F.col("embedding"))
                / (_norm(F.col("qvec")) * _norm(F.col("embedding"))),
                4,
            )
            + F.lit(0.0)
        ).alias("sim"),
    )
    w_r = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_r))
        .where(F.col("rank") <= BQ_TOPK)
        .select("qid", "rank", "vec_id", "hamming", "sim")
        .orderBy("qid", "rank")
    )
