"""Distributed connected components + near-duplicate clustering.

The step after pair generation in every large-scale dedup pipeline: near-dup
PAIRS (from MinHash-LSH, SimHash, or exact Jaccard) must become CLUSTERS so
one canonical document per cluster can be kept. Transitive closure is a graph
problem, so this implements the alternating large-star / small-star
connected-components algorithm of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SoCC'14) — the standard shuffle-based CC formulation:

- every round is two groupBy-min passes over the edge set (pure DataFrame
  ops, partial+final aggregation, no driver-side graph state);
- converges in O(log n) rounds on real graphs (diameter collapses
  doubly-exponentially), vs O(diameter) for naive label propagation;
- per-round lineage is cut with localCheckpoint so the plan does not grow
  unboundedly across iterations (the classic iterative-Spark trap);
- the only driver-side value per round is a 3-number convergence checksum.

At 100 TB the edge set (near-dup pairs) is orders of magnitude smaller than
the corpus — LSH emits only same-bucket pairs — so CC runs on a small
fraction of the data, shuffling (node, min-neighbor) longs only.

Reference anchor: the reference has no graph surface (SURVEY §2.1 "not
present" list); this is part of the mandated LLM-data-pipeline extension
built on the D29 dedup family (SURVEY §2.2 D29).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.lineage import lineage_cut
from conceptnetwork_spark.registry import register


def _canonical(e: DataFrame) -> DataFrame:
    """Orient every edge (max, min), drop self-loops, dedupe."""
    return (
        e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor to
    min(N(u) ∪ {u}). Shrinks tall chains toward each component's minimum."""
    b = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = b.groupBy("src").agg(F.min("dst").alias("mn"))
    m = mins.select("src", F.least("src", "mn").alias("m"))
    return (
        b.where(F.col("dst") > F.col("src"))
        .join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u (edges oriented max→min), connect u and all its
    smaller neighbors to the smallest of them. Flattens stars."""
    o = _canonical(e)
    mins = o.groupBy("src").agg(F.min("dst").alias("m"))
    with_min = o.join(mins, "src")
    neighbor_edges = with_min.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_edges = mins.select("src", F.col("m").alias("dst"))
    return (
        neighbor_edges.union(self_edges)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Edges (src, dst) → (node, component) where component = min node id
    in the connected component. Nodes appearing in no edge are absent from
    the result (callers outer-join their full node set and coalesce).

    Alternating large-star/small-star until the edge set reaches a
    fixpoint (checked by count + order-independent hash sum — never by
    collecting edges). Each round materializes via localCheckpoint, so
    iteration N+1's plan starts from N's result, not from the raw input.
    """
    e = _canonical(edges).transform(lineage_cut, eager=True)
    prev_sig = None
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).transform(lineage_cut, eager=True)
        # count + order-independent XOR fold (bit_xor never overflows; a
        # plain SUM of 64-bit hashes trips ANSI overflow checks)
        sig_row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
            F.expr("bit_xor(hash(src, dst))").alias("h2"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"], sig_row["h2"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # at fixpoint every edge points node → component-min
    roots = e.select(F.col("dst").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    return (
        e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
        .union(roots)
        .distinct()
    )


def cluster_documents(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, cluster_id) for EVERY input doc: near-dup pairs → connected
    components; singleton docs become their own cluster. cluster_id is the
    min doc_id in the cluster, so `doc_id == cluster_id` selects the
    canonical keeper per cluster deterministically."""
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    return docs.select(F.col(id_col).alias("doc_id")).join(
        comp, F.col("doc_id") == F.col("node"), "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
    )


# --------------------------------------------------------------------------
# D29 extension — oracle-checked dup clustering (bounded exact edges; the
# DuckDB oracle computes the same transitive closure via a recursive CTE)
# --------------------------------------------------------------------------
@register(
    "d29_dup_clusters",
    oracle="""
    WITH RECURSIVE sets AS (
      SELECT doc_id,
             list_distinct(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS toks
      FROM documents WHERE doc_id < 200
    ), pairs AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.95
    ), edges AS (
      SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
    ), walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM sets
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id
    FROM walk GROUP BY node ORDER BY doc_id
    """,
)
def d29_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering, oracle form: exact token-set Jaccard ≥ 0.95
    over a bounded id range gives a deterministic edge set both engines
    agree on; large-star/small-star CC turns it into (doc_id, cluster_id).
    The DuckDB oracle reaches the same fixpoint by recursive-CTE label
    propagation — two different algorithms, one answer."""
    d = catalog(spark, sf_dir).documents.where(F.col("doc_id") < 200)
    toks = F.array_distinct(
        F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")
    )
    sets = d.select(F.col("doc_id"), toks.alias("toks"))
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    pairs = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .where(
            F.size(F.array_intersect("ta", "tb"))
            / F.size(F.array_union("ta", "tb")).cast("double")
            >= 0.95
        )
        .select("doc_a", "doc_b")
    )
    return cluster_documents(d, pairs).orderBy("doc_id")


# --------------------------------------------------------------------------
# D29 extension — the scale path: LSH candidate pairs → verify → CC
# --------------------------------------------------------------------------
@register("d29_dup_clusters_lsh", oracle=None)
def d29_dup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus near-dup clustering exactly as a 100 TB pipeline runs it:
    MinHash signatures → banded LSH buckets → exact-Jaccard verification of
    candidates only → connected components → (cluster_id, n_docs, keep_doc).
    Never all-pairs; the CC edge set is only the verified near-dup pairs.
    Non-oracle (MinHash bucketing is engine-defined); pytest checks cluster
    consistency against the exact bounded form instead."""
    from conceptnetwork_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = catalog(spark, sf_dir).documents
    # lazy lineage cuts (the d29_minhash_near_dup persist discipline, in
    # checkpoint form): signatures feed both LSH self-join sides, and the
    # candidate relation is referenced three times by the verify stage —
    # without the cuts each reference re-runs the shingle->hash pipeline
    sigs = minhash_signatures(docs).transform(lineage_cut)
    cands = lsh_candidate_pairs(sigs).transform(lineage_cut)
    pairs = jaccard_verify(docs, cands, threshold=0.9)
    clusters = cluster_documents(docs, pairs)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc"))
        .where(F.col("n_docs") > 1)
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# D29 extension — PageRank (fixed 2 unrolled iterations, oracle-checked):
# the authority score used to pick the canonical document per dup cluster
# and to weight crawl sources
# --------------------------------------------------------------------------
PR_DAMP = 0.85


@register(
    "d29_pagerank_2iter",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey + 1000000 AS src, l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey < 2000
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    n AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    pr0 AS (
      SELECT node, 1.0 / n.n_nodes AS pr FROM nodes CROSS JOIN n
    ),
    pr1 AS (
      SELECT nodes.node,
             (1 - {PR_DAMP}) / n.n_nodes
             + {PR_DAMP} * COALESCE(SUM(pr0.pr / outdeg.deg), 0) AS pr
      FROM nodes CROSS JOIN n
      LEFT JOIN edges ON edges.dst = nodes.node
      LEFT JOIN outdeg ON outdeg.src = edges.src
      LEFT JOIN pr0 ON pr0.node = edges.src
      GROUP BY nodes.node, n.n_nodes
    ),
    pr2 AS (
      SELECT nodes.node,
             (1 - {PR_DAMP}) / n.n_nodes
             + {PR_DAMP} * COALESCE(SUM(pr1.pr / outdeg.deg), 0) AS pr
      FROM nodes CROSS JOIN n
      LEFT JOIN edges ON edges.dst = nodes.node
      LEFT JOIN outdeg ON outdeg.src = edges.src
      LEFT JOIN pr1 ON pr1.node = edges.src
      GROUP BY nodes.node, n.n_nodes
    )
    SELECT node, ROUND(pr, 4) AS pr FROM pr2 ORDER BY node
    """,
)
def d29_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer->supplier purchase graph, exactly two
    unrolled power iterations (damping 0.85) so the result is a closed-form
    oracle-checkable query rather than an engine-defined fixpoint. (The
    production form iterates this same step to convergence with
    localCheckpoint lineage cuts, exactly like connected_components above.)

    Customer nodes are offset by 1e6 so the two key spaces stay
    disjoint (bipartite graph, no accidental id collisions).

    Scale shape per iteration: contributions = edges ⋈ ranks ⋈ outdeg on
    src (one shuffle keyed by src, outdeg is per-node — broadcastable when
    the node set is dimension-sized), then one groupBy dst. Rank state is
    (node, double) pairs only; edge payloads never widen. Dangling nodes
    contribute nothing here (bounded subgraph), matching the oracle's
    LEFT-JOIN-with-COALESCE formulation."""
    t = catalog(spark, sf_dir)
    # same lazy lineage cut as d29_ppr_2iter below: the node set, the
    # out-degrees and both unrolled iterations re-consume `edges`; uncut,
    # the initial plan re-derived the orders⋈lineitem⋈distinct subtree per
    # consumer (~64 parquet scans). Narrow (two longs), deterministic.
    edges = (
        t.orders.where(F.col("o_orderkey") < 2000)
        .join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .select((F.col("o_custkey") + 1000000).alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
        .transform(lineage_cut)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        # consumed by the rank init, both iteration left-joins and the
        # node count — one union+distinct pass instead of four
        .transform(lineage_cut)
    )
    n = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    for _ in range(2):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"), (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                (
                    (1 - PR_DAMP) / F.col("n_nodes")
                    + PR_DAMP * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return ranks.select("node", F.round("pr", 4).alias("pr")).orderBy("node")


# --------------------------------------------------------------------------
# Personalized PageRank (round 12): teleport mass restricted to a seed set
# — the graph-authority query behind "related to THESE documents/users"
# retrieval, completing the authority family next to the global
# d29_pagerank_2iter
# --------------------------------------------------------------------------
PPR_NATION = 7  # seed set: customers of one nation


def _ppr_edges(t):
    """The UNCUT ppr edge derivation (orders⋈lineitem⋈distinct)."""
    return (
        t.orders.where(F.col("o_orderkey") < 3000)
        .join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") + 1000000).alias("src"),
            F.col("l_suppkey").alias("dst"),
        )
        .distinct()
    )


def _ppr_tele(t, edges):
    """The UNCUT personalized-teleport vector (node set ∪, seed semi-join,
    broadcast seed count) over a given edge relation — factored out so the
    plan-pin test can inspect the seed-broadcast shape that d29_ppr_2iter
    hides behind its lineage cut."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = t.customer.where(F.col("c_nationkey") == PPR_NATION).select(
        (F.col("c_custkey") + 1000000).alias("node")
    ).join(nodes, "node")
    ns = seeds.agg(F.count(F.lit(1)).alias("n_seeds"))
    return (
        nodes.join(seeds.withColumn("is_seed", F.lit(1)), "node", "left")
        .crossJoin(F.broadcast(ns))
        .select(
            "node",
            F.when(
                F.col("is_seed").isNotNull(), 1.0 / F.col("n_seeds")
            ).otherwise(F.lit(0.0)).alias("t"),
        )
    )


@register(
    "d29_ppr_2iter",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey + 1000000 AS src, l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey < 3000
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    seeds AS (
      SELECT c.c_custkey + 1000000 AS node
      FROM customer c
      JOIN nodes ON nodes.node = c.c_custkey + 1000000
      WHERE c.c_nationkey = {PPR_NATION}
    ),
    ns AS (SELECT COUNT(*) AS n_seeds FROM seeds),
    tele AS (
      SELECT nodes.node,
             CASE WHEN seeds.node IS NOT NULL
                  THEN 1.0 / ns.n_seeds ELSE 0.0 END AS t
      FROM nodes CROSS JOIN ns
      LEFT JOIN seeds ON seeds.node = nodes.node
    ),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    pr0 AS (SELECT node, t AS pr FROM tele),
    pr1 AS (
      SELECT tele.node,
             (1 - {PR_DAMP}) * tele.t
             + {PR_DAMP} * COALESCE(SUM(pr0.pr / outdeg.deg), 0) AS pr
      FROM tele
      LEFT JOIN edges ON edges.dst = tele.node
      LEFT JOIN outdeg ON outdeg.src = edges.src
      LEFT JOIN pr0 ON pr0.node = edges.src
      GROUP BY tele.node, tele.t
    ),
    pr2 AS (
      SELECT tele.node,
             (1 - {PR_DAMP}) * tele.t
             + {PR_DAMP} * COALESCE(SUM(pr1.pr / outdeg.deg), 0) AS pr
      FROM tele
      LEFT JOIN edges ON edges.dst = tele.node
      LEFT JOIN outdeg ON outdeg.src = edges.src
      LEFT JOIN pr1 ON pr1.node = edges.src
      GROUP BY tele.node, tele.t
    )
    SELECT node, ROUND(pr, 4) AS ppr
    FROM pr2 WHERE pr > 0 ORDER BY node
    """,
)
def d29_ppr_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the customer->supplier purchase graph:
    teleport mass restricted to ONE nation's customers (the seed set), two
    unrolled power iterations (damping 0.85) so the fixpoint is a
    closed-form oracle-checkable query — the "authority relative to THESE
    entities" primitive behind seed-expanded retrieval, related-item
    ranking, and trust propagation (production iterates this step with
    localCheckpoint lineage cuts, exactly like connected_components).
    Nodes unreachable from the seeds in two hops carry exactly zero mass
    and are excluded (pr > 0 in both engines), so the output is the
    2-hop personalized neighborhood, not the full node set.

    Scale shape per iteration (identical to d29_pagerank_2iter): one
    shuffle keyed on src joining rank state to edges and out-degrees,
    one groupBy dst; rank state is (node, double) pairs only, the
    teleport vector is |seeds|-sized and travels as a LEFT-JOIN flag,
    never a dense vector. Reference anchor: no graph surface in the
    reference (SURVEY §2.1) — mandated LLM-pipeline extension (§2.2
    D29)."""
    t = catalog(spark, sf_dir)
    # one LAZY localCheckpoint (shared-RDD lineage cut): the unrolled
    # iterations, node set, teleport vector and out-degrees all re-consume
    # `edges`; uncut, the initial plan duplicated the orders⋈lineitem
    # subtree ~12x (358 operators, 100 parquet scans — see
    # plans/r12/d29_ppr_2iter_before.txt) and paid it in planning + the
    # stages AQE stage-reuse could not dedupe. eager=False keeps the
    # materialization inside the first action (no extra serial job);
    # deterministic input, so the checkpoint is replay-safe.
    edges = _ppr_edges(t).transform(lineage_cut)
    # second cut: the teleport vector is consumed by the rank init and
    # BOTH unrolled iterations; uncut, each re-derived the node-set
    # union/distinct + seed join above the edge cut (30 residual
    # parquet scans in the audited plan). Narrow: (long, double).
    tele = _ppr_tele(t, edges).transform(lineage_cut)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    ranks = tele.select("node", F.col("t").alias("pr"))
    for _ in range(2):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = tele.join(contrib, "node", "left").select(
            "node",
            (
                (1 - PR_DAMP) * F.col("t")
                + PR_DAMP * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("pr"),
        )
    return (
        ranks.where(F.col("pr") > 0)
        .select("node", F.round("pr", 4).alias("ppr"))
        .orderBy("node")
    )


# --------------------------------------------------------------------------
# Triangle counting (graph clustering signal) over a co-occurrence graph
# --------------------------------------------------------------------------
TRI_MIN_QTY = 45


@register(
    "d29_triangle_count",
    oracle=f"""
    WITH bulk AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem WHERE l_quantity >= {TRI_MIN_QTY}
    ),
    edges AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM bulk a JOIN bulk b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ),
    nodes AS (
      SELECT COUNT(DISTINCT s) AS n_nodes FROM (
        SELECT src AS s FROM edges UNION SELECT dst FROM edges
      )
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.dst = e2.src
      JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT n_nodes, (SELECT COUNT(*) FROM edges) AS n_edges, n_triangles
    FROM nodes, tri
    """,
)
def d29_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the bulk-order co-supplier graph: suppliers are
    connected when they both ship a >= TRI_MIN_QTY line in the same order
    (the quantity floor keeps the co-occurrence graph sparse — the standard
    hot-item cut in co-occurrence mining). Triangles are counted once each
    via the ordered orientation src < dst: e1=(a,b), e2=(b,c), e3=(a,c).

    Scale shape (100 TB): pair generation is an equi-join on the
    co-occurrence key (order), never all-pairs; the edge set after DISTINCT
    is orders of magnitude smaller than the fact table, and the triangle
    join fans out along ordered edges only, which bounds each wedge by the
    out-degree under the orientation. The production refinement at extreme
    skew — orienting edges low-degree -> high-degree instead of by id,
    which provably minimizes wedge fan-out (Cohen's MapReduce triangle
    algorithm) — preserves the count; id-orientation is used here so the
    oracle is expressible in one SQL statement."""
    li = catalog(spark, sf_dir).lineitem
    bulk = (
        li.where(F.col("l_quantity") >= TRI_MIN_QTY)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a, b = bulk.alias("a"), bulk.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        .distinct()
        # five consumers (three triangle legs, node count, edge count)
        # re-derived the scan+pair-join+distinct subtree each time; a lazy
        # lineage cut leaves a single shared pair-generation pass
        .transform(lineage_cut)
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = (
        edges.select(F.col("src").alias("s"))
        .union(edges.select(F.col("dst").alias("s")))
        .agg(F.countDistinct("s").alias("n_nodes"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return nodes.crossJoin(n_edges).crossJoin(tri)


# --------------------------------------------------------------------------
# Label propagation communities (round 11) — 2 unrolled LPA iterations
# --------------------------------------------------------------------------
LPA_MIN_QTY = 45  # same bulk-order co-supplier graph as d29_triangle_count


@register(
    "d29_lpa_communities",
    # deterministic LPA: each node adopts the MODE of its neighbors'
    # labels, ties broken by the SMALLEST label — two unrolled rounds so
    # the result is a closed-form oracle query, not an engine fixpoint
    oracle=f"""
    WITH bulk AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem WHERE l_quantity >= {LPA_MIN_QTY}
    ), und AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM bulk a JOIN bulk b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
    ), l0 AS (
      SELECT DISTINCT src AS node, src AS lbl FROM und
    ), v1 AS (
      SELECT u.src AS node, l.lbl, COUNT(*) AS c
      FROM und u JOIN l0 l ON l.node = u.dst
      GROUP BY u.src, l.lbl
    ), l1 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                 ORDER BY c DESC, lbl) AS rn
        FROM v1
      ) WHERE rn = 1
    ), v2 AS (
      SELECT u.src AS node, l.lbl, COUNT(*) AS c
      FROM und u JOIN l1 l ON l.node = u.dst
      GROUP BY u.src, l.lbl
    ), l2 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                 ORDER BY c DESC, lbl) AS rn
        FROM v2
      ) WHERE rn = 1
    )
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM l2 GROUP BY lbl ORDER BY community
    """,
)
def d29_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection over the bulk-order
    co-supplier graph, exactly two unrolled iterations with the
    deterministic rule (mode of neighbor labels, smallest label on a tie)
    so the result is closed-form oracle-checkable — the same
    unroll-for-certification pattern as d29_pagerank_2iter, with
    connected_components supplying the run-to-convergence machinery
    (alternating-star + lineage cuts) when a production caller iterates
    this step.

    Scale shape per iteration: ONE shuffle joining the symmetric edge
    list against the (node, label) state on the neighbor key, one
    partial+final count on (node, label), and a node-keyed argmax window
    (max-cardinality key). Label state is (long, long) pairs; edges
    never widen. The readout aggregates communities, not nodes."""
    li = catalog(spark, sf_dir).lineitem
    bulk = (
        li.where(F.col("l_quantity") >= LPA_MIN_QTY)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = bulk.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("src")
    )
    b = bulk.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("dst")
    )
    und = (
        a.join(b, "k")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        # consumed three times (label init + both vote rounds) — lazy cut
        # so the pair-generation join runs once per action
        .transform(lineage_cut)
    )
    labels = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), "lbl")
    for _ in range(2):
        votes = (
            und.join(
                labels.select(F.col("node").alias("dst"), "lbl"), "dst"
            )
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return (
        labels.groupBy(F.col("lbl").cast("long").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("node").cast("long").alias("min_node"),
            F.max("node").cast("long").alias("max_node"),
        )
        .orderBy("community")
    )


# --------------------------------------------------------------------------
# K-core peeling (round 12) — degeneracy structure of the co-supplier graph
# --------------------------------------------------------------------------
KCORE_MIN_QTY = 49  # sparser cut than triangle/LPA's 45 so peeling bites
KCORE_K = 4
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    """Three unrolled peel rounds as chained CTEs: degrees over the
    surviving edge set, drop nodes below K, induce the subgraph, repeat.
    Emits one summary row per round so the certified result is non-empty
    at every SF even when the cascade peels the graph to nothing."""
    sql = f"""
    WITH bulk AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem WHERE l_quantity >= {KCORE_MIN_QTY}
    ), e0 AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM bulk a JOIN bulk b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
    )"""
    for r in range(1, KCORE_ROUNDS + 1):
        p = r - 1
        sql += f""", d{r} AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM e{p} GROUP BY src
    ), k{r} AS (
      SELECT node FROM d{r} WHERE deg >= {KCORE_K}
    ), e{r} AS (
      SELECT src, dst FROM e{p}
      WHERE src IN (SELECT node FROM k{r})
        AND dst IN (SELECT node FROM k{r})
    )"""
    rows = " UNION ALL ".join(
        f"""SELECT {r} AS round,
          (SELECT COUNT(*) FROM d{r}) AS nodes_in,
          (SELECT COUNT(*) FROM k{r}) AS nodes_kept,
          (SELECT COUNT(*) / 2 FROM e{r}) AS edges_kept"""
        for r in range(1, KCORE_ROUNDS + 1)
    )
    return (
        sql
        + f"""
    SELECT CAST(round AS INTEGER) AS round,
           CAST(nodes_in AS BIGINT) AS nodes_in,
           CAST(nodes_kept AS BIGINT) AS nodes_kept,
           CAST(edges_kept AS BIGINT) AS edges_kept
    FROM ({rows}) ORDER BY round"""
    )


@register("d29_kcore", oracle=_kcore_oracle)
def d29_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core peeling over the bulk co-supplier graph: repeatedly delete
    nodes of degree < {K} and induce the subgraph, {ROUNDS} unrolled
    rounds — the degeneracy ladder that separates a graph's dense
    engagement core from its sparse periphery (spam/bot rings and real
    communities live at high core numbers; the periphery LPA glues onto
    them peels right off). Emits the per-round cascade — nodes entering,
    nodes surviving the degree cut, undirected edges induced — which is
    the convergence diagnostic a production peeler monitors; a fixpoint
    run just iterates the same round until nodes_kept stops changing.

    Scale shape (100 TB): each round is ONE node-keyed degree aggregate
    (map-side combined) plus TWO semi-joins of the edge list against the
    survivor set — survivors are node-cardinality (broadcastable long
    before edges are), and the edge list only ever shrinks. No
    all-pairs, no global sort; the unrolled lineage is 3 rounds deep
    (a fixpoint implementation checkpoints the edge set every few
    rounds, exactly like d29_dup_clusters' alternating-star CC)."""
    li = catalog(spark, sf_dir).lineitem
    bulk = (
        li.where(F.col("l_quantity") >= KCORE_MIN_QTY)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a, b = bulk.alias("a"), bulk.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .distinct()
        # the docstring's own prescription ("a fixpoint implementation
        # checkpoints the edge set every few rounds") applied to the
        # unrolled form: each round consumes `edges` three times (degree
        # agg, semi-join pruning, edge count) and feeds the next round —
        # uncut, the 3-round lineage re-derived the pair join ~40x (784
        # Exchange mentions in the formatted plan)
        .transform(lineage_cut)
    )
    summaries = []
    for r in range(1, KCORE_ROUNDS + 1):
        deg = edges.groupBy("src").agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        keep = deg.where(F.col("deg") >= KCORE_K).select(
            F.col("src").alias("node")
        )
        pruned = edges.join(
            keep, edges["src"] == keep["node"], "leftsemi"
        ).join(keep, edges["dst"] == keep["node"], "leftsemi")
        nodes_in = deg.agg(F.count(F.lit(1)).cast("long").alias("nodes_in"))
        nodes_kept = keep.agg(
            F.count(F.lit(1)).cast("long").alias("nodes_kept")
        )
        edges_kept = pruned.agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("edges_kept")
        )
        summaries.append(
            nodes_in.crossJoin(nodes_kept)
            .crossJoin(edges_kept)
            .select(
                F.lit(r).cast("int").alias("round"),
                "nodes_in",
                "nodes_kept",
                "edges_kept",
            )
        )
        edges = pruned.transform(lineage_cut)
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionAll(s)
    return out.orderBy("round")


# --------------------------------------------------------------------------
# Degree assortativity (round 12) — one-scalar mixing structure readout
# --------------------------------------------------------------------------
ASSORT_MIN_QTY = 45  # same bulk co-supplier graph as triangle/LPA


@register(
    "d29_degree_assortativity",
    # Pearson correlation of (deg(src), deg(dst)) over the DIRECTED edge
    # list (both orientations of each undirected edge, the standard
    # Newman formulation). Degrees and edge counts are exact integers, so
    # every moment sum is exact in double and the closed-form correlation
    # is a deterministic IEEE expression mirrored shape-for-shape;
    # zero-variance degenerates yield NULL in both engines, + 0.0
    # normalizes IEEE negative zero.
    oracle=f"""
    WITH bulk AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem WHERE l_quantity >= {ASSORT_MIN_QTY}
    ), e AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM bulk a JOIN bulk b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
    ), d AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM e GROUP BY src
    ), j AS (
      SELECT ds.deg AS x, dd.deg AS y
      FROM e JOIN d ds ON ds.node = e.src JOIN d dd ON dd.node = e.dst
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM j
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_nodes,
           CAST(m / 2 AS BIGINT) AS n_edges,
           ROUND(CASE WHEN (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
                       AND (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
                 THEN (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                      / (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                         * sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                 END, 4) + 0.0 AS assortativity
    FROM s
    """,
)
def d29_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-supplier graph: the Pearson
    correlation of endpoint degrees across edges (Newman's r) — positive
    means hubs link to hubs (social-network mixing), negative means
    hub-and-spoke (infrastructure/web), and it is the one-scalar summary
    that tells you whether LPA communities (hub-attracted) or k-core
    peeling (hub-concentric) will carve this graph well.

    Scale shape (100 TB): one node-keyed degree aggregate, two hash joins
    decorating each edge with its endpoint degrees (the degree relation
    is node-cardinality — broadcastable long before the edge list), then
    ONE map-side-combinable moment aggregate to six scalars; the
    correlation is closed-form driver arithmetic on one row. No window,
    no all-pairs, nothing quadratic."""
    li = catalog(spark, sf_dir).lineitem
    bulk = (
        li.where(F.col("l_quantity") >= ASSORT_MIN_QTY)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a, b = bulk.alias("a"), bulk.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .distinct()
        # lazy lineage cut (same pattern as the other unrolled graph ops):
        # the edge list feeds the degree aggregate, the decorate join and
        # the edge-count scalar; uncut, each consumer re-ran the bulk
        # self-join + distinct. Narrow (two longs), deterministic.
        .transform(lineage_cut)
    )
    d = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        # consumed three times (both decorate sides + the node count)
        .transform(lineage_cut)
    )
    ds = d.select(F.col("src").alias("node"), F.col("deg").alias("x"))
    dd = d.select(F.col("src").alias("node"), F.col("deg").alias("y"))
    j = (
        e.join(F.broadcast(ds), e["src"] == ds["node"])
        .join(F.broadcast(dd), e["dst"] == dd["node"])
        .select("x", "y")
    )
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    m = F.col("m").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    vx = m * F.col("sxx") - sx * F.col("sx")
    vy = m * F.col("syy") - sy * F.col("sy")
    r = F.when(
        (vx > 0) & (vy > 0),
        (m * F.col("sxy") - sx * F.col("sy")) / (F.sqrt(vx) * F.sqrt(vy)),
    ).otherwise(F.lit(None))
    return nn.crossJoin(s).select(
        "n_nodes",
        F.expr("m div 2").cast("long").alias("n_edges"),
        (F.round(r, 4) + F.lit(0.0)).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# Link prediction (round 12): common-neighbors / Adamic-Adar / preferential
# attachment over the customer->supplier purchase graph — the "which
# entities are likely related" primitive behind co-purchase recommendation,
# entity-resolution candidate generation, and graph-completion eval
# --------------------------------------------------------------------------
LP_TOPK = 5  # candidates kept per customer (rank on the ROUNDED score)


@register(
    "d29_link_prediction",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey < 1500
    ),
    sdeg AS (SELECT supp, COUNT(*) AS deg FROM edges GROUP BY supp),
    cdeg AS (SELECT cust, COUNT(*) AS deg FROM edges GROUP BY cust),
    davg AS (SELECT AVG(deg) AS avg_deg FROM sdeg),
    mid AS (
      -- scale-adaptive hub cap: degree = |edges|/|suppliers| varies with
      -- SF, so a fixed cap degenerates (empty mid at sf0.01, everything
      -- at sf0.1); 5x the mean degree excludes true hubs at ANY scale
      SELECT supp, deg FROM sdeg, davg
      WHERE deg >= 2 AND deg <= 5 * avg_deg
    ),
    pairs AS (
      SELECT a.cust AS cust_a, b.cust AS cust_b, m.deg
      FROM edges a
      JOIN mid m ON a.supp = m.supp
      JOIN edges b ON b.supp = a.supp AND a.cust < b.cust
    ),
    scored AS (
      SELECT cust_a, cust_b, COUNT(*) AS cn,
             ROUND(SUM(1.0 / LN(deg)), 4) + 0.0 AS aa
      FROM pairs GROUP BY cust_a, cust_b HAVING COUNT(*) >= 2
    ),
    ranked AS (
      SELECT cust_a, cust_b, cn, aa,
             ROW_NUMBER() OVER (
               PARTITION BY cust_a ORDER BY aa DESC, cn DESC, cust_b
             ) AS rk
      FROM scored
    )
    SELECT r.cust_a, r.rk, r.cust_b, r.cn, r.aa, da.deg * db.deg AS pa
    FROM ranked r
    JOIN cdeg da ON da.cust = r.cust_a
    JOIN cdeg db ON db.cust = r.cust_b
    WHERE r.rk <= 5
    ORDER BY r.cust_a, r.rk
    """,
)
def d29_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 link-prediction candidates per customer in the bounded
    purchase graph: for every customer pair sharing >=2 mid-degree
    suppliers, score with common-neighbor count (cn), Adamic-Adar
    (aa = sum over shared suppliers of 1/ln(deg) — Adamic & Adar 2003,
    the standard down-weighting of promiscuous neighbors), and
    preferential attachment (pa = deg(a)*deg(b), full degrees); keep each
    customer's 5 best by (aa, cn, cust_b) — the candidate-generation
    primitive behind co-purchase recommendation, entity-resolution
    blocking, and graph-completion eval.

    Scale shape: pair generation is a self-join keyed on supplier,
    restricted to mid-degree suppliers (2 <= deg <= 5x mean — a
    SCALE-ADAPTIVE hub cap, since mean degree = |edges|/|suppliers| moves
    with SF; a fixed cap was empty at sf0.01 and toothless at sf0.1), so
    per-key fanout is bounded and no hot supplier explodes the shuffle;
    hub suppliers carry ~0 Adamic-Adar signal (1/ln(deg)) so the cap is
    published practice, not an approximation knob. The degree shortlist,
    mean-degree scalar, and both customer-degree relations are broadcast
    (KB at any SF); the rank<=5 filter plans as WindowGroupLimit so map
    tasks forward at most 5 candidates per customer past the cust_a
    exchange — the result is |customers|x5-bounded, never an all-pairs
    matrix. Ranking uses the ROUNDED score (discrete sort key) with
    (cn, cust_b) tie-breaks, so both engines order identically; ln(deg)
    >= ln 2 by the cap (total division), and ROUND + 0.0 pins the IEEE
    negative-zero class (r11 rolling_corr lesson). Reference anchor: no
    graph surface in the reference (SURVEY §2.1) — mandated LLM-pipeline
    extension (§2.2 D29)."""
    t = catalog(spark, sf_dir)
    edges = (
        t.orders.where(F.col("o_orderkey") < 1500)
        .join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .distinct()
        # lazy lineage cut: the edge list feeds both degree aggregates and
        # both self-join sides; uncut, each consumer re-derived the
        # orders⋈lineitem⋈distinct subtree. Narrow (two longs).
        .transform(lineage_cut)
    )
    sdeg = edges.groupBy("supp").agg(F.count(F.lit(1)).alias("deg"))
    cdeg = edges.groupBy("cust").agg(F.count(F.lit(1)).alias("deg"))
    davg = sdeg.agg(F.avg("deg").alias("avg_deg"))
    mid = (
        sdeg.crossJoin(F.broadcast(davg))
        .where((F.col("deg") >= 2) & (F.col("deg") <= 5 * F.col("avg_deg")))
        .select("supp", "deg")
    )
    a = edges.select(F.col("cust").alias("cust_a"), "supp")
    b = edges.select(F.col("cust").alias("cust_b"), "supp")
    pairs = (
        a.join(F.broadcast(mid), "supp")
        .join(b, "supp")
        .where(F.col("cust_a") < F.col("cust_b"))
    )
    scored = (
        pairs.groupBy("cust_a", "cust_b")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            (
                F.round(F.sum(1.0 / F.log(F.col("deg").cast("double"))), 4)
                + F.lit(0.0)
            ).alias("aa"),
        )
        .where(F.col("cn") >= 2)
    )
    rk = F.row_number().over(
        Window.partitionBy("cust_a").orderBy(
            F.col("aa").desc(), F.col("cn").desc(), F.col("cust_b")
        )
    )
    ranked = scored.withColumn("rk", rk).where(F.col("rk") <= LP_TOPK)
    da = cdeg.select(F.col("cust").alias("cust_a"), F.col("deg").alias("deg_a"))
    db = cdeg.select(F.col("cust").alias("cust_b"), F.col("deg").alias("deg_b"))
    return (
        ranked.join(F.broadcast(da), "cust_a")
        .join(F.broadcast(db), "cust_b")
        .select(
            "cust_a",
            "rk",
            "cust_b",
            "cn",
            "aa",
            (F.col("deg_a") * F.col("deg_b")).alias("pa"),
        )
        .orderBy("cust_a", "rk")
    )
