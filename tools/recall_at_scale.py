#!/usr/bin/env python
"""Measure ANN recall@10 (LSH / IVF / PQ / matryoshka vs exact) and
MinHash-LSH pair recall at a given scale factor — the numbers behind the
pytest floors (tests/test_similarity.py, tests/test_dedup.py). Run once
per round at sf0.1 and record the line in BASELINE.md (VERDICT r4 item 6).

Usage: python tools/recall_at_scale.py [sf_dir]   # default /root/testdata/sf0.1
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _sets(rows, key="qid", val="vec_id"):
    out: dict = {}
    for r in rows:
        out.setdefault(getattr(r, key), set()).add(getattr(r, val))
    return out


def _avg_recall(exact: dict, approx: dict) -> float:
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    return sum(recalls) / len(recalls)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from conceptnetwork_spark import registry
    from conceptnetwork_spark.catalog import catalog
    from conceptnetwork_spark.operators import dedup
    from conceptnetwork_spark.session import get_spark

    spark = get_spark(app_name="recall-at-scale")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    result: dict[str, float] = {}
    # two corpora per retriever: the driver testdata (near-uniform vectors)
    # AND the clustered/anisotropic fixture (VERDICT r6 ask #5 — uniform
    # vectors don't discriminate retriever quality; the clustered fixture
    # is what real embedding spaces look like)
    from conceptnetwork_spark.operators.similarity import (
        stage_clustered_embeddings,
    )

    corpora = {"": sf_dir, "_clustered": stage_clustered_embeddings()}
    for suffix, corpus_dir in corpora.items():
        exact = _sets(qs["d30_knn_exact"](spark, corpus_dir).collect())
        for name in ("d30_lsh_ann", "d30_ivf_ann", "d30_pq_ann"):
            result[f"{name}_recall_at_10{suffix}"] = round(
                _avg_recall(exact, _sets(qs[name](spark, corpus_dir).collect())),
                4,
            )

    # MinHash-LSH pair recall vs exact shingle-Jaccard >= 0.5 (the same
    # inverted-index ground-truth construction as tests/test_dedup.py —
    # candidate-confined, never all-pairs)
    docs = catalog(spark, sf_dir).documents
    sets_df = docs.select(
        "doc_id", F.array_distinct(dedup.shingles(F.col("text"))).alias("sh")
    ).where(F.size("sh") > 0)
    sizes = sets_df.select("doc_id", F.size("sh").alias("n"))
    inv = sets_df.select("doc_id", F.explode("sh").alias("g"))
    common = (
        inv.select(F.col("doc_id").alias("doc_a"), "g")
        .join(inv.select(F.col("doc_id").alias("doc_b"), "g"), "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    truth = (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .where(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")) >= 0.5)
        .select("doc_a", "doc_b")
    )
    true_pairs = {(r.doc_a, r.doc_b) for r in truth.collect()}
    found = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs)).collect()
    }
    result["minhash_lsh_pair_recall"] = round(
        len(true_pairs & found) / len(true_pairs), 4
    )
    result["minhash_true_pairs"] = len(true_pairs)
    result["sf_dir"] = sf_dir
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
