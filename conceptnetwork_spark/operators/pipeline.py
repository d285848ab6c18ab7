"""End-to-end LLM training-data prep composite (SURVEY §2.2 D34) and the
incremental-pipeline family (D35: upsert/CDC merge, SCD Type-2
historization, point-in-time temporal join).

The integration query that chains the extension families the way a real
pretraining-data pipeline does — one declarative plan, so Catalyst fuses the
whole thing:

  scan documents
    → quality gate   (D31: length / word-count / punctuation-density)
    → language ID    (D31: shared-profile n-gram heuristic, annotation)
    → exact dedup    (D29: md5 of normalized text, keep min doc_id;
                      ids-only shuffle via agg + semi-join, never full rows)
    → token counting (D31: BPE-ish regex tokens)
    → split assign   (D2: md5-bucket train/val/test — permanent membership)

Every stage is a pure ``pyspark.sql.functions`` expression (WholeStageCodegen,
zero Python), and the full pipeline is ONE job: scan → map-side filters →
one 16-byte-key shuffle for the dedup agg → broadcast semi-join back →
map-side projection. At 100 TB the only shuffle is (md5, min_id) pairs.

Reference anchor: composes the mandated LLM-pipeline extension surface
(SURVEY §2.2 preamble; BASELINE.json north-star); the reference itself has
no corpus operators (SURVEY §2.1 "not present" list).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.lineage import lineage_cut
from conceptnetwork_spark.operators.sampling import _bucket_sql, hash_bucket
from conceptnetwork_spark.operators.text import (
    PUNCT_CLASS,
    TOKEN_PATTERN,
    _lang_id_sql,
    lang_id,
)
from conceptnetwork_spark.registry import register
from conceptnetwork_spark.sources.staging import oracle_sf_dir, scratch_dir, staged

# normalized-content key for exact dedup: case/whitespace-insensitive
_NORM_SQL = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"


def _norm_key(col):
    return F.md5(
        F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))).cast("binary")
    )


@register(
    "d34_llm_dataprep",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             CAST(length(text) AS BIGINT) AS chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
             CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT) AS tokens,
             CAST(length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g'))
                  AS DOUBLE) / length(text) AS punct_ratio
      FROM documents
    ), quality AS (
      SELECT * FROM base
      WHERE chars >= 100 AND words >= 20 AND punct_ratio < 0.10
    ), keep AS (
      SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY {_NORM_SQL}
    ), dedup AS (
      SELECT q.* FROM quality q JOIN keep USING (doc_id)
    )
    SELECT doc_id,
           CASE WHEN {_bucket_sql('doc_id')} < 80 THEN 'train'
                WHEN {_bucket_sql('doc_id')} < 90 THEN 'val'
                ELSE 'test' END AS split,
           {_lang_id_sql('text')} AS lang,
           tokens, chars
    FROM dedup ORDER BY doc_id
    """,
)
def d34_llm_dataprep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship integration: quality-gate → lang-annotate → exact-dedup
    (normalized content hash, min-id canonical) → token-count → leakage-safe
    split, as one fused declarative plan. DuckDB re-derives the identical
    surviving row set, split membership, language labels and token counts."""
    d = catalog(spark, sf_dir).documents
    base = d.select(
        "doc_id",
        "text",
        F.length("text").cast("long").alias("chars"),
        F.size(F.split("text", " ")).cast("long").alias("words"),
        F.regexp_count("text", F.lit(TOKEN_PATTERN)).cast("long").alias("tokens"),
        (
            (
                F.length("text")
                - F.length(F.regexp_replace("text", PUNCT_CLASS, ""))
            ).cast("double")
            / F.length("text")
        ).alias("punct_ratio"),
    )
    quality = base.where(
        (F.col("chars") >= 100)
        & (F.col("words") >= 20)
        & (F.col("punct_ratio") < 0.10)
    )
    # dedup: only (norm-hash, min doc_id) pairs shuffle; survivors re-join
    # by id (broadcast-able: keepers ≈ distinct contents, bounded per bucket)
    keep = quality.groupBy(_norm_key(F.col("text")).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    dedup = quality.join(keep.select("doc_id"), "doc_id", "left_semi")
    return dedup.select(
        "doc_id",
        F.when(hash_bucket(F.col("doc_id")) < 80, "train")
        .when(hash_bucket(F.col("doc_id")) < 90, "val")
        .otherwise("test")
        .alias("split"),
        lang_id(F.col("text")).alias("lang"),
        "tokens",
        "chars",
    ).orderBy("doc_id")


@register(
    "d34_dataprep_summary",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             CAST(length(text) AS BIGINT) AS chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
             CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT) AS tokens,
             CAST(length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g'))
                  AS DOUBLE) / length(text) AS punct_ratio
      FROM documents
    ), quality AS (
      SELECT * FROM base
      WHERE chars >= 100 AND words >= 20 AND punct_ratio < 0.10
    ), keep AS (
      SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY {_NORM_SQL}
    ), dedup AS (
      SELECT q.* FROM quality q JOIN keep USING (doc_id)
    )
    SELECT CASE WHEN {_bucket_sql('doc_id')} < 80 THEN 'train'
                WHEN {_bucket_sql('doc_id')} < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(chars), 4) AS avg_chars
    FROM dedup GROUP BY split ORDER BY split
    """,
)
def d34_dataprep_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level readout of the same pipeline: docs / token budget / size
    per split — the numbers a dataprep run reports before training starts.
    Same plan as d34_llm_dataprep plus one 3-group aggregate."""
    full = d34_llm_dataprep(spark, sf_dir)
    return (
        full.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
            F.round(F.avg("chars"), 4).alias("avg_chars"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# D35 — upsert / CDC merge (round 2)
# --------------------------------------------------------------------------
@register(
    "d35_upsert_cdc",
    oracle="""
    WITH changes AS (
      SELECT CASE WHEN user_id % 7 = 0 THEN user_id + 1000000
                  ELSE user_id END AS key,
             ROUND(SUM(value), 4) AS delta,
             COUNT(*) AS n_changes
      FROM events GROUP BY 1
    )
    SELECT COALESCE(c.c_custkey, ch.key) AS c_custkey,
           ROUND(COALESCE(c.c_acctbal, 0) + COALESCE(ch.delta, 0), 4) AS balance,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN ch.key IS NULL THEN 'keep'
                ELSE 'update' END AS op
    FROM customer c FULL OUTER JOIN changes ch ON c.c_custkey = ch.key
    ORDER BY c_custkey
    """,
)
def d35_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert / CDC merge — the MERGE INTO primitive of every incremental
    pipeline, expressed engine-agnostically as aggregate-changes →
    full-outer-join → coalesce-per-column: matched keys update (balance +=
    delta), unmatched change keys insert, untouched base rows keep. The
    change batch shifts every 7th user to a fresh key so all three MERGE
    branches are genuinely exercised and oracle-checked.

    Scale: the changes side is a pre-aggregated per-key delta (partial+final
    agg over the CDC stream); the merge is ONE equi-join shuffle on the key
    — exactly the shape Delta/Iceberg MERGE compiles to when the change set
    is not broadcast-able. No row-by-row driver logic anywhere."""
    t = catalog(spark, sf_dir)
    key = F.when(F.col("user_id") % 7 == 0, F.col("user_id") + 1000000).otherwise(
        F.col("user_id")
    )
    changes = (
        t.events.groupBy(key.alias("key"))
        .agg(
            F.round(F.sum("value"), 4).alias("delta"),
            F.count(F.lit(1)).alias("n_changes"),
        )
    )
    base = t.customer.select("c_custkey", "c_acctbal")
    merged = base.join(changes, base.c_custkey == changes.key, "full_outer")
    return merged.select(
        F.coalesce("c_custkey", "key").alias("c_custkey"),
        F.round(
            F.coalesce(F.col("c_acctbal"), F.lit(0.0))
            + F.coalesce(F.col("delta"), F.lit(0.0)),
            4,
        ).alias("balance"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("key").isNull(), "keep")
        .otherwise("update")
        .alias("op"),
    ).orderBy("c_custkey")


@register(
    "d35_scd2_history",
    oracle="""
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S'),
                    '9999-12-31 00:00:00') AS valid_to,
           ROUND(value, 4) AS value,
           (LEAD(ts) OVER w IS NULL) AS is_current
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, valid_from, event_id
    """,
)
def d35_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 historization — the other half of CDC: each change event
    becomes a versioned row with a [valid_from, valid_to) interval, closed
    by the next change for the same key (lead window), open-ended sentinel
    + is_current flag for the latest. One shuffle on the key, sort within
    partitions — the standard dimension-history build at any scale."""
    from pyspark.sql import Window

    ev = catalog(spark, sf_dir).events.where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    # event_id in the output + sort keys makes the ordering TOTAL: two
    # purchases for one user with equal ts and equal value would otherwise
    # tie, and an order-sensitive cross-engine hash could flake.
    return ev.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        F.round("value", 4).alias("value"),
        nxt.isNull().alias("is_current"),
    ).orderBy("user_id", "valid_from", "event_id")


@register(
    "d35_temporal_join",
    oracle="""
    WITH hist AS (
      SELECT user_id, ts AS valid_from,
             COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                      TIMESTAMP '9999-12-31') AS valid_to,
             ROUND(value, 4) AS feature_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.event_id, v.user_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           h.feature_value
    FROM events v
    JOIN hist h ON v.user_id = h.user_id
               AND v.ts >= h.valid_from AND v.ts < h.valid_to
    WHERE v.event_type = 'view'
    ORDER BY v.event_id, h.feature_value
    """,
)
def d35_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct (temporal) join — the feature-store primitive
    that prevents training leakage: each view event joins the purchase-
    derived feature version VALID AT THE EVENT'S TIME (valid_from <= ts <
    valid_to), never a later one. Built as SCD2 intervals (lead window) +
    an equi-join on the key with range predicates — Spark sort-merge-joins
    on user_id and filters the interval per key, so at scale this shuffles
    each side once on the join key and never builds an all-pairs product."""
    from pyspark.sql import Window

    ev = catalog(spark, sf_dir).events
    hist = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("h_user"),
            F.col("ts").alias("valid_from"),
            F.coalesce(
                F.lead("ts").over(
                    Window.partitionBy("user_id").orderBy("ts", "event_id")
                ),
                F.lit("9999-12-31").cast("timestamp"),
            ).alias("valid_to"),
            F.round("value", 4).alias("feature_value"),
        )
    )
    views = ev.where(F.col("event_type") == "view")
    return (
        views.join(
            hist,
            (F.col("user_id") == F.col("h_user"))
            & (F.col("ts") >= F.col("valid_from"))
            & (F.col("ts") < F.col("valid_to")),
        )
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
            "feature_value",
        )
        .orderBy("event_id", "feature_value")
    )


# --------------------------------------------------------------------------
# D34c — sequence packing (concat-then-chunk context-window assignment)
# --------------------------------------------------------------------------
PACK_CTX = 512  # tokens per context window
PACK_SHARDS = 16  # independent packing shards per split


@register(
    "d34_sequence_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN {_bucket_sql('doc_id')} < 80 THEN 'train'
                  WHEN {_bucket_sql('doc_id')} < 90 THEN 'val'
                  ELSE 'test' END AS split,
             {_bucket_sql('doc_id', PACK_SHARDS)} AS shard,
             CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT)
               AS tokens
      FROM documents
    )
    SELECT doc_id, split, shard, tokens,
           CAST(FLOOR((SUM(tokens) OVER (PARTITION BY split, shard
                                         ORDER BY doc_id) - tokens)
                      / {PACK_CTX}.0) AS BIGINT) AS pack_id,
           CAST((SUM(tokens) OVER (PARTITION BY split, shard
                                   ORDER BY doc_id) - tokens)
                % {PACK_CTX} AS BIGINT) AS pack_offset
    FROM t ORDER BY doc_id
    """,
)
def d34_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining: concatenate documents in a
    deterministic order and chunk the token stream into fixed context
    windows (PACK_CTX) — each doc is assigned the pack (and offset) where
    it STARTS. Packing runs independently per (split, shard) where shard
    is an md5 bucket of doc_id: the cumulative sum never serializes on one
    task, packs are reproducible under re-ingestion (hash membership is
    permanent), and at 100 TB the parallelism is split×shards wide — raise
    PACK_SHARDS to match the cluster, semantics are unchanged. One shuffle
    on the (split, shard) key; everything else is map-side."""
    from pyspark.sql import Window

    d = catalog(spark, sf_dir).documents
    base = d.select(
        "doc_id",
        F.when(hash_bucket(F.col("doc_id")) < 80, "train")
        .when(hash_bucket(F.col("doc_id")) < 90, "val")
        .otherwise("test")
        .alias("split"),
        hash_bucket(F.col("doc_id"), PACK_SHARDS).alias("shard"),
        F.regexp_count("text", F.lit(TOKEN_PATTERN)).cast("long").alias(
            "tokens"
        ),
    )
    w = Window.partitionBy("split", "shard").orderBy("doc_id")
    start = F.sum("tokens").over(w) - F.col("tokens")
    return base.select(
        "doc_id",
        "split",
        "shard",
        "tokens",
        F.floor(start / PACK_CTX).cast("long").alias("pack_id"),
        (start % PACK_CTX).cast("long").alias("pack_offset"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D34d — deterministic global shuffle + sharding (training-order assignment)
# --------------------------------------------------------------------------
SHUF_SHARDS = 8


@register(
    "d34_global_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             {_bucket_sql('doc_id', SHUF_SHARDS)} AS shard,
             md5('shuf' || CAST(doc_id AS VARCHAR)) AS ok
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ok, doc_id)
                AS BIGINT) AS pos
    FROM keyed ORDER BY doc_id
    """,
)
def d34_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc gets a shard
    (md5 bucket) and a position within its shard (rank by a SECOND, salted
    md5 key — decorrelated from shard assignment). This is the 'shuffle
    the corpus before writing training shards' step, with the property a
    seeded ``orderBy(rand())`` can never give: the permutation is a pure
    function of content, identical on every engine/partitioning/rerun, so
    resumed or re-run dataprep emits byte-identical shard files.

    Scale shape: one shuffle on the shard key, then a per-shard sort —
    parallelism = SHUF_SHARDS (raise it to match the cluster; semantics
    unchanged). The write-path spelling of the same plan is
    ``repartition(SHUF_SHARDS, shard).sortWithinPartitions(ok)`` — no
    global sort, no single-task ordering bottleneck."""
    from pyspark.sql import Window

    d = catalog(spark, sf_dir).documents
    keyed = d.select(
        "doc_id",
        hash_bucket(F.col("doc_id"), SHUF_SHARDS).alias("shard"),
        F.md5(F.concat(F.lit("shuf"), F.col("doc_id").cast("string"))).alias(
            "ok"
        ),
    )
    w = Window.partitionBy("shard").orderBy("ok", "doc_id")
    return (
        keyed.select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("pos"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D35d — snapshot-at-time (point-in-time table-state reconstruction from a
# CDC/event log: the AS OF read of every lakehouse table format)
# --------------------------------------------------------------------------
SNAPSHOT_AT = "2024-01-15 00:00:00"


@register(
    "d35_snapshot_at",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_id, ts, ROUND(value, 4) AS value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE event_type = 'purchase' AND ts <= TIMESTAMP '{SNAPSHOT_AT}'
    )
    SELECT user_id, event_id AS last_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS as_of_ts, value
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
def d35_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruct per-key table state AS OF a timestamp from the event log:
    the latest purchase row per user at SNAPSHOT_AT (arg-max by (ts,
    event_id), deterministic tiebreak). The time predicate is pushed to the
    scan (partition pruning on a date-partitioned log reads only history up
    to T); the arg-max is one window over the key — same plan shape Delta/
    Iceberg time travel executes for MERGE-log compaction. Complements
    d35_scd2_history (full interval table) with the cheaper point read."""
    from pyspark.sql import Window

    ev = catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.where(
            (F.col("event_type") == "purchase")
            & (F.col("ts") <= F.lit(SNAPSHOT_AT).cast("timestamp"))
        )
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("as_of_ts"),
            F.round("value", 4).alias("value"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# D35e — incremental materialized-view maintenance (merge partial aggregates
# from a delta batch into an existing aggregate instead of recomputing)
# --------------------------------------------------------------------------
MV_CUTOVER = "2024-01-20 00:00:00"


@register(
    "d35_mv_merge",
    oracle="""
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def d35_mv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the pre-cutover aggregate
    (the 'existing MV') is merged with the delta batch's aggregate by
    summing partial states per key — COUNT and SUM are decomposable, so
    merge(agg(A), agg(B)) == agg(A ∪ B), and the oracle IS the full
    recompute. This is the pattern that turns a daily 100 TB rollup into a
    per-partition delta job: the base MV is never rescanned, only the delta
    aggregates (map-side combined) and one merge join/agg on the MV key.
    Non-decomposable aggs (exact distinct, median) need sketch states
    instead — documented boundary, not hidden."""
    ev = catalog(spark, sf_dir).events
    cut = F.lit(MV_CUTOVER).cast("timestamp")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )

    base = agg(ev.where(F.col("ts") < cut))       # the existing MV
    delta = agg(ev.where(F.col("ts") >= cut))     # the new partition's agg
    merged = (
        base.unionByName(delta)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.sum("sum_value"), 4).alias("sum_value"),
        )
    )
    return merged.orderBy("user_id", "event_type")


# --------------------------------------------------------------------------
# D35f — snapshot diff / changelog derivation (CDC between two AS-OF states)
# --------------------------------------------------------------------------
DIFF_T1 = "2024-01-10 00:00:00"
DIFF_T2 = "2024-01-20 00:00:00"


@register(
    "d35_snapshot_diff",
    oracle=f"""
    WITH state1 AS (
      SELECT user_id, event_id, value FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE event_type = 'purchase' AND ts <= TIMESTAMP '{DIFF_T1}'
      ) WHERE rn = 1
    ),
    state2 AS (
      SELECT user_id, event_id, value FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE event_type = 'purchase' AND ts <= TIMESTAMP '{DIFF_T2}'
      ) WHERE rn = 1
    )
    SELECT COALESCE(s2.user_id, s1.user_id) AS user_id,
           CASE WHEN s1.user_id IS NULL THEN 'insert' ELSE 'update' END AS op,
           s1.event_id AS old_event_id,
           s2.event_id AS new_event_id,
           ROUND(s1.value, 4) AS old_value,
           ROUND(s2.value, 4) AS new_value
    FROM state2 s2 LEFT JOIN state1 s1 ON s2.user_id = s1.user_id
    WHERE s1.user_id IS NULL OR s1.event_id <> s2.event_id
    ORDER BY user_id
    """,
)
def d35_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog between two point-in-time states of the keyed table derived
    from the event log: rows whose latest-purchase state changed between
    DIFF_T1 and DIFF_T2, classified 'insert' (key absent at T1) or 'update'
    (latest event advanced). An append-only purchase log cannot delete keys,
    so no 'delete' branch exists here; with a tombstone event type it would
    be the symmetric right-join arm of the same plan.

    Scale shape: BOTH snapshots come from ONE scan of the log (ts <= T2 is
    the only scan predicate, pushed to parquet) and ONE partially-aggregated
    groupBy — each arg-max is a ``max_by(payload, struct(ts, event_id))``
    (struct ordering keys compare lexicographically, event_id breaks ties,
    and ``max_by`` skips rows whose ordering key is NULL, which is how the
    conditional restricts the T1 state to ts <= T1 rows). No window, no
    join, no sort: max_by aggregates hash-based (ObjectHashAggregate), the
    shuffle carries two small structs per key — strictly less than either
    snapshot table — and map-side combine reduces history before it moves."""
    ev = catalog(spark, sf_dir).events
    base = ev.where(
        (F.col("event_type") == "purchase")
        & (F.col("ts") <= F.lit(DIFF_T2).cast("timestamp"))
    ).select("user_id", "event_id", "ts", "value")
    in_t1 = F.col("ts") <= F.lit(DIFF_T1).cast("timestamp")
    payload = F.struct("event_id", "value")
    order_key = F.struct("ts", "event_id")
    agg = base.groupBy("user_id").agg(
        F.max_by(payload, order_key).alias("s2"),
        F.max_by(F.when(in_t1, payload), F.when(in_t1, order_key)).alias("s1"),
    )
    return (
        agg.where(
            F.col("s1").isNull() | (F.col("s1.event_id") != F.col("s2.event_id"))
        )
        .select(
            "user_id",
            F.when(F.col("s1").isNull(), "insert").otherwise("update").alias("op"),
            F.col("s1.event_id").alias("old_event_id"),
            F.col("s2.event_id").alias("new_event_id"),
            F.round(F.col("s1.value"), 4).alias("old_value"),
            F.round(F.col("s2.value"), 4).alias("new_value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# D35g — small-file compaction (lakehouse table maintenance)
# --------------------------------------------------------------------------
COMPACT_TARGET_FILES = 4


def compact_dir(spark: SparkSession, src: str, dst: str, n_files: int) -> None:
    """Rewrite a many-small-files dataset into n_files range-clustered files
    — the OPTIMIZE/compaction pass every streaming-ingested table needs.
    ``repartitionByRange`` (not round-robin ``repartition``) so each output
    file covers a contiguous key range: compaction doubles as clustering
    and later range predicates skip whole files via parquet min/max."""
    (
        spark.read.parquet(src)
        .repartitionByRange(n_files, "event_id")
        .write.mode("overwrite")
        .parquet(dst)
    )


@register(
    "d35_compact_files",
    oracle="""
    SELECT event_id, user_id, event_type, ROUND(value, 4) AS value
    FROM events
    ORDER BY event_id
    """,
)
def d35_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction round trip: fragment events into 32 small files (the
    state a micro-batch ingest leaves behind), compact to
    COMPACT_TARGET_FILES range-clustered files, read the compacted table
    back. The oracle pins CONTENT preservation (bit-identical rows); the
    pytest side pins the LAYOUT (file count collapses to the target, and
    each file's event_id range is disjoint). At 100 TB this runs per
    partition-of-the-table, and the same range clustering is what makes
    post-compaction scans prune by file min/max."""

    def build(tmp: str) -> None:
        frag = os.path.join(tmp, "frag")
        catalog(spark, sf_dir).events.repartition(32).write.mode(
            "overwrite"
        ).parquet(frag)
        compact_dir(spark, frag, os.path.join(tmp, "packed"), COMPACT_TARGET_FILES)

    packed = os.path.join(staged("compact", build, sf_dir), "packed")
    return (
        spark.read.parquet(packed)
        .select("event_id", "user_id", "event_type", F.round("value", 4).alias("value"))
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# D35h — Z-order (Morton) clustering key (multi-dimensional data skipping)
# --------------------------------------------------------------------------
ZORDER_BITS = 8


def _morton_sql(xe: str, ye: str, bits: int = ZORDER_BITS) -> str:
    """ANSI-SQL bit interleave: z = sum_k ((x>>k)&1)<<2k | ((y>>k)&1)<<2k+1.
    Written as an explicit sum so DuckDB and Spark evaluate the identical
    integer expression."""
    terms = []
    for k in range(bits):
        terms.append(f"(({xe} // {1 << k}) % 2) * {1 << (2 * k)}")
        terms.append(f"(({ye} // {1 << k}) % 2) * {1 << (2 * k + 1)}")
    return " + ".join(terms)


def morton_col(x, y, bits: int = ZORDER_BITS):
    """The same interleave as a JVM column expression (shiftright/bitwise,
    codegen'd — no UDF)."""
    z = F.lit(0).cast("long")
    for k in range(bits):
        zx = F.shiftright(x, k).bitwiseAND(F.lit(1)).cast("long") * (1 << (2 * k))
        zy = F.shiftright(y, k).bitwiseAND(F.lit(1)).cast("long") * (1 << (2 * k + 1))
        z = z + zx + zy
    return z


@register(
    "d35_zorder_key",
    oracle=f"""
    WITH q AS (
      SELECT event_id,
             LEAST(GREATEST(CAST(FLOOR(
                  CAST(epoch(ts) - epoch(TIMESTAMP '2024-01-01') AS DOUBLE)
                  / (30 * 86400) * 255) AS BIGINT), 0), 255) AS xq,
             CAST(FLOOR(LEAST(GREATEST(value, 0), 100) / 100 * 255) AS BIGINT) AS yq
      FROM events
    )
    SELECT event_id, xq, yq,
           CAST({_morton_sql('xq', 'yq')} AS BIGINT) AS zorder
    FROM q
    ORDER BY event_id
    """,
)
def d35_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (event time, value): quantize
    both dimensions to 8 bits, interleave the bits JVM-side. Sorting a
    table by this key before writing gives MULTI-dimensional data skipping
    — parquet min/max on z-ranges prunes files for predicates on EITHER
    dimension, where a plain sort only skips on its leading column. The
    interleave is pure integer codegen (no UDF, no shuffle); the write-side
    usage is ``repartitionByRange(N, zorder).sortWithinPartitions(zorder)``
    exactly like d35_compact_files' range clustering."""
    ev = catalog(spark, sf_dir).events
    # clamp BOTH quantized dims: an out-of-domain ts would go negative,
    # where DuckDB's floor-division //-semantics and Spark's shiftright
    # diverge — the clamp keeps the interleave identical on both engines
    xq = F.least(
        F.greatest(
            F.floor(
                (
                    F.col("ts").cast("double")
                    - F.lit("2024-01-01").cast("timestamp").cast("double")
                )
                / (30 * 86400) * 255
            ).cast("long"),
            F.lit(0),
        ),
        F.lit(255),
    )
    yq = F.floor(
        F.least(F.greatest(F.col("value"), F.lit(0.0)), F.lit(100.0)) / 100 * 255
    ).cast("long")
    q = ev.select("event_id", xq.alias("xq"), yq.alias("yq"))
    return q.select(
        "event_id", "xq", "yq", morton_col(F.col("xq"), F.col("yq")).alias("zorder")
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# D35i — schema evolution on read (mergeSchema across file generations)
# --------------------------------------------------------------------------
def stage_evolved_events(sf_dir: str) -> str:
    """Stage TWO parquet generations of the same logical table: gen-1 has
    (event_id, user_id, value); gen-2 ADDS a derived `channel` column — the
    additive schema change every long-lived lakehouse table accumulates.
    Deterministic bounded extracts via pyarrow (no Spark needed, so the
    oracle can stage independently)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        t = pq.read_table(
            os.path.join(sf_dir, "events.parquet"),
            columns=["event_id", "user_id", "value"],
        )
        g1 = t.filter(pc.field("event_id") < 1000)
        g2 = t.filter(
            (pc.field("event_id") >= 1000) & (pc.field("event_id") < 2000)
        )
        g2 = g2.append_column(
            "channel",
            pc.if_else(
                pc.equal(pc.bit_wise_and(g2.column("event_id"), 1), 1),
                pa.scalar("web"),
                pa.scalar("app"),
            ),
        )
        pq.write_table(g1, os.path.join(tmp, "gen1.parquet"))
        pq.write_table(g2, os.path.join(tmp, "gen2.parquet"))

    return staged("evolve", build, sf_dir)


def _evolve_oracle() -> str:
    # function-local: a module-level import would register formats' queries
    # ahead of this module's and reorder the registry
    from conceptnetwork_spark.sources.formats import _try_stage

    path = _try_stage(stage_evolved_events, "evolve", "").rstrip("/")
    return f"""
    SELECT event_id, user_id, ROUND(value, 4) AS value, channel
    FROM read_parquet('{path}/gen*.parquet', union_by_name=true)
    ORDER BY event_id
    """


@register("d35_schema_evolution", oracle=_evolve_oracle)
def d35_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet generations with different
    schemas scanned as ONE table via mergeSchema — gen-1 rows surface the
    added `channel` column as NULL, matching DuckDB's union_by_name read
    of the same files.

    Scale shape: mergeSchema pays one footer-reconciliation pass at
    planning (bounded by file count, not data size); the scan itself stays
    fully parallel with pushdown/pruning intact. The at-scale discipline
    this query pins down: schema changes must be ADDITIVE (new nullable
    columns), so readers never rewrite old files — the evolution cost is
    metadata-only."""
    path = stage_evolved_events(sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        df.select(
            "event_id",
            "user_id",
            F.round("value", 4).alias("value"),
            "channel",
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# D34e — per-domain token-budget curation (data-mixture enforcement)
# --------------------------------------------------------------------------
TOKEN_BUDGET = 2000  # tokens admitted per source domain


@register(
    "d34_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT)
               AS tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, tokens,
             CAST(SUM(tokens) OVER (PARTITION BY source
                                    ORDER BY tokens DESC, doc_id)
                  AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, source, tokens, cum_tokens
    FROM c WHERE cum_tokens - tokens < {TOKEN_BUDGET}
    ORDER BY doc_id
    """,
)
def d34_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation: admit documents per source domain, best
    (longest) first, until the domain's token budget is spent — the
    mixture-enforcement step of a pretraining run ("this much web, this
    much code, this much books"). Greedy-until-exceed: the doc that crosses
    the budget line is kept, everything ranked after it is cut, so the
    admitted set is a deterministic pure function of content.

    Scale shape: one shuffle on the source key, then a per-domain running
    sum — parallelism = number of domains × AQE coalescing; no collect, no
    driver-side loop. At 100 TB with few giant domains, pre-bucket by
    (source, md5 shard) and allocate each shard budget/shards tokens — the
    same plan, one more key column (the d34_sequence_pack sharding trick)."""
    from pyspark.sql import Window

    d = catalog(spark, sf_dir).documents
    t = d.select(
        "doc_id",
        "source",
        F.regexp_count("text", F.lit(TOKEN_PATTERN)).cast("long").alias("tokens"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("tokens"), "doc_id")
    c = t.withColumn("cum_tokens", F.sum("tokens").over(w).cast("long"))
    return c.where(
        F.col("cum_tokens") - F.col("tokens") < TOKEN_BUDGET
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D35 extension — CDC apply WITH delete tombstones (the branch d35_upsert_cdc
# documents as absent from an append-only log)
# --------------------------------------------------------------------------
@register(
    "d35_cdc_deletes",
    # change feed: purchases upsert (user_id -> value), errors are DELETE
    # tombstones; application order is (ts, event_id). Final table = users
    # whose LAST change is an upsert, carrying that upsert's value.
    oracle="""
    WITH feed AS (
      SELECT user_id, event_id, ts, event_type, value FROM events
      WHERE event_type IN ('purchase', 'error')
    ), last AS (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM feed
    )
    SELECT user_id, event_id AS last_event_id, ROUND(value, 4) AS value
    FROM last WHERE rn = 1 AND event_type = 'purchase'
    ORDER BY user_id
    """,
)
def d35_cdc_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with DELETE tombstones: the change feed carries upserts
    (purchases) and deletions (errors, standing in for the tombstone rows
    a CDC source emits on row deletion / a GDPR erasure request). MERGE
    semantics: per key, the LAST change wins — an upsert survives with its
    value, a tombstone removes the key entirely. This is the branch
    d35_upsert_cdc explicitly documents as absent for append-only logs.

    Scale shape: one arg-max shuffle on user_id (partial+final max_by —
    the per-partition combiner keeps one candidate row per key before the
    exchange), then a map-side tombstone filter. No join, no second scan;
    at 100 TB the shuffle carries one row per distinct key per partition,
    not the feed."""
    from pyspark.sql import Window

    feed = catalog(spark, sf_dir).events.where(
        F.col("event_type").isin("purchase", "error")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = feed.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        last.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.round("value", 4).alias("value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# D35 extension — write-audit-publish (staged atomic publication)
# --------------------------------------------------------------------------
def _wap_publish(spark: SparkSession, sf_dir: str) -> str:
    """Stage → audit → atomically publish a curated extract. The write
    lands in a staging dir; the audit re-READS the staged files and checks
    row count + key checksum against the source aggregate; only then is
    the staging dir renamed into the published location (atomic on POSIX).
    A failed audit raises inside the build, so nothing is published."""

    def build(tmp: str) -> None:
        src = (
            catalog(spark, sf_dir)
            .orders.where(F.col("o_orderpriority") == "1-URGENT")
            .select(
                "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("price")
            )
        )
        expected = src.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.col("o_orderkey").cast("string"))).alias("ck"),
        ).collect()[0]
        src.write.mode("overwrite").parquet(tmp)
        audited = (
            spark.read.parquet(tmp)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.crc32(F.col("o_orderkey").cast("string"))).alias("ck"),
            )
            .collect()[0]
        )
        if (audited["n"], audited["ck"]) != (expected["n"], expected["ck"]):
            raise RuntimeError(
                f"WAP audit failed: staged ({audited['n']}, {audited['ck']}) != "
                f"expected ({expected['n']}, {expected['ck']}); publish aborted"
            )

    return staged("wap", build, sf_dir)


@register(
    "d35_write_audit_publish",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS price
    FROM orders WHERE o_orderpriority = '1-URGENT'
    ORDER BY o_orderkey
    """,
)
def d35_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish: the batch-pipeline reliability pattern — data
    lands in a STAGING directory, an audit re-reads the staged bytes and
    verifies row count + key checksum against the source, and only a
    passing audit atomically renames staging into the published path.
    Downstream readers never observe a partial or corrupt publication;
    a failed audit aborts with the staging dir removed. The oracle reads
    the SOURCE rows — the published table must be byte-equivalent through
    the full write→audit→publish→read cycle.

    Scale shape: the audit is one aggregate over the staged files (count +
    codegen crc32 sum — no row comparison, no collect of data); publish is
    one filesystem rename. On an object store, rename becomes a manifest
    swap (Iceberg/Delta commit) — same pattern, same audit."""
    path = _wap_publish(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .select("o_orderkey", "o_custkey", "price")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# D35 extension — dynamic partition overwrite (partition-scoped backfill)
# --------------------------------------------------------------------------
def _dynamic_overwrite(spark: SparkSession, sf_dir: str) -> str:
    """Two-step partition-scoped backfill: write a per-priority aggregate
    where the '1-URGENT' partition is deliberately STALE (even orderkeys
    only), then re-run the urgent partition alone with full data under
    dynamic partitionOverwriteMode. Dynamic mode replaces ONLY the
    partitions present in the second write — static mode would delete the
    other four."""

    def build(tmp: str) -> None:
        o = catalog(spark, sf_dir).orders
        agg = lambda df: (  # noqa: E731
            df.groupBy("o_orderpriority", (F.col("o_custkey") % 10).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            )
        )
        stale = o.where(
            (F.col("o_orderpriority") != "1-URGENT")
            | (F.col("o_orderkey") % 2 == 0)
        )
        agg(stale).write.mode("overwrite").partitionBy(
            "o_orderpriority"
        ).parquet(tmp)
        # partition-scoped re-run: only the urgent partition is in this
        # frame; dynamic mode must leave the other four untouched
        fix = agg(o.where(F.col("o_orderpriority") == "1-URGENT"))
        fix.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("o_orderpriority").parquet(tmp)

    return staged("dynovr", build, sf_dir)


@register(
    "d35_dynamic_overwrite",
    # final state must equal the FULL aggregate for every partition: the
    # urgent partition proves the backfill landed, the other four prove
    # dynamic mode did NOT delete untouched partitions (static overwrite
    # would leave only the urgent one).
    oracle="""
    SELECT o_orderpriority, CAST(o_custkey % 10 AS BIGINT) AS bucket,
           COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 4) AS revenue
    FROM orders GROUP BY 1, 2
    ORDER BY o_orderpriority, bucket
    """,
)
def d35_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the partition-scoped backfill
    primitive of incremental batch pipelines: re-running one partition's
    job replaces exactly that partition's files and leaves every other
    partition untouched (static overwrite mode would drop them). Staged
    here as a stale-then-backfill sequence whose end state must equal the
    clean full aggregate, which discriminates dynamic from static mode by
    construction.

    Scale shape: the overwrite unit is the hive partition directory —
    a day's backfill on a 100 TB table rewrites one partition's files,
    never the table; commit is the file-listing swap per partition. The
    read-back carries PartitionFilters as usual (d01_partitioned_read)."""
    path = _dynamic_overwrite(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .select("o_orderpriority", F.col("bucket").cast("long").alias("bucket"), "n_orders", "revenue")
        .orderBy("o_orderpriority", "bucket")
    )


# --------------------------------------------------------------------------
# D34f — training-shard manifest (the dataprep run's output contract)
# --------------------------------------------------------------------------
@register(
    "d34_shard_manifest",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN {_bucket_sql('doc_id')} < 80 THEN 'train'
                  WHEN {_bucket_sql('doc_id')} < 90 THEN 'val'
                  ELSE 'test' END AS split,
             {_bucket_sql('doc_id', SHUF_SHARDS)} AS shard,
             CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT)
               AS tokens
      FROM documents
    )
    SELECT split, shard,
           COUNT(*) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM t GROUP BY split, shard ORDER BY split, shard
    """,
)
def d34_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-shard MANIFEST: per (split, shard) — document count,
    token budget, and id range. This is the output contract of the whole
    dataprep pipeline: the training job reads the manifest to size its
    data loader, validate shard completeness, and checkpoint progress;
    re-running dataprep must reproduce it bit-for-bit (every column is a
    pure function of content via the md5 split/shard assignment).

    Scale shape: one partial+final aggregate over (split, shard) — a
    3×SHUF_SHARDS-row result regardless of corpus size; the manifest of
    a 100 TB run is a handful of rows and is THE thing to diff between
    pipeline versions before any byte-level comparison."""
    d = catalog(spark, sf_dir).documents
    t = d.select(
        "doc_id",
        F.when(hash_bucket(F.col("doc_id")) < 80, "train")
        .when(hash_bucket(F.col("doc_id")) < 90, "val")
        .otherwise("test")
        .alias("split"),
        hash_bucket(F.col("doc_id"), SHUF_SHARDS).alias("shard"),
        F.regexp_count("text", F.lit(TOKEN_PATTERN)).cast("long").alias("tokens"),
    )
    return (
        t.groupBy("split", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split", "shard")
    )


# --------------------------------------------------------------------------
# D35 extension — partition-pruning stats manifest (the metadata layer
# that makes file skipping work; Z-order's companion)
# --------------------------------------------------------------------------
@register(
    "d35_partition_stats",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS part,
           COUNT(*) AS n_rows,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
           ROUND(MIN(o_totalprice), 4) AS min_price,
           ROUND(MAX(o_totalprice), 4) AS max_price
    FROM orders GROUP BY 1 ORDER BY part
    """,
)
def d35_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition min/max/count stats manifest — the metadata a lakehouse
    table format (Delta/Iceberg/Hudi) keeps per file so point and range
    queries PRUNE partitions instead of scanning them. Emitting it as a
    query certifies the stats-collection pass that runs after every write
    / compaction (d35_compact_files) / clustering (d35_zorder_key) job.

    Scale shape: one partial+final aggregate; output rows = number of
    partitions, independent of row volume. At 100 TB this manifest is the
    difference between a key lookup touching one file and touching all of
    them — min/max on the clustered key (see d35_zorder_key) gives the
    planner non-overlapping key ranges to binary-search."""
    o = catalog(spark, sf_dir).orders
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("part"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.round(F.min("o_totalprice"), 4).alias("min_price"),
            F.round(F.max("o_totalprice"), 4).alias("max_price"),
        )
        .orderBy("part")
    )


# --------------------------------------------------------------------------
# D34g — dataset card (the per-slice statistics block of a dataset's
# documentation / datasheet)
# --------------------------------------------------------------------------
@register(
    "d34_dataset_card",
    oracle=f"""
    WITH t AS (
      SELECT lang, source,
             CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT)
               AS tokens,
             n_chars
      FROM documents
    ), slice AS (
      SELECT lang, source,
             COUNT(*) AS n_docs,
             CAST(SUM(tokens) AS BIGINT) AS total_tokens,
             ROUND(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 4) AS p50_chars,
             ROUND(CAST(quantile_cont(n_chars, 0.95) AS DOUBLE), 4) AS p95_chars
      FROM t GROUP BY lang, source
    )
    SELECT lang, source, n_docs, total_tokens, p50_chars, p95_chars,
           ROUND(n_docs / CAST(SUM(n_docs) OVER () AS DOUBLE), 4) AS pct_docs
    FROM slice ORDER BY lang, source
    """,
)
def d34_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATASET CARD statistics block: per (lang, source) slice —
    document count, token budget, exact p50/p95 document length, and the
    slice's share of the corpus. This is the table a dataset datasheet /
    model card publishes, and the first thing reviewed when a new crawl
    snapshot lands; like d34_shard_manifest it must be bit-reproducible
    across pipeline re-runs.

    Scale shape: one partial+final aggregate per slice; the exact
    percentiles shuffle only (slice, n_chars) pairs, and the share-of-
    corpus window runs over the handful of slice rows, not the data. At
    100 TB swap percentile() for approx_percentile on the same plan if
    the per-slice char lists outgrow executor memory (D11 documents the
    tolerance contract)."""
    d = catalog(spark, sf_dir).documents
    t = d.select(
        "lang",
        "source",
        F.regexp_count("text", F.lit(TOKEN_PATTERN)).cast("long").alias("tokens"),
        "n_chars",
    )
    from pyspark.sql import Window

    slice_ = t.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").alias("total_tokens"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 4).alias("p95_chars"),
    )
    w = Window.partitionBy()
    return (
        slice_.withColumn(
            "pct_docs",
            F.round(F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 4),
        )
        .select(
            "lang", "source", "n_docs", "total_tokens",
            "p50_chars", "p95_chars", "pct_docs",
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------------------------------------
# D34h — pipeline reproducibility fingerprint (the one-row "did anything
# change" bit for the whole dataprep output)
# --------------------------------------------------------------------------
@register(
    "d34_repro_fingerprint",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN {_bucket_sql('doc_id')} < 80 THEN 'train'
                  WHEN {_bucket_sql('doc_id')} < 90 THEN 'val'
                  ELSE 'test' END AS split,
             md5(concat(CAST(doc_id AS VARCHAR), '|', text)) AS row_md5
      FROM documents
    )
    SELECT split,
           COUNT(*) AS n_docs,
           bit_xor(CAST(('0x' || substr(row_md5, 1, 15)) AS BIGINT))
             AS fingerprint
    FROM t GROUP BY split ORDER BY split
    """,
)
def d34_repro_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split REPRODUCIBILITY FINGERPRINT: XOR of a 60-bit prefix of
    each row's content md5 — one row per split that changes if ANY
    document's content or split assignment changes, and is identical for
    any row order or partitioning (XOR is commutative/associative and
    cannot overflow, unlike a checksum SUM). Re-running the pipeline and
    diffing three fingerprint rows replaces diffing terabytes; CI gates
    on this before any byte-level comparison.

    Scale shape: map-side md5 + hex-parse, one partial+final XOR
    aggregate to 3 rows. The same trick verifies a migration (old vs new
    cluster), a compaction (d35_compact_files must preserve it), and a
    format change — any content-preserving transform must fix-point it."""
    return repro_fingerprint(catalog(spark, sf_dir).documents)


def repro_fingerprint(d: DataFrame) -> DataFrame:
    """Fingerprint over any documents-shaped DataFrame — factored out so
    the partition-INVARIANCE claim in the docstring above is itself a
    tested property (same result under any repartitioning)."""
    t = d.select(
        F.when(hash_bucket(F.col("doc_id")) < 80, "train")
        .when(hash_bucket(F.col("doc_id")) < 90, "val")
        .otherwise("test")
        .alias("split"),
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text"))
        ).alias("row_md5"),
    )
    return (
        t.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.bit_xor(
                F.conv(F.substring("row_md5", 1, 15), 16, 10).cast("long")
            ).alias("fingerprint"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# D35 extension (round 5) — VACUUM with retention (completing the table
# maintenance trio: compact, zorder, vacuum)
# --------------------------------------------------------------------------
VACUUM_RETENTION_S = 3600
VACUUM_LIVE_FILES = 4


def vacuum_dir(
    manifest: set[str], table_dir: str, retention_s: int
) -> tuple[list[str], list[str]]:
    """Delete parquet files in ``table_dir`` that are (a) NOT referenced by
    the committed ``manifest`` and (b) older than ``retention_s``. The
    retention window is the in-flight-writer protection every real vacuum
    carries: a file not yet committed to the manifest may belong to a
    running write, so only files old enough that no writer can still be
    alive are removed. Returns (removed, kept_orphans)."""
    import os as _os
    import time as _time

    now = _time.time()
    removed, kept = [], []
    for fn in _os.listdir(table_dir):
        if not fn.endswith(".parquet") or fn in manifest:
            continue
        path = _os.path.join(table_dir, fn)
        if now - _os.path.getmtime(path) > retention_s:
            _os.remove(path)
            removed.append(fn)
        else:
            kept.append(fn)
    return removed, kept


@register(
    "d35_vacuum_retention",
    oracle=f"""
    SELECT * FROM (
      SELECT 'live_files_kept' AS metric,
             CAST({VACUUM_LIVE_FILES} AS BIGINT) AS value
      UNION ALL SELECT 'orphans_removed', 2
      UNION ALL SELECT 'recent_orphans_kept', 1
      UNION ALL SELECT 'table_rows_after', (SELECT COUNT(*) FROM events)
    ) t(metric, value) ORDER BY metric
    """,
)
def d35_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM with a retention window, end to end: stage a table whose
    directory holds committed files (in the manifest), two STALE orphans
    (uncommitted leftovers of failed/overwritten writes, mtime past
    retention), and one RECENT orphan (a possibly in-flight write, inside
    retention). Vacuum must remove exactly the stale orphans, keep the
    recent one, and leave the manifest-committed table byte-identical —
    the audit row counts and the post-vacuum rowcount are on the oracle
    hash; the pytest side pins the directory layout.

    Scale shape: vacuum is pure file-listing set-difference against the
    manifest — O(#files) driver/metadata work, zero data reads; the
    retention check is an mtime compare. At 100 TB this runs per table
    partition with the listing parallelized, and the manifest (not the
    filesystem) remains the source of truth for readers throughout."""
    import os as _os
    import shutil as _shutil

    ev = catalog(spark, sf_dir).events
    work = scratch_dir(spark, "vacuum")
    ev.repartition(VACUUM_LIVE_FILES).write.mode("overwrite").parquet(work)
    live = sorted(f for f in _os.listdir(work) if f.endswith(".parquet"))
    assert len(live) == VACUUM_LIVE_FILES
    now = __import__("time").time()
    # two stale orphans (well past retention) + one recent orphan
    for i, age in enumerate((VACUUM_RETENTION_S * 2, VACUUM_RETENTION_S * 3)):
        orphan = _os.path.join(work, f"orphan_stale_{i}.parquet")
        _shutil.copyfile(_os.path.join(work, live[0]), orphan)
        _os.utime(orphan, (now - age, now - age))
    recent = _os.path.join(work, "orphan_recent.parquet")
    _shutil.copyfile(_os.path.join(work, live[1]), recent)

    removed, kept_orphans = vacuum_dir(set(live), work, VACUUM_RETENTION_S)
    # the committed table must be untouched: recount through the manifest
    n_rows = spark.read.parquet(*[_os.path.join(work, f) for f in live]).count()
    audit = [
        ("live_files_kept", len([f for f in _os.listdir(work) if f in live])),
        ("orphans_removed", len(removed)),
        ("recent_orphans_kept", len(kept_orphans)),
        ("table_rows_after", n_rows),
    ]
    return spark.createDataFrame(audit, "metric string, value long").orderBy(
        "metric"
    )


# --------------------------------------------------------------------------
# D35 extension (round 6) — MERGE-ON-READ deletes via deletion vectors:
# positional (file, row_index) tombstones applied at scan time with
# Spark's _metadata.row_index, no base-file rewrite (the Delta
# deletion-vector / Iceberg positional-delete pattern)
# --------------------------------------------------------------------------
DV_N_FILES = 4


def stage_dv_table(sf_dir: str) -> tuple[str, str]:
    """Stage a bounded orders extract as DV_N_FILES parquet files (sorted
    by o_orderkey, contiguous slices — so each row's (file, row_index) is
    closed-form) plus a deletion-vector parquet of the POSITIONS of rows
    with o_orderkey % 7 == 0. pyarrow only."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        t = pq.read_table(
            os.path.join(sf_dir, "orders.parquet"),
            columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
            filters=pc.field("o_orderkey") < 4000,
        ).sort_by("o_orderkey")
        os.makedirs(os.path.join(tmp, "orders_base"))
        positions = {"file_name": [], "row_index": []}
        n = len(t)
        for i in range(DV_N_FILES):
            lo, hi = i * n // DV_N_FILES, (i + 1) * n // DV_N_FILES
            part = t.slice(lo, hi - lo)
            fname = f"part-{i}.parquet"
            pq.write_table(part, os.path.join(tmp, "orders_base", fname))
            keys = part["o_orderkey"].to_pylist()
            for pos, k in enumerate(keys):
                if k % 7 == 0:
                    positions["file_name"].append(fname)
                    positions["row_index"].append(pos)
        pq.write_table(
            pa.table(
                {
                    "file_name": pa.array(positions["file_name"]),
                    "row_index": pa.array(positions["row_index"], pa.int64()),
                }
            ),
            os.path.join(tmp, "deletes.parquet"),
        )

    base = staged("dv", build, sf_dir)
    return os.path.join(base, "orders_base"), os.path.join(base, "deletes.parquet")


def _dv_oracle() -> str:
    base_dir, _ = stage_dv_table(oracle_sf_dir())
    return f"""
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 4) AS totalprice
    FROM '{base_dir}/*.parquet'
    WHERE o_orderkey % 7 <> 0
    ORDER BY o_orderkey
    """


@register("d35_deletion_vectors", oracle=_dv_oracle)
def d35_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ deletes: the live table = base parquet files MINUS a
    positional deletion vector, applied at scan time as a LEFT ANTI join
    on (`_metadata.file_name`, `_metadata.row_index`) — no base-file
    rewrite, the Delta-DV / Iceberg-positional-delete read path. The
    Spark side never sees the delete PREDICATE, only positions; the
    oracle recomputes the survivors from the predicate — so the hash
    certifies that positional application reproduces predicate deletion
    exactly (any row_index misalignment diverges).

    Scale shape: the DV side is tiny-per-file and broadcast; the base
    scan streams with two metadata columns appended; compaction
    (d35_compact_files) eventually folds DVs into rewritten files. At
    100 TB this is how deletes ship daily without rewriting petabytes."""
    base_dir, dv_path = stage_dv_table(sf_dir)
    base = spark.read.parquet(base_dir).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    dv = spark.read.parquet(dv_path)
    return (
        base.join(F.broadcast(dv), ["file_name", "row_index"], "left_anti")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 4).alias("totalprice"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# D34 (cont.) — curriculum ordering via DISTRIBUTED row numbering
# [round-6 wave 3]
# --------------------------------------------------------------------------
CURR_BUCKETS = 4


def _curriculum_numbered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-checkpoint subtree of d34_curriculum_order: width-bucket over
    n_chars, then the distributed two-pass row number's pass 2 — a range
    exchange on (bucket, doc_id) followed by a MAP-ONLY mapInPandas counter
    (no second exchange). Split out so tests/test_plans.py can pin this
    shape even though the declared query truncates it behind a lazy
    localCheckpoint."""
    d = catalog(spark, sf_dir).documents.select("doc_id", "n_chars")
    s = d.agg(F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx"))
    b = d.crossJoin(F.broadcast(s)).select(
        "doc_id",
        F.when(F.col("mx") == F.col("mn"), F.lit(1))
        .otherwise(
            F.least(
                F.lit(CURR_BUCKETS),
                (
                    F.lit(1)
                    + F.expr(f"({CURR_BUCKETS} * (n_chars - mn)) div (mx - mn)")
                ).cast("int"),
            )
        )
        .cast("int")
        .alias("bucket"),
    )

    def _number_partition(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = 0
        for pdf in it:
            n = len(pdf)
            yield pdf.assign(pid=pid, lrn=range(base + 1, base + n + 1))
            base += n

    return (
        b.repartitionByRange(8, "bucket", "doc_id")
        .sortWithinPartitions("bucket", "doc_id")
        .mapInPandas(
            _number_partition,
            schema="doc_id long, bucket int, pid int, lrn long",
        )
    )


@register(
    "d34_curriculum_order",
    oracle=f"""
    WITH s AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents),
    b AS (
      SELECT doc_id,
             CASE WHEN mx = mn THEN 1
                  ELSE LEAST({CURR_BUCKETS},
                             CAST(1 + ({CURR_BUCKETS} * (n_chars - mn))
                                      // (mx - mn) AS INTEGER)) END AS bucket
      FROM documents, s
    ), w AS (
      SELECT doc_id, bucket,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS wave
      FROM b
    )
    SELECT doc_id, CAST(bucket AS INTEGER) AS bucket, wave,
           (wave - 1) * {CURR_BUCKETS} + bucket AS sched_pos
    FROM w ORDER BY sched_pos
    """,
)
def d34_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved curriculum schedule: docs fall into CURR_BUCKETS
    difficulty tiers (integer width-bucket over n_chars — exact integer
    arithmetic, no float quantiles), then the schedule cycles
    tier 1,2,..,B,1,2,.. so every training wave sees the full difficulty
    mix (the anti-forgetting interleave). sched_pos is a total order.

    The per-tier wave number is computed with the DISTRIBUTED two-pass
    row-number pattern, not a global window: repartitionByRange on
    (bucket, doc_id) gives non-overlapping sorted ranges; pass 1 counts
    rows per range (tiny agg), a cumulative offset per range is broadcast
    back, and pass 2 numbers rows with a MAP-ONLY mapInPandas counter
    that streams the sorted partition (carrying the running count across
    Arrow batches) — not a Window.partitionBy(pid), which would re-hash
    the freshly-range-partitioned data into a second exchange. Correct
    for ANY range boundaries (offsets come from actual counts), so the
    range sampler can't perturb results. The two consumers of the
    numbered relation (offset aggregate, offset join) are guaranteed to
    see the SAME boundaries: the range exchange is reused across them
    (ReuseExchange/AQE stage reuse), and independently the boundary
    sampler is seeded by partition index over a deterministic input, so
    even a re-execution reproduces identical ranges.

    Scale shape (100 TB): a global-window row_number would drag the whole
    table through ONE task; this plan's only global structures are the
    range exchange (Spark's scalable sort machinery) plus two KB-sized
    broadcast joins (range offsets, tier offsets). This is how you
    materialize a reproducible training order for a trillion-token corpus."""
    # pass 1+2: distributed row number in (bucket, doc_id) order (see
    # _curriculum_numbered — the numbering is MAP-ONLY on the range
    # exchange). One LAZY localCheckpoint (shared-RDD lineage cut, same
    # pattern as the d29 graph unrolls): the numbered relation is consumed
    # twice (offset aggregate + offset join) and `ranked` twice more (tier
    # aggregate + final join) — uncut, the initial plan re-derived the
    # min/max agg, range exchange and mapInPandas numbering per consumer
    # (42 Exchange / 8 python nodes,
    # plans/r12/d34_curriculum_order_before.txt; paired probe 1.78 s ->
    # 0.96 s). The cut also makes the same-range-boundaries guarantee
    # structural: every consumer reads ONE computed RDD, not a re-executed
    # exchange. eager=False keeps materialization inside the first action.
    local = _curriculum_numbered(spark, sf_dir).transform(lineage_cut)
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off"))
    )
    ranked = local.join(F.broadcast(offsets), "pid").select(
        "doc_id", "bucket", (F.col("off") + F.col("lrn")).alias("grank")
    )
    # tier offsets: rows in earlier buckets; wave = grank - tier_offset
    w_tier = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    tier_off = (
        ranked.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bucket",
            F.coalesce(F.sum("cnt").over(w_tier), F.lit(0)).alias("toff"),
        )
    )
    return (
        ranked.join(F.broadcast(tier_off), "bucket")
        .select(
            "doc_id",
            "bucket",
            (F.col("grank") - F.col("toff")).alias("wave"),
            (
                (F.col("grank") - F.col("toff") - 1) * CURR_BUCKETS
                + F.col("bucket")
            ).alias("sched_pos"),
        )
        .orderBy("sched_pos")
    )


# --------------------------------------------------------------------------
# D35p — zone-map file skipping: per-file min/max stats decide which files
# a range predicate must read (round 6, wave 6)
# --------------------------------------------------------------------------
FILE_SKIP_N_FILES = 8
FILE_SKIP_LO, FILE_SKIP_HI = "1998-01-01", "1998-07-01"  # [lo, hi)


def stage_orders_rangefiles(sf_dir: str) -> str:
    """Stage orders as FILE_SKIP_N_FILES parquet files range-clustered on
    o_orderdate (chunk_00..chunk_07, deterministic equal-row slices of the
    date-sorted table) — the layout d35_compact_files/d35_zorder_key
    produce, rebuilt here with pyarrow so ORACLE resolution never depends
    on a SparkSession. Fixture-only staging (a 3-column projection,
    bounded), never a data path — at 100 TB the engine harvests stats from
    files already written by the table format.
    """
    import pyarrow.parquet as _pq

    def build(tmp: str) -> None:
        t = (
            _pq.read_table(
                os.path.join(sf_dir, "orders.parquet"),
                columns=["o_orderkey", "o_orderdate", "o_totalprice"],
            )
            .to_pandas()
            .sort_values(["o_orderdate", "o_orderkey"], kind="mergesort")
            .reset_index(drop=True)
        )
        n = len(t)
        per = -(-n // FILE_SKIP_N_FILES)
        for i in range(FILE_SKIP_N_FILES):
            chunk = t.iloc[i * per : (i + 1) * per]
            chunk.to_parquet(
                os.path.join(tmp, f"chunk_{i:02d}.parquet"), index=False
            )

    return staged("fileskip", build, sf_dir)


def _file_skip_oracle() -> str:
    d = stage_orders_rangefiles(oracle_sf_dir())
    return f"""
    WITH f AS (
      SELECT regexp_extract(filename, '[^/]+$') AS file,
             o_orderdate
      FROM read_parquet('{d}/*.parquet', filename=true)
    )
    SELECT file,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_day,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_day,
           (MIN(o_orderdate) < TIMESTAMP '{FILE_SKIP_HI}'
            AND MAX(o_orderdate) >= TIMESTAMP '{FILE_SKIP_LO}') AS reads,
           CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{FILE_SKIP_LO}'
                          AND o_orderdate < TIMESTAMP '{FILE_SKIP_HI}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_match
    FROM f GROUP BY file ORDER BY file
    """


@register("d35_minmax_file_skip", oracle=_file_skip_oracle)
def d35_minmax_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping audit: harvest per-file min/max stats from a
    range-clustered table via the `_metadata.file_path` hidden column and
    decide which files a date-range predicate must READ (interval-overlap
    test against [lo, hi)). The contract carries its own soundness proof:
    `n_match` counts the rows each file actually contributes, so any file
    marked reads=false MUST show n_match=0 — a hash mismatch otherwise.
    This is the planner-side half of the layout family: d35_partition_stats
    harvests the manifest, d35_zorder_key/d35_compact_files produce
    skippable layouts, this query certifies the skip DECISION itself.

    Scale shape (100 TB): per-file stats are a partial+final aggregate
    keyed by file path — #files result rows; the overlap decision is O(1)
    per file. In production the stats come from the table-format manifest
    (no data scan at all); harvesting them from the data here is what
    makes the decision hash-checkable against an independent engine."""
    d = stage_orders_rangefiles(sf_dir)
    lo = F.lit(FILE_SKIP_LO).cast("timestamp")
    hi = F.lit(FILE_SKIP_HI).cast("timestamp")
    df = spark.read.parquet(d).select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
            "file"
        ),
        "o_orderdate",
    )
    return (
        df.groupBy("file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_day"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_day"),
            (
                (F.min("o_orderdate") < hi) & (F.max("o_orderdate") >= lo)
            ).alias("reads"),
            F.sum(
                F.when(
                    (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi),
                    1,
                ).otherwise(0)
            ).alias("n_match"),
        )
        .orderBy("file")
    )


# --------------------------------------------------------------------------
# D34j — chat-template rendering (round 6, wave 6): turn event streams
# into rendered SFT training samples with special-token markup
# --------------------------------------------------------------------------
CHAT_MAX_TURNS = 6
CHAT_SYSTEM = "<|system|>You are a helpful assistant.<|end|>"


@register(
    "d34_chat_template",
    oracle=f"""
    WITH t AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('view', 'click') THEN 'user'
                  ELSE 'assistant' END AS role,
             event_type || ':' ||
               CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS VARCHAR)
               AS content
      FROM events
    ), p AS (
      SELECT user_id,
             list(role || '\x1f' || content
                  ORDER BY ts, event_id)[1:{CHAT_MAX_TURNS}] AS turns
      FROM t GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(turns) AS INT) AS n_turns,
           '{CHAT_SYSTEM}' || array_to_string(
             list_transform(turns,
               x -> '<|' || string_split(x, '\x1f')[1] || '|>'
                    || string_split(x, '\x1f')[2] || '<|end|>'), '')
             AS rendered,
           CAST(len(regexp_extract_all(
             '{CHAT_SYSTEM}' || array_to_string(
               list_transform(turns,
                 x -> '<|' || string_split(x, '\x1f')[1] || '|>'
                      || string_split(x, '\x1f')[2] || '<|end|>'), ''),
             '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_tokens
    FROM p ORDER BY user_id
    """,
)
def d34_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template rendering: each user's first CHAT_MAX_TURNS events in
    total (ts, event_id) order become conversation turns (role from the
    event type, content from type + integer-cents value so no float ever
    renders to text), wrapped in <|role|>...<|end|> special-token markup
    behind a fixed system prompt, with the rendered sample's BPE-ish token
    count (shared TOKEN_PATTERN) — the exact materialization step an SFT /
    RLHF data pipeline runs to turn interaction logs into training rows,
    where a one-token template drift silently poisons a fine-tune. The
    hash check certifies byte-identical rendering against an independent
    engine.

    Scale shape (100 TB): one shuffle on user_id with partial aggregation
    (same collect-sort-slice-in-codegen shape as d27_top_paths — the sort
    runs on each user's grouped rows, never a global window); template
    concatenation and token counting are map-side string expressions on
    the ~#users result. Text renders once; nothing but (user, turns)
    shuffles."""
    e = catalog(spark, sf_dir).events
    role = F.when(
        F.col("event_type").isin("view", "click"), F.lit("user")
    ).otherwise(F.lit("assistant"))
    content = F.concat_ws(
        ":",
        F.col("event_type"),
        F.round(F.col("value") * 100, 0).cast("long").cast("string"),
    )
    turns = (
        e.select(
            "user_id",
            F.struct("ts", "event_id", role.alias("role"), content.alias("content")).alias(
                "t"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list("t")), 1, CHAT_MAX_TURNS
            ).alias("turns")
        )
    )
    rendered = F.concat(
        F.lit(CHAT_SYSTEM),
        F.array_join(
            F.transform(
                "turns",
                lambda x: F.concat(
                    F.lit("<|"),
                    x["role"],
                    F.lit("|>"),
                    x["content"],
                    F.lit("<|end|>"),
                ),
            ),
            "",
        ),
    )
    return (
        turns.select(
            "user_id",
            F.size("turns").cast("int").alias("n_turns"),
            rendered.alias("rendered"),
            F.size(
                F.regexp_extract_all(rendered, F.lit(TOKEN_PATTERN), 0)
            )
            .cast("long")
            .alias("n_tokens"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# D35q — clustering-depth metric (round 6, wave 6): how many files overlap
# any given key point, before vs after range clustering
# --------------------------------------------------------------------------
def stage_orders_fragfiles(sf_dir: str) -> str:
    """Stage the SAME orders projection as stage_orders_rangefiles but in
    deterministic PSEUDO-RANDOM order (Knuth multiplicative hash of the
    key) sliced into the same number of files — the layout a parallel
    unordered ingest leaves behind, where every file spans nearly the full
    key range. Fixture-only staging."""
    import pyarrow.parquet as _pq

    def build(tmp: str) -> None:
        t = _pq.read_table(
            os.path.join(sf_dir, "orders.parquet"),
            columns=["o_orderkey", "o_orderdate", "o_totalprice"],
        ).to_pandas()
        t["_h"] = (t["o_orderkey"] * 2654435761) % (1 << 32)
        t = (
            t.sort_values(["_h", "o_orderkey"], kind="mergesort")
            .drop(columns="_h")
            .reset_index(drop=True)
        )
        n = len(t)
        per = -(-n // FILE_SKIP_N_FILES)
        for i in range(FILE_SKIP_N_FILES):
            t.iloc[i * per : (i + 1) * per].to_parquet(
                os.path.join(tmp, f"chunk_{i:02d}.parquet"), index=False
            )

    return staged("fragfiles", build, sf_dir)


def _clustering_depth_oracle() -> str:
    clustered = stage_orders_rangefiles(oracle_sf_dir())
    frag = stage_orders_fragfiles(oracle_sf_dir())
    return f"""
    WITH stats AS (
      SELECT 'clustered' AS layout, regexp_extract(filename, '[^/]+$') AS file,
             MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi
      FROM read_parquet('{clustered}/*.parquet', filename=true)
      GROUP BY 2
      UNION ALL
      SELECT 'fragmented', regexp_extract(filename, '[^/]+$'),
             MIN(o_orderdate), MAX(o_orderdate)
      FROM read_parquet('{frag}/*.parquet', filename=true)
      GROUP BY 2
    ), depth AS (
      SELECT a.layout, a.file, COUNT(*) AS d
      FROM stats a JOIN stats b
        ON a.layout = b.layout AND b.lo <= a.lo AND a.lo <= b.hi
      GROUP BY a.layout, a.file
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(MAX(d) AS BIGINT) AS max_depth,
           ROUND(AVG(d), 4) AS avg_depth
    FROM depth GROUP BY layout ORDER BY layout
    """


@register("d35_clustering_depth", oracle=_clustering_depth_oracle)
def d35_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth metric (the table-format health number behind
    "do I need to re-cluster?"): for each file, how many files in the same
    layout overlap its min-key point; report max and mean per layout. The
    fragmented ingest layout shows depth ≈ n_files (every file spans the
    whole key range — a point lookup reads everything) while the
    range-clustered layout sits at the floor (1, or 2 where adjacent
    files share a boundary key) — the before/after argument for
    d35_zorder_key / d35_compact_files, quantified. Depth is evaluated at
    file min-points: the standard sweep discretization, since depth can
    only change at an interval endpoint.

    Scale shape (100 TB): per-file min/max is a partial+final aggregate
    keyed by file path (#files rows — in production read straight from
    the table-format manifest, no data scan); the overlap join and depth
    count run on that #files-row relation, broadcast both sides. Data is
    scanned once per layout, metadata does the rest."""
    clustered = stage_orders_rangefiles(sf_dir)
    frag = stage_orders_fragfiles(sf_dir)

    def stats(path: str, layout: str) -> DataFrame:
        return (
            spark.read.parquet(path)
            .select(
                F.lit(layout).alias("layout"),
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("file"),
                "o_orderdate",
            )
            .groupBy("layout", "file")
            .agg(
                F.min("o_orderdate").alias("lo"),
                F.max("o_orderdate").alias("hi"),
            )
        )

    # lazy lineage cut on the #files-row min/max relation: both self-join
    # sides consume it — uncut, each side re-scanned both staged layouts
    s = (
        stats(clustered, "clustered")
        .unionByName(stats(frag, "fragmented"))
        .transform(lineage_cut)
    )
    a = s.select("layout", "file", F.col("lo").alias("a_lo"))
    b = s.select(
        F.col("layout").alias("b_layout"),
        F.col("lo").alias("b_lo"),
        F.col("hi").alias("b_hi"),
    )
    depth = (
        a.join(
            F.broadcast(b),
            (F.col("layout") == F.col("b_layout"))
            & (F.col("b_lo") <= F.col("a_lo"))
            & (F.col("a_lo") <= F.col("b_hi")),
        )
        .groupBy("layout", "file")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        depth.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.max("d").alias("max_depth"),
            F.round(F.avg("d"), 4).alias("avg_depth"),
        )
        .orderBy("layout")
    )


# --------------------------------------------------------------------------
# D34k — distributed BPE tokenizer training (round 6, wave 6): the
# map-reduce form of Sennrich et al.'s subword-merge learning — the
# tokenizer-training step of an LLM data pipeline, run on the engine
# --------------------------------------------------------------------------
BPE_ITERS = 5
BPE_SEP = "\x1f"


def bpe_word_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, cnt, syms) over the corpus's lowercase alphabetic tokens:
    syms = the word's characters plus the '</w>' end-of-word marker —
    the standard BPE working representation. One text scan, one shuffle
    to distinct words (the vocabulary is orders of magnitude smaller
    than the corpus, which is what makes distributed BPE cheap)."""
    d = catalog(spark, sf_dir).documents
    words = (
        d.select(
            F.explode(
                F.regexp_extract_all("text", F.lit("[a-z]+"), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return words.select(
        "word",
        "cnt",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit("</w>"))
        ).alias("syms"),
    )


def _merge_pair(syms, a: str, b: str):
    """Greedy leftmost non-overlapping merge of adjacent (a, b) into the
    fused symbol a+b, as a pure codegen fold (F.aggregate with a
    (emitted, pending) accumulator) — no UDF, no per-row Python."""
    merged = F.lit(a + b)
    empty = F.array().cast("array<string>")
    pend_t = "string"

    def step(acc, s):
        return (
            F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), s.alias("pend")),
            )
            .when(
                (acc["pend"] == a) & (s == b),
                F.struct(
                    F.concat(acc["out"], F.array(merged)).alias("out"),
                    F.lit(None).cast(pend_t).alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    s.alias("pend"),
                )
            )
        )

    def finish(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(
        syms,
        F.struct(
            empty.alias("out"), F.lit(None).cast(pend_t).alias("pend")
        ),
        step,
        finish,
    )


@register("d34_bpe_train", oracle=None)  # iterative argmax chain: not
# SQL-expressible as one query — pytest pins EXACT equality of the merge
# sequence against a single-node reference BPE (tests/test_text_ml.py)
def d34_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training on the engine: BPE_ITERS rounds of
    [count adjacent symbol pairs weighted by word frequency -> merge the
    most frequent pair corpus-wide], the map-reduce formulation of
    Sennrich et al. (2016) subword learning. Deterministic tie-break
    (count desc, then lexicographic pair) makes the merge sequence — and
    therefore the learned tokenizer — bit-reproducible, the property
    d34_repro_fingerprint demands of every pipeline artifact.

    Scale shape (100 TB): the corpus collapses ONCE to the (word, cnt,
    syms) vocabulary table (distinct words — millions, not billions —
    this is why BPE trains fast even on huge corpora); each round then
    shuffles only (pair, partial-count) with map-side combine, reads ONE
    argmax row back to the driver (the per-iteration scalar readout an
    iterative algorithm requires — same declared exception as
    d29_pagerank_2iter), and rewrites syms MAP-SIDE via a codegen fold
    (no UDF). The vocab table is persisted per round and the previous
    round unpersisted, so lineage never re-tokenizes text."""
    from pyspark import StorageLevel

    words = bpe_word_table(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK_DESER
    )
    merges = []
    for step_no in range(1, BPE_ITERS + 1):
        n = F.size("syms")
        pairs = (
            words.select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, n - 1),
                        F.slice("syms", 2, n - 1),
                        lambda x, y: F.concat_ws(BPE_SEP, x, y),
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pc"))
        )
        top = pairs.orderBy(F.desc("pc"), F.asc("pair")).first()
        a, b = top["pair"].split(BPE_SEP)
        merges.append((step_no, a, b, int(top["pc"])))
        nxt = words.select(
            "word", "cnt", _merge_pair(F.col("syms"), a, b).alias("syms")
        ).persist(StorageLevel.MEMORY_AND_DISK_DESER)
        nxt.count()  # materialize before unpersisting the parent
        words.unpersist()
        words = nxt
    n_symbols = (
        words.select(F.explode("syms").alias("s")).distinct().count()
    )
    words.unpersist()
    out = spark.createDataFrame(
        [(s, a, b, c, n_symbols) for (s, a, b, c) in merges],
        "step INT, left STRING, right STRING, pair_count BIGINT, "
        "final_symbols BIGINT",
    )
    return out.orderBy("step")


# --------------------------------------------------------------------------
# D34 extension — BPE tokenizer APPLICATION (encode side of d34_bpe_train)
# --------------------------------------------------------------------------
# A fixed merge table in rank order (what a trained tokenizer ships as).
# Encoding applies each merge exhaustively in rank order; that single pass
# per merge is EXACTLY the classic priority-queue BPE encode because a
# replacement <x><y> -> <xy> can never create a new <x><y> adjacency
# (xy is a strictly longer symbol than either x or y) and can never make
# two earlier-rank symbols newly adjacent (a merge substitutes two adjacent
# symbols with one, it never deletes a separator). Left-to-right
# non-overlapping replace therefore equals greedy leftmost BPE — which is
# what both Spark ``replace`` and DuckDB ``replace`` implement, making the
# encoder oracle-able bit-for-bit. Precondition: the table is WELL-FORMED
# (each merge's operands are single chars or outputs of earlier merges —
# the only tables training can produce, since a pair can't be counted
# before both symbols exist); tests/test_properties.py hypothesis-checks
# the equivalence over well-formed tables and documents the malformed
# counterexample.
BPE_ENCODE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("e", "r"),
    ("an", "d"),
    ("o", "n"),
    ("r", "e"),
    ("in", "g"),
    ("o", "u"),
    ("e", "n"),
    ("a", "t"),
)


def _bpe_encode_oracle() -> str:
    enc = r"regexp_replace(joined, '([a-z])', '<\1>', 'g')"
    for a, b in BPE_ENCODE_MERGES:
        enc = f"replace({enc}, '<{a}><{b}>', '<{a}{b}>')"
    return f"""
    WITH w AS (
      SELECT doc_id,
             array_to_string(regexp_extract_all(lower(text), '[a-z]+'), '|')
               AS joined,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
               AS n_words
      FROM documents
    ), e AS (
      SELECT doc_id, n_words,
             CAST(length(joined) - greatest(n_words - 1, 0) AS BIGINT)
               AS alpha_chars,
             {enc} AS enc
      FROM w
    )
    SELECT doc_id, n_words, alpha_chars,
           CAST(length(enc) - length(replace(enc, '<', '')) AS BIGINT)
             AS n_tokens,
           ROUND(CASE WHEN length(enc) > length(replace(enc, '<', ''))
                      THEN alpha_chars::DOUBLE
                           / (length(enc) - length(replace(enc, '<', '')))
                 END, 4) AS compression
    FROM e
    ORDER BY doc_id
    """


@register("d34_bpe_encode", oracle=_bpe_encode_oracle())
def d34_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale: encode every document with a
    shipped BPE merge table (the artifact d34_bpe_train produces) and report
    per-doc token counts + chars-per-token compression — the metric that
    decides how many training tokens a corpus is actually worth.

    Words are lowercased alpha runs joined by '|' (a symbol that never
    merges, so merges cannot cross word boundaries — BPE's word-internal
    contract); each char becomes a bracketed symbol ``<c>``; each merge in
    rank order is ONE string replace. The whole encoder is a chain of
    ``F.replace`` calls — pure codegen'd JVM expressions, zero Python, zero
    shuffle: a map-only plan that scales linearly to 100 TB (token counting
    for a trillion-token corpus is exactly this shape in production). The
    merge table is a compile-time constant here; at scale it would be a
    driver-broadcast list folded into the same expression chain."""
    d = catalog(spark, sf_dir).documents
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
    base = d.select(
        "doc_id",
        F.array_join(words, "|").alias("joined"),
        F.size(words).cast("long").alias("n_words"),
    )
    enc = F.regexp_replace(F.col("joined"), "([a-z])", "<$1>")
    for a, b in BPE_ENCODE_MERGES:
        enc = F.replace(enc, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    e = base.select(
        "doc_id",
        "n_words",
        (
            F.length("joined")
            - F.greatest(F.col("n_words") - 1, F.lit(0))
        ).cast("long").alias("alpha_chars"),
        enc.alias("enc"),
    )
    n_tokens = F.length("enc") - F.length(F.replace(F.col("enc"), F.lit("<")))
    return e.select(
        "doc_id",
        "n_words",
        "alpha_chars",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(
            F.when(
                n_tokens > 0,
                F.col("alpha_chars").cast("double") / n_tokens,
            ),
            4,
        ).alias("compression"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D34 extension — model-based quality filtering (fastText-style linear
# classifier INFERENCE as pure column math)
# --------------------------------------------------------------------------
# Shipped weights of a tiny linear quality model over cheap surface
# features. The activation is the "hard sigmoid" 0.5 + z / (2*(1+|z|)) —
# pure +,*,/,abs so the score is bit-identical on any IEEE-754 engine
# (exp()-based logistic would differ by 1 ulp across libm implementations
# and flip 4-dp rounding at representation edges).
QUALITY_W = {
    "bias": -1.2,
    "alpha_ratio": 2.4,
    "digit_ratio": -3.0,
    "mean_wlen": 0.35,
    "len_score": 1.1,
}


@register(
    "d34_quality_classifier",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             length(text) AS n,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
               AS n_words
      FROM documents
    ), z AS (
      SELECT doc_id,
             ({QUALITY_W['bias']}
              + {QUALITY_W['alpha_ratio']} * (alpha / greatest(n, 1))
              + {QUALITY_W['digit_ratio']} * (digits / greatest(n, 1))
              + {QUALITY_W['mean_wlen']} * (alpha / greatest(n_words, 1))
              + {QUALITY_W['len_score']} * (least(n, 2000) / 2000.0)) AS z
      FROM f
    )
    SELECT doc_id,
           ROUND(0.5 + z / (2 * (1 + abs(z))), 4) AS quality_score,
           z >= 0 AS keep
    FROM z
    ORDER BY doc_id
    """,
)
def d34_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, the fastText-classifier stage of a
    CCNet/DCLM-style pretraining pipeline, expressed as INFERENCE-as-
    expression: the linear model's weights fold into one codegen'd
    projection, so scoring a 100 TB corpus is a map-only scan — no UDF, no
    shuffle, no model server. The hard-sigmoid activation keeps the score a
    pure rational function of the features (bit-reproducible everywhere);
    the keep decision is the sign of the logit, which is exact. Feature
    terms are summed in a fixed written order so Spark and the oracle
    associate identically."""
    d = catalog(spark, sf_dir).documents
    n = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    digits = F.length(F.regexp_replace("text", "[^0-9]", ""))
    n_words = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
    ).cast("long")
    z = (
        F.lit(QUALITY_W["bias"])
        + F.lit(QUALITY_W["alpha_ratio"]) * (alpha / F.greatest(n, F.lit(1)))
        + F.lit(QUALITY_W["digit_ratio"]) * (digits / F.greatest(n, F.lit(1)))
        + F.lit(QUALITY_W["mean_wlen"])
        * (alpha / F.greatest(n_words, F.lit(1)))
        + F.lit(QUALITY_W["len_score"])
        * (F.least(n, F.lit(2000)) / F.lit(2000.0))
    )
    scored = d.select("doc_id", z.alias("z"))
    return scored.select(
        "doc_id",
        F.round(
            F.lit(0.5) + F.col("z") / (F.lit(2) * (F.lit(1) + F.abs("z"))), 4
        ).alias("quality_score"),
        (F.col("z") >= 0).alias("keep"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D34 extension — preference-pair construction (DPO/RLHF dataset assembly)
# --------------------------------------------------------------------------
@register(
    "d34_pref_pairs",
    # zero-padded composite keys make (score desc, doc_id asc) and
    # (score asc, doc_id asc) single-string orderings both engines agree on
    # (DuckDB arg_max rejects STRUCT keys)
    oracle="""
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           arg_max(doc_id, lpad(CAST(n_chars AS VARCHAR), 10, '0')
                           || lpad(CAST(9999999999 - doc_id AS VARCHAR), 10, '0'))
             AS chosen_doc,
           arg_min(doc_id, lpad(CAST(n_chars AS VARCHAR), 10, '0')
                           || lpad(CAST(doc_id AS VARCHAR), 10, '0'))
             AS rejected_doc,
           CAST(MAX(n_chars) AS BIGINT) AS chosen_chars,
           CAST(MIN(n_chars) AS BIGINT) AS rejected_chars,
           CAST(MAX(n_chars) - MIN(n_chars) AS BIGINT) AS margin
    FROM documents
    GROUP BY source, lang
    HAVING COUNT(*) >= 2
       AND arg_max(doc_id, lpad(CAST(n_chars AS VARCHAR), 10, '0')
                           || lpad(CAST(9999999999 - doc_id AS VARCHAR), 10, '0'))
        <> arg_min(doc_id, lpad(CAST(n_chars AS VARCHAR), 10, '0')
                           || lpad(CAST(doc_id AS VARCHAR), 10, '0'))
    ORDER BY source, lang
    """,
)
def d34_pref_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly for DPO/RLHF training: within each prompt
    group (here the (source, lang) cohort stands in for a prompt id), emit
    the highest-scored candidate as `chosen` and the lowest as `rejected`,
    with a deterministic tie-break (lowest doc_id) so the pair set is a
    pure function of the corpus. Groups where chosen == rejected (all
    candidates tied, one winner) produce no pair — a margin-0 pair teaches
    a preference model nothing.

    Scale shape: ONE hash aggregation keyed by the group id — max_by/min_by
    carry only (key, doc_id) through the map-side combine, so 100 TB of
    candidate text reduces to a few bytes per group in the shuffle; no
    window, no self-join, no full-row exchange."""
    d = catalog(spark, sf_dir).documents
    kmax = F.concat(
        F.lpad(F.col("n_chars").cast("string"), 10, "0"),
        F.lpad((F.lit(9999999999) - F.col("doc_id")).cast("string"), 10, "0"),
    )
    kmin = F.concat(
        F.lpad(F.col("n_chars").cast("string"), 10, "0"),
        F.lpad(F.col("doc_id").cast("string"), 10, "0"),
    )
    g = (
        d.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.max_by("doc_id", kmax).alias("chosen_doc"),
            F.min_by("doc_id", kmin).alias("rejected_doc"),
            F.max("n_chars").cast("long").alias("chosen_chars"),
            F.min("n_chars").cast("long").alias("rejected_chars"),
        )
        .where(
            (F.col("n_docs") >= 2)
            & (F.col("chosen_doc") != F.col("rejected_doc"))
        )
    )
    return g.select(
        "source",
        "lang",
        "n_docs",
        "chosen_doc",
        "rejected_doc",
        "chosen_chars",
        "rejected_chars",
        (F.col("chosen_chars") - F.col("rejected_chars")).alias("margin"),
    ).orderBy("source", "lang")


# --------------------------------------------------------------------------
# D34 extension — T5-style span corruption (denoising-objective dataprep)
# --------------------------------------------------------------------------
# mask positions p with p % 7 in {3, 4}: a 2-token span every 7 tokens,
# span id s = p div 7. The corrupted sequence replaces each span with one
# sentinel <Xs>; the target sequence lists each sentinel followed by the
# tokens it hid — the (inputs, targets) pair of Raffel et al. (2020).
@register(
    "d34_span_corruption",
    # Spark transform/filter lambdas index 0-based, DuckDB 1-based — the
    # oracle uses (i - 1) throughout
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
      FROM documents
    ), built AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks, (x, i) -> (i - 1) % 7 IN (3, 4)))
                  AS BIGINT) AS n_masked,
             array_to_string(list_filter(list_transform(toks, (x, i) ->
               CASE WHEN (i - 1) % 7 = 3
                      THEN '<X' || CAST((i - 1) // 7 AS VARCHAR) || '>'
                    WHEN (i - 1) % 7 = 4 THEN ''
                    ELSE x END), x -> x <> ''), ' ') AS corrupted,
             array_to_string(list_filter(list_transform(toks, (x, i) ->
               CASE WHEN (i - 1) % 7 = 3
                      THEN '<X' || CAST((i - 1) // 7 AS VARCHAR) || '> ' || x
                    WHEN (i - 1) % 7 = 4 THEN x
                    ELSE '' END), x -> x <> ''), ' ') AS targets
      FROM t
    )
    SELECT doc_id, n_tokens, n_masked,
           md5(corrupted) AS corrupted_md5,
           md5(targets) AS targets_md5
    FROM built ORDER BY doc_id
    """,
)
def d34_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: every document becomes a denoising
    (inputs, targets) pair — deterministic 2-token spans every 7 tokens
    replaced by per-span sentinels in the input, re-emitted after their
    sentinel in the target. Both rendered strings are md5-certified, so a
    corruptor that mis-numbers sentinels, drops the wrong token, or
    reorders targets breaks the hash (position-indexed masking instead of
    seeded randomness is what makes the pair content-addressed and
    therefore certifiable — and reproducible across reruns, the
    d34_repro_fingerprint requirement).

    Scale shape: pure higher-order array expressions (transform with
    index, filter, array_join, md5) — one codegen'd map-only projection,
    no UDF, no shuffle; the 100 TB form is this exact plan."""
    d = catalog(spark, sf_dir).documents
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)

    def corrupt(x, i):
        s = (i / 7).cast("long")
        return (
            F.when(i % 7 == 3, F.concat(F.lit("<X"), s.cast("string"), F.lit(">")))
            .when(i % 7 == 4, F.lit(""))
            .otherwise(x)
        )

    def target(x, i):
        s = (i / 7).cast("long")
        return (
            F.when(
                i % 7 == 3,
                F.concat(F.lit("<X"), s.cast("string"), F.lit("> "), x),
            )
            .when(i % 7 == 4, x)
            .otherwise(F.lit(""))
        )

    built = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(
            F.filter(toks, lambda x, i: (i % 7 == 3) | (i % 7 == 4))
        ).cast("long").alias("n_masked"),
        F.array_join(
            F.filter(F.transform(toks, corrupt), lambda x: x != ""), " "
        ).alias("corrupted"),
        F.array_join(
            F.filter(F.transform(toks, target), lambda x: x != ""), " "
        ).alias("targets"),
    )
    return built.select(
        "doc_id",
        "n_tokens",
        "n_masked",
        F.md5("corrupted").alias("corrupted_md5"),
        F.md5("targets").alias("targets_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D34n — SFT loss-mask spans (round 7): which characters of the rendered
# chat sample the loss actually trains on
# --------------------------------------------------------------------------
@register(
    "d34_loss_mask",
    oracle=f"""
    WITH t AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('view', 'click') THEN 'user'
                  ELSE 'assistant' END AS role,
             event_type || ':' ||
               CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS VARCHAR)
               AS content
      FROM events
    ), p AS (
      SELECT user_id,
             list(role || '\x1f' || content
                  ORDER BY ts, event_id)[1:{CHAT_MAX_TURNS}] AS turns
      FROM t GROUP BY user_id
    ), r AS (
      SELECT user_id, turns,
             '{CHAT_SYSTEM}' || array_to_string(
               list_transform(turns,
                 x -> '<|' || string_split(x, '\x1f')[1] || '|>'
                      || string_split(x, '\x1f')[2] || '<|end|>'), '')
               AS rendered
      FROM p
    ), u AS (
      SELECT user_id, rendered,
             unnest(turns) AS turn,
             generate_subscripts(turns, 1) AS idx
      FROM r
    ), x AS (
      SELECT user_id, rendered, idx,
             string_split(turn, '\x1f')[1] AS role,
             string_split(turn, '\x1f')[2] AS content
      FROM u
    ), o AS (
      SELECT user_id, rendered, idx, role, content,
             {len(CHAT_SYSTEM)}
               + COALESCE(SUM(len(role) + len(content) + 11) OVER (
                   PARTITION BY user_id ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + len(role) + 4 AS span_start
      FROM x
    )
    SELECT user_id,
           CAST(idx AS INT) AS turn_idx,
           CAST(span_start AS BIGINT) AS span_start,
           CAST(len(content) AS BIGINT) AS span_len,
           substr(rendered, CAST(span_start + 1 AS BIGINT), CAST(len(content) AS BIGINT)) AS masked
    FROM o WHERE role = 'assistant'
    ORDER BY user_id, turn_idx
    """,
)
def d34_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask spans over the d34_chat_template rendering: the
    character ranges covering ASSISTANT content — the only tokens the
    fine-tune loss trains on (user/system text is context, training on
    it teaches the model to hallucinate the user). Spans are computed as
    running offsets over the turn list, and the `masked` column is cut
    FROM THE RENDERED STRING with those offsets — so the hash check
    proves the offsets index the actual rendering, not a parallel
    reconstruction; an off-by-one would surface as mangled substrings.

    Scale shape (100 TB): the same single user_id shuffle as
    d34_chat_template builds (turns, rendered); posexplode + one
    SUM-over-rows window per user computes offsets on the turn-count-
    sized exploded frame (<= CHAT_MAX_TURNS rows per user). Rendering
    happens once; masks are arithmetic, not re-rendering."""
    e = catalog(spark, sf_dir).events
    role = F.when(
        F.col("event_type").isin("view", "click"), F.lit("user")
    ).otherwise(F.lit("assistant"))
    content = F.concat_ws(
        ":",
        F.col("event_type"),
        F.round(F.col("value") * 100, 0).cast("long").cast("string"),
    )
    turns = (
        e.select(
            "user_id",
            F.struct(
                "ts", "event_id", role.alias("role"), content.alias("content")
            ).alias("t"),
        )
        .groupBy("user_id")
        .agg(
            F.slice(F.array_sort(F.collect_list("t")), 1, CHAT_MAX_TURNS).alias(
                "turns"
            )
        )
    )
    rendered = F.concat(
        F.lit(CHAT_SYSTEM),
        F.array_join(
            F.transform(
                "turns",
                lambda x: F.concat(
                    F.lit("<|"), x["role"], F.lit("|>"), x["content"], F.lit("<|end|>")
                ),
            ),
            "",
        ),
    )
    ex = turns.select(
        "user_id", rendered.alias("rendered"), F.posexplode("turns").alias("pos", "t")
    )
    piece_len = (
        F.length(F.col("t.role")) + F.length(F.col("t.content")) + F.lit(11)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    span_start = (
        F.lit(len(CHAT_SYSTEM))
        + F.coalesce(F.sum(piece_len).over(w), F.lit(0))
        + F.length(F.col("t.role"))
        + F.lit(4)
    )
    spans = ex.select(
        "user_id",
        "rendered",
        (F.col("pos") + 1).cast("int").alias("turn_idx"),
        span_start.cast("long").alias("span_start"),
        F.length(F.col("t.content")).cast("long").alias("span_len"),
        F.col("t.role").alias("role"),
    )
    return (
        spans.where(F.col("role") == "assistant")
        .select(
            "user_id",
            "turn_idx",
            "span_start",
            "span_len",
            F.expr(
                "substring(rendered, cast(span_start as int) + 1,"
                " cast(span_len as int))"
            ).alias("masked"),
        )
        .orderBy("user_id", "turn_idx")
    )


# --------------------------------------------------------------------------
# D35s — Z-order interleave layout (round 7): multi-dimensional clustering
# for file skipping, the lakehouse OPTIMIZE ZORDER BY primitive
# --------------------------------------------------------------------------
ZORDER_BITS = 16
ZORDER_FILES = 16
ZORDER_BUCKETS = 8


def _zorder_sql_expr(a: str, b: str) -> str:
    """SQL for the 2-D Morton code: interleave the low ZORDER_BITS bits of
    a (even positions) and b (odd positions). Pure integer shifts/masks —
    identical semantics in Spark and DuckDB, so the oracle certifies the
    curve itself."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "d35_zorder_interleave",
    oracle=f"""
    WITH src AS (
      SELECT o_orderkey,
             o_custkey % {1 << ZORDER_BITS} AS a,
             o_orderkey % {1 << ZORDER_BITS} AS b
      FROM orders
    ), keyed AS (
      SELECT *, {_zorder_sql_expr('a', 'b')} AS zval FROM src
    ), laid AS (
      SELECT 'linear' AS layout, a, b,
             NTILE({ZORDER_FILES}) OVER (ORDER BY a, o_orderkey) AS file_id
      FROM keyed
      UNION ALL
      SELECT 'zorder' AS layout, a, b,
             NTILE({ZORDER_FILES}) OVER (ORDER BY zval, o_orderkey) AS file_id
      FROM keyed
    )
    SELECT layout, CAST(file_id AS INT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(a) AS BIGINT) AS a_min, CAST(MAX(a) AS BIGINT) AS a_max,
           CAST(MIN(b) AS BIGINT) AS b_min, CAST(MAX(b) AS BIGINT) AS b_max,
           ROUND((MAX(a) - MIN(a) + 1) / {float(1 << ZORDER_BITS)}, 4) AS cov_a,
           ROUND((MAX(b) - MIN(b) + 1) / {float(1 << ZORDER_BITS)}, 4) AS cov_b
    FROM laid GROUP BY layout, file_id
    ORDER BY layout, file_id
    """,
)
def d35_zorder_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering vs linear sort, measured by the
    zone-map coverage each layout gives its files: rows are assigned to
    ZORDER_FILES equal-count files either by a single sort key (linear)
    or by the bit-interleaved 2-D Morton code, and each file reports its
    (min, max) zone per dimension plus the fraction of each domain it
    covers. Linear layout covers ~1/F of dimension a but ~ALL of b (b
    lookups skip nothing); Z-order covers ~sqrt(1/F) of BOTH — the whole
    point of OPTIMIZE ZORDER BY, here certified numerically. Companion
    to d35_minmax_file_skip (which consumes such zone maps) and
    d35_clustering_depth (which scores overlap).

    Scale shape (100 TB): the Morton code is codegen'd shift/mask
    arithmetic on the scan; file assignment is a DETERMINISTIC two-pass
    exact-rank scheme with NO persisted intermediate. Both sort keys are
    near-uniform over a KNOWN domain (a = o_custkey mod 2^16; zval = the
    Morton interleave over 2^32), so the sort space pre-splits into
    ZORDER_BUCKETS FIXED-WIDTH, key-monotone buckets — unlike
    repartitionByRange there is no boundary SAMPLING, so pass 2 can
    recompute the bucket of every row bit-identically and nothing needs
    to stay cached between the jobs (r9 ADVICE: the CacheManager stays
    empty by construction). Pass 1 is a pure hash-count per (layout,
    bucket) — a stack(2) over one scan, readout bounded by 2 x
    ZORDER_BUCKETS rows — whose running sums become exact global rank
    offsets. Pass 2 hash-exchanges each arm on its bucket id, sorts
    within partitions (bucket id is monotone in the sort key, so buckets
    are contiguous runs), and an Arrow-batched numbering kernel assigns
    rank = offset[bucket] + local position, folds the closed-form
    NTILE(F) (first N%F files take ceil(N/F) rows — bit-identical to the
    oracle's NTILE), and PRE-AGGREGATES zone stats per (layout, file)
    inside the partition — at most F+1 rows leave each task, so the
    final agg exchanges file-count-bounded METADATA, never data. No
    single-reducer sort, window, broadcast join, or SinglePartition
    exchange anywhere (pinned); the builder returns the LAZY plan."""
    return _zorder_zone_map(spark, sf_dir)


def _zorder_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds d35_zorder_interleave's zone-map aggregate: an eager
    KB-sized bucket-count job (exact rank offsets), then the LAZY
    number+assign+aggregate plan — split out so the plan pins
    (tests/test_plans.py, tools/explain_audit.py) can inspect the
    distributed plan the registered query executes."""
    import numpy as np
    import pandas as pd

    o = catalog(spark, sf_dir).orders
    m = 1 << ZORDER_BITS
    keyed = o.select(
        "o_orderkey",
        (F.col("o_custkey") % m).alias("a"),
        (F.col("o_orderkey") % m).alias("b"),
    ).withColumn("zval", F.expr(_zorder_sql_expr("a", "b")))
    # fixed-width, key-monotone bucket ids: deterministic across jobs
    wa = m // ZORDER_BUCKETS
    wz = (1 << (2 * ZORDER_BITS)) // ZORDER_BUCKETS
    keyed = keyed.withColumn("lb", F.expr(f"a div {wa}")).withColumn(
        "zb", F.expr(f"zval div {wz}")
    )

    # pass 1: per-(layout, bucket) counts — one scan, one hash agg, at
    # most 2 x ZORDER_BUCKETS rows collected
    cnt_rows = (
        keyed.selectExpr("stack(2, 'linear', lb, 'zorder', zb) AS (layout, bkt)")
        .groupBy("layout", "bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    offs: dict[str, dict[int, int]] = {"linear": {}, "zorder": {}}
    cnts: dict[str, dict[int, int]] = {"linear": {}, "zorder": {}}
    n_tot = {}
    for layout in ("linear", "zorder"):
        run = 0
        for r in sorted(
            (r for r in cnt_rows if r["layout"] == layout),
            key=lambda r: r["bkt"],
        ):
            offs[layout][int(r["bkt"])] = run
            cnts[layout][int(r["bkt"])] = int(r["cnt"])
            run += r["cnt"]
        n_tot[layout] = run
    if n_tot["linear"] != n_tot["zorder"]:
        raise RuntimeError(
            f"zorder row-conservation violated: {n_tot} — both arms must "
            "carry every order exactly once"
        )
    # closed-form NTILE(F) of rank r over n_tot rows: the first n_tot%F
    # files take q+1 rows (q = n_tot div F), the rest q — identical
    # constants for both layouts since each carries every order once
    q, rem = divmod(n_tot["linear"], ZORDER_FILES)
    hi = rem * (q + 1)

    def _arm(sort_cols: list, bucket_col: str, name: str) -> DataFrame:
        arm_offs = offs[name]
        arm_cnts = cnts[name]

        def _number_and_zone(it):
            # bucket runs are contiguous under the partition sort (bucket
            # id is monotone in the sort key) and batches arrive in sort
            # order, so a per-bucket running base gives the exact local
            # position; global rank = offset[bucket] + local position
            base: dict[int, int] = {}
            acc: dict[int, list] = {}
            for pdf in it:
                if len(pdf) == 0:
                    continue
                ranks = np.empty(len(pdf), dtype=np.int64)
                bvals = pdf[bucket_col].to_numpy()
                pos = 0
                while pos < len(bvals):
                    bk = int(bvals[pos])
                    end = pos
                    while end < len(bvals) and bvals[end] == bk:
                        end += 1
                    if bk not in arm_offs:
                        raise RuntimeError(
                            f"zorder pass-2 saw bucket {bk} ({name}) that "
                            "pass-1 never counted — source changed between "
                            "the counting and numbering jobs"
                        )
                    start_rank = arm_offs[bk] + base.get(bk, 0) + 1
                    ranks[pos:end] = np.arange(
                        start_rank, start_rank + (end - pos), dtype=np.int64
                    )
                    base[bk] = base.get(bk, 0) + (end - pos)
                    pos = end
                files = np.where(
                    ranks <= hi,
                    (ranks - 1) // (q + 1) + 1,
                    rem + (ranks - hi - 1) // max(q, 1) + 1,
                )
                av = pdf["a"].to_numpy()
                bv = pdf["b"].to_numpy()
                for fid in np.unique(files):
                    msk = files == fid
                    st = acc.get(int(fid))
                    cur = (
                        int(msk.sum()),
                        int(av[msk].min()),
                        int(av[msk].max()),
                        int(bv[msk].min()),
                        int(bv[msk].max()),
                    )
                    if st is None:
                        acc[int(fid)] = list(cur)
                    else:
                        st[0] += cur[0]
                        st[1] = min(st[1], cur[1])
                        st[2] = max(st[2], cur[2])
                        st[3] = min(st[3], cur[3])
                        st[4] = max(st[4], cur[4])
            # ADVICE r11: the rank offsets come from an eager pass-1 job
            # but this plan re-scans the source lazily — correctness rests
            # on the parquet inputs being byte-identical across both jobs.
            # Each bucket hash-routes to exactly one partition, so this
            # task must see EXACTLY the pass-1 count for every bucket it
            # owns; a regenerated input would otherwise silently misassign
            # global ranks without tripping the row-conservation check.
            bad = {
                bk: (n, arm_cnts.get(bk))
                for bk, n in base.items()
                if n != arm_cnts.get(bk)
            }
            if bad:
                raise RuntimeError(
                    f"zorder pass-2 bucket counts diverge from pass-1 "
                    f"({name}): {dict(list(bad.items())[:5])} — source "
                    "changed between the counting and numbering jobs"
                )
            if acc:
                yield pd.DataFrame(
                    [
                        (name, fid, c, amin, amax, bmin, bmax)
                        for fid, (c, amin, amax, bmin, bmax) in acc.items()
                    ],
                    columns=[
                        "layout", "file_id", "cnt",
                        "amin", "amax", "bmin", "bmax",
                    ],
                )

        cols = list(dict.fromkeys([bucket_col, *sort_cols, "a", "b"]))
        return (
            keyed.select(*cols)
            .repartition(ZORDER_BUCKETS, bucket_col)
            .sortWithinPartitions(*sort_cols)
            .mapInPandas(
                _number_and_zone,
                schema="layout string, file_id long, cnt long, "
                "amin long, amax long, bmin long, bmax long",
            )
        )

    partials = _arm(["a", "o_orderkey"], "lb", "linear").unionAll(
        _arm(["zval", "o_orderkey"], "zb", "zorder")
    )
    return (
        partials.groupBy("layout", F.col("file_id").cast("int").alias("file_id"))
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.min("amin").cast("long").alias("a_min"),
            F.max("amax").cast("long").alias("a_max"),
            F.min("bmin").cast("long").alias("b_min"),
            F.max("bmax").cast("long").alias("b_max"),
            F.round(
                (F.max("amax") - F.min("amin") + 1) / F.lit(float(m)), 4
            ).alias("cov_a"),
            F.round(
                (F.max("bmax") - F.min("bmin") + 1) / F.lit(float(m)), 4
            ).alias("cov_b"),
        )
        .orderBy("layout", "file_id")
    )


# --------------------------------------------------------------------------
# D33 companion (round 7) — calibration / reliability audit of a scored
# classifier, with expected calibration error (ECE)
# --------------------------------------------------------------------------
@register(
    "d33_calibration_ece",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, lang,
             length(text) AS n,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
               AS n_words
      FROM documents
    ), z AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             ({QUALITY_W['bias']}
              + {QUALITY_W['alpha_ratio']} * (alpha / greatest(n, 1))
              + {QUALITY_W['digit_ratio']} * (digits / greatest(n, 1))
              + {QUALITY_W['mean_wlen']} * (alpha / greatest(n_words, 1))
              + {QUALITY_W['len_score']} * (least(n, 2000) / 2000.0)) AS zv
      FROM f
    ), st AS (
      SELECT AVG(zv) AS mu, STDDEV_SAMP(zv) AS sd FROM z
    ), s AS (
      SELECT doc_id, y,
             0.5 + ((zv - st.mu) / st.sd)
                   / (2 * (1 + abs((zv - st.mu) / st.sd))) AS p
      FROM z, st
    ), b AS (
      SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin, p, y FROM s
    ), g AS (
      SELECT bin, COUNT(*) AS n_docs, AVG(p) AS conf, AVG(y) AS acc
      FROM b GROUP BY bin
    )
    SELECT CAST(bin AS VARCHAR) AS bucket,
           CAST(n_docs AS BIGINT) AS n_docs,
           ROUND(conf, 4) AS confidence,
           ROUND(acc, 4) AS accuracy,
           ROUND(abs(acc - conf), 4) AS gap
    FROM g
    UNION ALL
    SELECT 'ECE', CAST(SUM(n_docs) AS BIGINT), NULL, NULL,
           ROUND(SUM(n_docs * abs(acc - conf))
                 / CAST(SUM(n_docs) AS DOUBLE), 4)
    FROM g
    ORDER BY bucket
    """,
)
def d33_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error for the
    d34_quality_classifier scorer against a language label: equal-width
    probability bins with per-bin confidence (mean score) vs accuracy
    (observed positive rate), and the count-weighted |acc - conf| sum as
    the ECE row — the audit that decides whether a model's scores can be
    thresholded as probabilities or must be recalibrated (Platt /
    isotonic) before use in a data-filtering pipeline. Scores are
    z-standardized before the hard-sigmoid link (raw z values cluster,
    collapsing the diagram into one bin); the link keeps the score
    rational (no libm on the hash).

    Scale shape (100 TB): scoring is map-side expression arithmetic on
    the scan; binning is ONE partial+final agg to <= 10 rows; the ECE row
    aggregates that 10-row frame. Nothing shuffles but (bin, partials) —
    calibration of a petabyte corpus costs one pass."""
    d = catalog(spark, sf_dir).documents
    n = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    digits = F.length(F.regexp_replace("text", "[^0-9]", ""))
    n_words = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
    ).cast("long")
    zv = (
        F.lit(QUALITY_W["bias"])
        + F.lit(QUALITY_W["alpha_ratio"]) * (alpha / F.greatest(n, F.lit(1)))
        + F.lit(QUALITY_W["digit_ratio"]) * (digits / F.greatest(n, F.lit(1)))
        + F.lit(QUALITY_W["mean_wlen"])
        * (alpha / F.greatest(n_words, F.lit(1)))
        + F.lit(QUALITY_W["len_score"]) * (F.least(n, F.lit(2000)) / 2000.0)
    )
    zdf = d.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        zv.alias("zv"),
    # lazy lineage cut on the (y, zv) pair — 16 bytes/doc: the moment agg,
    # the sigmoid pass and both union branches all re-consumed this
    # relation, so the regex-heavy scoring scan ran 4x. One pass now.
    ).transform(lineage_cut)
    st = zdf.agg(
        F.avg("zv").alias("mu"), F.stddev_samp("zv").alias("sd")
    )
    zs = (F.col("zv") - F.col("mu")) / F.col("sd")
    s = zdf.crossJoin(F.broadcast(st)).select(
        "y", (F.lit(0.5) + zs / (2 * (1 + F.abs(zs)))).alias("p")
    )
    g = (
        s.select(
            F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int").alias("bin"),
            "p",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("p").alias("conf"),
            F.avg("y").alias("acc"),
        )
        # <=10-row bucket table, consumed by both union branches
        .transform(lineage_cut)
    )
    per = g.select(
        F.col("bin").cast("string").alias("bucket"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("conf", 4).alias("confidence"),
        F.round("acc", 4).alias("accuracy"),
        F.round(F.abs(F.col("acc") - F.col("conf")), 4).alias("gap"),
    )
    ece = g.agg(
        F.lit("ECE").alias("bucket"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.lit(None).cast("double").alias("confidence"),
        F.lit(None).cast("double").alias("accuracy"),
        F.round(
            F.sum(F.col("n_docs") * F.abs(F.col("acc") - F.col("conf")))
            / F.sum("n_docs").cast("double"),
            4,
        ).alias("gap"),
    )
    return per.unionAll(ece).orderBy("bucket")


# --------------------------------------------------------------------------
# D34o — block-diagonal attention-mask spans for packed contexts (round 7):
# the mask spec that stops cross-document attention inside a pack
# --------------------------------------------------------------------------
@register(
    "d34_pack_attention_spans",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN {_bucket_sql('doc_id')} < 80 THEN 'train'
                  WHEN {_bucket_sql('doc_id')} < 90 THEN 'val'
                  ELSE 'test' END AS split,
             {_bucket_sql('doc_id', PACK_SHARDS)} AS shard,
             CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT)
               AS tokens
      FROM documents
    ), g AS (
      SELECT *, SUM(tokens) OVER (PARTITION BY split, shard
                                  ORDER BY doc_id) - tokens AS gstart
      FROM t WHERE tokens > 0
    ), seg AS (
      SELECT doc_id, split, shard, gstart, tokens,
             unnest(generate_series(CAST(gstart // {PACK_CTX} AS BIGINT),
                    CAST((gstart + tokens - 1) // {PACK_CTX} AS BIGINT)))
               AS pack_id
      FROM g
    )
    SELECT split, CAST(shard AS BIGINT) AS shard,
           CAST(pack_id AS BIGINT) AS pack_id, doc_id,
           CAST(greatest(gstart, pack_id * {PACK_CTX})
                - pack_id * {PACK_CTX} AS BIGINT) AS seg_start,
           CAST(least(gstart + tokens, (pack_id + 1) * {PACK_CTX})
                - greatest(gstart, pack_id * {PACK_CTX}) AS BIGINT) AS seg_len
    FROM seg
    ORDER BY split, shard, pack_id, seg_start, doc_id
    """,
)
def d34_pack_attention_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-diagonal attention-mask spans for the d34_sequence_pack
    layout: every (pack, document-segment) with its [seg_start,
    seg_start+seg_len) token range INSIDE the context window — exactly
    the spec an attention kernel needs to keep tokens from attending
    across document boundaries within a pack (skipping this silently
    degrades pretraining; it's the most common packing bug). A document
    split across window boundaries contributes one segment per window it
    touches (the sequence-explode), so concatenating a pack's segments
    tiles [0, PACK_CTX) exactly — a property the hash certifies since
    both engines derive segments independently.

    Scale shape (100 TB): the same single (split, shard) exchange as
    d34_sequence_pack for the running start; the window-span explode is
    map-side with fanout = ceil(doc_tokens / PACK_CTX) (bounded by doc
    length, not corpus size). No joins; output is ordered segments."""
    d = catalog(spark, sf_dir).documents
    base = d.select(
        "doc_id",
        F.when(hash_bucket(F.col("doc_id")) < 80, "train")
        .when(hash_bucket(F.col("doc_id")) < 90, "val")
        .otherwise("test")
        .alias("split"),
        hash_bucket(F.col("doc_id"), PACK_SHARDS).alias("shard"),
        F.regexp_count("text", F.lit(TOKEN_PATTERN)).cast("long").alias("tokens"),
    ).where(F.col("tokens") > 0)
    w = Window.partitionBy("split", "shard").orderBy("doc_id")
    g = base.withColumn("gstart", F.sum("tokens").over(w) - F.col("tokens"))
    seg = g.select(
        "doc_id",
        "split",
        "shard",
        "gstart",
        "tokens",
        F.explode(
            F.sequence(
                F.floor(F.col("gstart") / PACK_CTX).cast("long"),
                F.floor((F.col("gstart") + F.col("tokens") - 1) / PACK_CTX).cast(
                    "long"
                ),
            )
        ).alias("pack_id"),
    )
    seg_abs_start = F.greatest(F.col("gstart"), F.col("pack_id") * PACK_CTX)
    seg_abs_end = F.least(
        F.col("gstart") + F.col("tokens"), (F.col("pack_id") + 1) * PACK_CTX
    )
    return seg.select(
        "split",
        F.col("shard").cast("long").alias("shard"),
        F.col("pack_id").cast("long").alias("pack_id"),
        "doc_id",
        (seg_abs_start - F.col("pack_id") * PACK_CTX)
        .cast("long")
        .alias("seg_start"),
        (seg_abs_end - seg_abs_start).cast("long").alias("seg_len"),
    ).orderBy("split", "shard", "pack_id", "seg_start", "doc_id")


# --------------------------------------------------------------------------
# D35t — incremental statistics maintenance (round 7, final): table stats
# merged from per-partition stats must equal stats recomputed from scratch
# --------------------------------------------------------------------------
STATS_KMV_K = 64
_STATS_H60 = 1152921504606846976  # 2^60, max of a 15-hex-digit md5 prefix
_STATS_KEY_SQL = (
    "CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT)"
)


@register(
    "d35_stats_merge",
    oracle=f"""
    WITH src AS (
      SELECT o_orderkey % 2 AS half, o_totalprice,
             {_STATS_KEY_SQL} AS h
      FROM orders
    ), basic_half AS (
      SELECT half, COUNT(*) AS n,
             MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS sm
      FROM src GROUP BY half
    ), kmv_half AS (
      SELECT half, h FROM (
        SELECT half, h,
               ROW_NUMBER() OVER (PARTITION BY half ORDER BY h) AS rk
        FROM (SELECT DISTINCT half, h FROM src)
      ) WHERE rk <= {STATS_KMV_K}
    ), kmv_merged AS (
      SELECT h FROM (SELECT DISTINCT h FROM kmv_half)
      ORDER BY h LIMIT {STATS_KMV_K}
    ), kmv_full AS (
      SELECT h FROM (SELECT DISTINCT h FROM src)
      ORDER BY h LIMIT {STATS_KMV_K}
    ), arms AS (
      SELECT 'merged' AS source,
             (SELECT CAST(SUM(n) AS BIGINT) FROM basic_half) AS n_rows,
             (SELECT ROUND(MIN(mn), 4) FROM basic_half) AS min_price,
             (SELECT ROUND(MAX(mx), 4) FROM basic_half) AS max_price,
             (SELECT ROUND(CAST(SUM(sm) AS DOUBLE), 4) FROM basic_half)
               AS sum_price,
             (SELECT CAST(ROUND({STATS_KMV_K - 1}.0 * {_STATS_H60}
                                / MAX(h)) AS BIGINT) FROM kmv_merged)
               AS ndv_cust_est
      UNION ALL
      SELECT 'full',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM src),
             (SELECT ROUND(MIN(o_totalprice), 4) FROM src),
             (SELECT ROUND(MAX(o_totalprice), 4) FROM src),
             (SELECT ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                                AS DOUBLE), 4) FROM src),
             (SELECT CAST(ROUND({STATS_KMV_K - 1}.0 * {_STATS_H60}
                                / MAX(h)) AS BIGINT) FROM kmv_full)
    )
    SELECT * FROM arms ORDER BY source
    """,
)
def d35_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental statistics maintenance, certified: table-level stats
    assembled by MERGING per-partition stats (counts/sums added, min/max
    folded, KMV distinct sketches unioned-and-truncated) must equal the
    stats recomputed from scratch — the associativity contract that lets
    a lakehouse maintain NDV/min-max/rowcount per ingest batch instead of
    rescanning history. count/min/max/DECIMAL-sum merge exactly by
    algebra; NDV via the deterministic md5-KMV sketch merges exactly
    because the k smallest of a union equal the k smallest of the
    per-part k-smallest sets. Both arms land in one result, so the hash
    certifies merged == full column-for-column (modulo the source label).

    Scale shape (100 TB): per-partition stats are one partial+final agg
    each (the KMV arm a distinct + per-part top-k, never a global sort of
    hashes — LIMIT k plans as TakeOrdered); the merge itself touches only
    sketch-sized state (64 longs + 4 scalars per partition). This is the
    exact shape of partition-stats maintenance in d35_partition_stats,
    here with the merge path proven against the recompute path."""
    o = catalog(spark, sf_dir).orders
    key = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    src = o.select(
        (F.col("o_orderkey") % 2).alias("half"),
        "o_totalprice",
        key.alias("h"),
    # NOTE (r12, measured): a lazy localCheckpoint here (src feeds the
    # per-half stats, both KMV arms and the full arm) probed SLOWER
    # (0.78 s -> 0.83 s min-of-5 noop at sf0.1) — the four consumers'
    # scans overlap on idle cores, the cut serializes them and spends a
    # materialization of the corpus-wide projection. Left uncut.
    )
    basic_half = src.groupBy("half").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("sm"),
    )
    est = lambda df: df.agg(  # noqa: E731 — tiny local shaping helper
        F.round(
            F.lit(float(STATS_KMV_K - 1)) * _STATS_H60 / F.max("h")
        )
        .cast("long")
        .alias("ndv")
    )
    dist = src.select("half", "h").distinct()
    wk = Window.partitionBy("half").orderBy("h")
    kmv_half = (
        dist.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= STATS_KMV_K)
        .select("half", "h")
    )
    kmv_merged = kmv_half.select("h").distinct().orderBy("h").limit(STATS_KMV_K)
    kmv_full = src.select("h").distinct().orderBy("h").limit(STATS_KMV_K)
    merged = (
        basic_half.agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.round(F.min("mn"), 4).alias("min_price"),
            F.round(F.max("mx"), 4).alias("max_price"),
            F.round(F.sum("sm").cast("double"), 4).alias("sum_price"),
        )
        .crossJoin(est(kmv_merged).select(F.col("ndv").alias("ndv_cust_est")))
        .select(
            F.lit("merged").alias("source"),
            "n_rows",
            "min_price",
            "max_price",
            "sum_price",
            "ndv_cust_est",
        )
    )
    full = (
        src.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.min("o_totalprice"), 4).alias("min_price"),
            F.round(F.max("o_totalprice"), 4).alias("max_price"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast(
                    "double"
                ),
                4,
            ).alias("sum_price"),
        )
        .crossJoin(est(kmv_full).select(F.col("ndv").alias("ndv_cust_est")))
        .select(
            F.lit("full").alias("source"),
            "n_rows",
            "min_price",
            "max_price",
            "sum_price",
            "ndv_cust_est",
        )
    )
    return merged.unionAll(full).orderBy("source")


# --------------------------------------------------------------------------
# D35 extension (round 9) — compaction planning: the OPTIMIZE bin-packing
# decision as a query over file statistics
# --------------------------------------------------------------------------
COMPACT_TARGET_ROWS = 2500  # target output-file size (row proxy for bytes)


@register(
    "d35_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT o_orderpriority AS part,
             strftime(o_orderdate, '%Y-%m') AS mon,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1, 2
    ), packed AS (
      SELECT part, mon, n_rows,
             CAST(FLOOR(COALESCE(SUM(n_rows) OVER (
                 PARTITION BY part ORDER BY n_rows DESC, mon
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) * 1.0 / {COMPACT_TARGET_ROWS}) AS INT) AS grp
      FROM files
    )
    SELECT part, grp,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           CAST(MAX(n_rows) AS BIGINT) AS largest_file
    FROM packed GROUP BY part, grp
    ORDER BY part, grp
    """,
)
def d35_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction (OPTIMIZE) planning as a pure metadata query: given
    per-file statistics — here one synthetic "file" per (partition,
    ingest month) with its row count standing in for bytes — assign files
    to compaction groups by the standard greedy rule: walk files largest-
    first within each partition and cut a new output group every time the
    running total passes the target size. The plan (which files merge into
    which output file) is exactly what a lakehouse OPTIMIZE job computes
    before it touches any data.

    Scale shape (100 TB): the input is the FILE LIST, not the data —
    bounded by file count (millions of rows, KB each), never table bytes.
    One partition-key exchange for the stats rollup, one window over each
    partition's files (per-partition sorted, no global sort), and the
    final grouping is map-side combinable. At 100 TB the same plan runs
    on the table format's manifest instead of a scan."""
    o = catalog(spark, sf_dir).orders
    files = o.groupBy(
        F.col("o_orderpriority").alias("part"),
        F.date_format("o_orderdate", "yyyy-MM").alias("mon"),
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    w = (
        Window.partitionBy("part")
        .orderBy(F.desc("n_rows"), "mon")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = files.withColumn(
        "grp",
        F.floor(
            F.coalesce(F.sum("n_rows").over(w), F.lit(0))
            / float(COMPACT_TARGET_ROWS)
        ).cast("int"),
    )
    return (
        packed.groupBy("part", "grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.max("n_rows").cast("long").alias("largest_file"),
        )
        .orderBy("part", "grp")
    )


# --------------------------------------------------------------------------
# D34 extension (round 9) — fill-in-the-middle (FIM) restructuring of
# training documents, PSM rendering certified by md5
# --------------------------------------------------------------------------
@register(
    "d34_fim_transform",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n,
             CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) AS h2
      FROM documents WHERE length(text) >= 3
    ), cuts AS (
      SELECT doc_id, text, n,
             1 + h1 % (n - 2) AS cut1,
             2 + h1 % (n - 2) + h2 % (n - 2 - h1 % (n - 2)) AS cut2
      FROM d
    )
    SELECT doc_id,
           CAST(cut1 AS INT) AS len_prefix,
           CAST(cut2 - cut1 AS INT) AS len_middle,
           CAST(n - cut2 AS INT) AS len_suffix,
           md5('<fim_prefix>' || substr(text, 1, CAST(cut1 AS BIGINT))
               || '<fim_suffix>'
               || substr(text, CAST(cut2 + 1 AS BIGINT),
                         CAST(n - cut2 AS BIGINT))
               || '<fim_middle>'
               || substr(text, CAST(cut1 + 1 AS BIGINT),
                         CAST(cut2 - cut1 AS BIGINT))) AS psm_md5
    FROM cuts ORDER BY doc_id
    """,
)
def d34_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) restructuring: each document is split at
    two content-derived points into (prefix, middle, suffix) and re-
    rendered in PSM order — <fim_prefix>P<fim_suffix>S<fim_middle>M — the
    transformation code-model pipelines apply to a fraction of training
    docs so the model learns infilling. Split points come from two md5
    prefixes of the text itself (position-indexed determinism, the
    d34_span_corruption convention — no seeded RNG to disagree across
    engines), and the rendered string is certified by md5 rather than
    shipping megabytes of text through the compare.

    Scale shape (100 TB): pure map-side string arithmetic on the scan —
    no shuffle, no Python, whole-stage codegen end to end; the only
    exchange in the plan is the presentation sort."""
    d = (
        catalog(spark, sf_dir)
        .documents.where(F.length("text") >= 3)
        .select(
            "doc_id",
            "text",
            F.length("text").alias("n"),
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
            .cast("long")
            .alias("h1"),
            F.conv(F.substring(F.md5("text"), 9, 8), 16, 10)
            .cast("long")
            .alias("h2"),
        )
    )
    cuts = d.select(
        "doc_id",
        "text",
        "n",
        (F.lit(1) + F.col("h1") % (F.col("n") - 2)).alias("cut1"),
        (
            F.lit(2)
            + F.col("h1") % (F.col("n") - 2)
            + F.col("h2") % (F.col("n") - 2 - F.col("h1") % (F.col("n") - 2))
        ).alias("cut2"),
    )
    seg = lambda pos, ln: F.expr(  # noqa: E731
        f"substring(text, CAST({pos} AS INT), CAST({ln} AS INT))"
    )
    return cuts.select(
        "doc_id",
        F.col("cut1").cast("int").alias("len_prefix"),
        (F.col("cut2") - F.col("cut1")).cast("int").alias("len_middle"),
        (F.col("n") - F.col("cut2")).cast("int").alias("len_suffix"),
        F.md5(
            F.concat(
                F.lit("<fim_prefix>"),
                seg("1", "cut1"),
                F.lit("<fim_suffix>"),
                seg("cut2 + 1", "n - cut2"),
                F.lit("<fim_middle>"),
                seg("cut1 + 1", "cut2 - cut1"),
            )
        ).alias("psm_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D34 extension (round 9) — tokenizer fertility by language: the
# tokenizer-equity readout over the d34_bpe_encode merge table
# --------------------------------------------------------------------------
def _fertility_oracle() -> str:
    enc = _bpe_encode_oracle()
    return f"""
    WITH enc AS ({enc.strip().rstrip()}),
    j AS (
      SELECT d.lang, e.n_words, e.alpha_chars, e.n_tokens
      FROM enc e JOIN documents d USING (doc_id)
      WHERE e.n_words > 0
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_tokens) * 1.0 / SUM(n_words), 4) AS fertility,
           ROUND(SUM(alpha_chars) * 1.0 / SUM(n_tokens), 4)
             AS chars_per_token
    FROM j GROUP BY lang ORDER BY lang
    """


@register("d34_tokenizer_fertility", oracle=_fertility_oracle())
def d34_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: tokens-per-word (and its inverse,
    chars-per-token) under the shipped BPE merge table, aggregated per
    corpus language. Merge tables trained on English-heavy data tokenize
    other languages into more, shorter pieces — higher fertility means a
    language pays more context window and more compute per word, the
    standard tokenizer-equity audit run before fixing a vocab. Applies
    d34_bpe_encode's encoder (the codegen'd replace chain — see there)
    with lang carried in the SAME projection.

    Scale shape (100 TB): one pass, zero joins — lang rides the same
    row as the encode counts, so the plan is scan → map-side string
    arithmetic → one partial+final agg over |langs| groups (a self-join
    back to documents for lang would broadcast billions of (doc_id,
    lang) rows at scale; pinned join-free in tests/test_plans.py).
    Token-count ratios are bigint sums — no float-order sensitivity."""
    d = catalog(spark, sf_dir).documents
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
    base = d.select(
        "lang",
        F.array_join(words, "|").alias("joined"),
        F.size(words).cast("long").alias("n_words"),
    )
    enc_col = F.regexp_replace(F.col("joined"), "([a-z])", "<$1>")
    for a, b in BPE_ENCODE_MERGES:
        enc_col = F.replace(enc_col, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    e = base.select(
        "lang",
        "n_words",
        (F.length("joined") - F.greatest(F.col("n_words") - 1, F.lit(0)))
        .cast("long")
        .alias("alpha_chars"),
        (
            F.length(enc_col)
            - F.length(F.replace(enc_col, F.lit("<")))
        )
        .cast("long")
        .alias("n_tokens"),
    ).where(F.col("n_words") > 0)
    return (
        e.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(
                F.sum("n_tokens") / F.sum("n_words").cast("double"), 4
            ).alias("fertility"),
            F.round(
                F.sum("alpha_chars") / F.sum("n_tokens").cast("double"), 4
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# D34 extension (round 10) — sequence-length histogram in power-of-two
# buckets (the max_seq_len / packing-efficiency sizing readout)
# --------------------------------------------------------------------------
@register(
    "d34_seq_len_histogram",
    oracle=f"""
    WITH t AS (
      SELECT CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}'))
                  AS BIGINT) AS n
      FROM documents
    ), b AS (
      SELECT CAST(POW(2, CEIL(LOG2(GREATEST(n, 1)))) AS BIGINT) AS bucket,
             n
      FROM t
    ), g AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS sum_tokens
      FROM b GROUP BY 1
    )
    SELECT bucket, n_docs, sum_tokens,
           ROUND(SUM(n_docs) OVER (ORDER BY bucket) * 1.0
                 / SUM(n_docs) OVER (), 4) AS cum_doc_share,
           ROUND(SUM(sum_tokens) OVER (ORDER BY bucket) * 1.0
                 / SUM(sum_tokens) OVER (), 4) AS cum_token_share
    FROM g ORDER BY bucket
    """,
)
def d34_seq_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram in power-of-two buckets with cumulative doc
    and TOKEN shares — the sizing readout behind the max_seq_len choice:
    `cum_token_share` at bucket 2^k is exactly the fraction of training
    tokens that survive truncation-free at that context length, and the
    doc/token share gap quantifies how much the long tail dominates the
    token budget (d34_token_budget prices a FIXED length; this surfaces
    the whole curve so the fix can be chosen). Bucket = 2^ceil(log2(n)):
    exact powers land on their own bucket, log2/pow on small ints are
    exact in IEEE double in both engines.

    Scale shape (100 TB): tokenize+bucket is map-side codegen (one
    regexp_count per doc, no UDF); ONE map-combinable exchange carries
    ≤ ~40 bucket rows; the cumulative windows run on that bucket relation
    (single tiny partition by construction — |buckets| rows regardless of
    corpus size, so the unpartitioned window is NOT a scale hazard)."""
    d = catalog(spark, sf_dir).documents
    n = F.regexp_count("text", F.lit(TOKEN_PATTERN)).cast("long")
    bucket = F.pow(
        F.lit(2.0), F.ceil(F.log2(F.greatest(n, F.lit(1))))
    ).cast("long")
    g = d.select(bucket.alias("bucket"), n.alias("n")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("sum_tokens"),
    )
    w_cum = (
        Window.partitionBy()
        .orderBy("bucket")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    return g.select(
        "bucket",
        "n_docs",
        "sum_tokens",
        F.round(
            F.sum("n_docs").over(w_cum) * F.lit(1.0)
            / F.sum("n_docs").over(w_all),
            4,
        ).alias("cum_doc_share"),
        F.round(
            F.sum("sum_tokens").over(w_cum) * F.lit(1.0)
            / F.sum("sum_tokens").over(w_all),
            4,
        ).alias("cum_token_share"),
    ).orderBy("bucket")


# --------------------------------------------------------------------------
# D34 extension (round 10) — dedup-aware soft sampling weights (down-weight
# instead of drop: the SlimPajama/FineWeb-style soft-dedup admission)
# --------------------------------------------------------------------------
@register(
    "d34_soft_dedup_weights",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                          ' ') AS toks
      FROM documents
    ), b AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[(i * 12 + 1):(i * 12 + 12)], ' ') AS block
      FROM w, LATERAL unnest(generate_series(0,
             CAST(ceil(len(toks) / 12.0) - 1 AS BIGINT))) AS t(i)
      WHERE len(toks) - i * 12 >= 12
    ), m AS (
      SELECT doc_id, block,
             COUNT(*) OVER (PARTITION BY block) AS n_docs_with
      FROM b
    ), per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_blocks
      FROM m GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_blocks, 0) AS n_blocks,
           COALESCE(p.n_dup_blocks, 0) AS n_dup_blocks,
           ROUND(1.0 / (1.0 + COALESCE(p.n_dup_blocks, 0)), 4) AS weight,
           ({_bucket_sql('d.doc_id')}) * 1.0
             < 100.0 / (1.0 + COALESCE(p.n_dup_blocks, 0)) AS kept
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
    """,
)
def d34_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware SOFT sampling: instead of dropping near-duplicates, each
    document gets weight 1/(1+k) where k is its count of 12-word blocks
    shared with any other document — repeated boilerplate lowers a doc's
    admission probability smoothly, preserving unique long-tail content
    that hard dedup (d29_exact_dedup) would keep anyway and heavy
    duplicates would otherwise over-represent in the token budget. The
    kept flag realizes the weight as a DETERMINISTIC md5-bucket coin
    (d02_hash_sample's engine-portable bucket): keep iff
    bucket(doc_id) < 100·weight, so the admitted set is reproducible
    across engines, runs, and partitionings — E[kept] = weight without a
    seeded RNG.

    Scale shape (100 TB): block construction is map-side and the block
    string folds to xxhash64 BEFORE the first exchange (no readout
    exposes block text, so shuffles carry 8-byte keys; the DuckDB oracle
    keeps raw strings — identical counts); ONE exchange on the block key
    scores duplication (count-over-window on the distinct (doc, block)
    relation); per-doc rollup exchanges ids only; the final LEFT join
    re-admits blockless short docs at weight 1.0. Same exchange skeleton
    as d31_block_dedup — the weights pass is literally the dedup pass
    with the drop decision softened."""
    d = catalog(spark, sf_dir).documents
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), " "
    )
    nblocks = F.ceil(F.size(F.col("toks")) / F.lit(12.0)).cast("int")
    b = (
        d.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), nblocks - 1)).alias("i"),
        )
        .where(F.size("toks") - F.col("i") * 12 >= 12)
        .select(
            "doc_id",
            F.xxhash64(
                F.concat_ws(
                    " ", F.slice(F.col("toks"), F.col("i") * 12 + 1, 12)
                )
            ).alias("block"),
        )
        .distinct()
    )
    m = b.select(
        "doc_id",
        F.count(F.lit(1)).over(Window.partitionBy("block")).alias("n_docs_with"),
    )
    per_doc = m.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum((F.col("n_docs_with") >= 2).cast("int"))
        .cast("long")
        .alias("n_dup_blocks"),
    )
    k = F.coalesce(F.col("n_dup_blocks"), F.lit(0))
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_blocks"), F.lit(0)).alias("n_blocks"),
            k.alias("n_dup_blocks"),
            F.round(F.lit(1.0) / (F.lit(1.0) + k), 4).alias("weight"),
            (
                hash_bucket(F.col("doc_id")) * F.lit(1.0)
                < F.lit(100.0) / (F.lit(1.0) + k)
            ).alias("kept"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D34 (cont., round 12) — domain reweighting to a target token mixture
# (the DoReMi-style weight computation that precedes d02_temperature_mix's
# admission step: THIS op derives the weights from token shares; that op
# enforces doc-count rates via md5 buckets)
# --------------------------------------------------------------------------
@register(
    "d34_domain_reweight",
    # token counts are exact integers, so every share/weight below is a
    # deterministic IEEE ratio of exact values, mirrored expression-for-
    # expression; the tokens > 0 guard keeps ANSI division safe on a
    # degenerate all-empty domain (NULL in both engines).
    oracle=f"""
    WITH t AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_extract_all(text, '{TOKEN_PATTERN}')))
                  AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(tokens) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_src
      FROM t
    )
    SELECT source, n_docs, tokens,
           ROUND(CAST(tokens AS DOUBLE) / total, 6) AS current_share,
           ROUND(1.0 / n_src, 6) AS target_share,
           ROUND(CASE WHEN tokens > 0 THEN
                 (1.0 / n_src) / (CAST(tokens AS DOUBLE) / total)
                 END, 4) AS weight,
           CAST(ROUND(total * (1.0 / n_src), 0) AS BIGINT)
             AS target_tokens
    FROM t, tot ORDER BY source
    """,
)
def d34_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-source token share vs a uniform
    target mixture, and the sampling weight (target/current) that a data
    loader multiplies into each domain's selection probability to hit the
    target — the weight-derivation half of mixture control (DoReMi-style
    reference weights, here the uniform reference; d02_temperature_mix is
    the enforcement half, admitting docs at a derived rate). target_tokens
    is the per-domain token budget the weights imply, i.e. what each
    domain contributes after reweighting at constant total.

    Scale shape: one token-count map pass feeds ONE hash agg on the
    |sources|-sized key; the totals relation is one row cross-joined
    (broadcast) back onto the domain table. The corpus is read once and
    never shuffled — only (source, counts) rows move."""
    d = catalog(spark, sf_dir).documents
    t = (
        d.select(
            "source",
            F.regexp_count("text", F.lit(TOKEN_PATTERN))
            .cast("long")
            .alias("tok"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tok").cast("long").alias("tokens"),
        )
    )
    tot = t.agg(
        F.sum("tokens").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_src"),
    )
    cur = F.col("tokens").cast("double") / F.col("total")
    tgt = F.lit(1.0) / F.col("n_src")
    return (
        t.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "tokens",
            F.round(cur, 6).alias("current_share"),
            F.round(tgt, 6).alias("target_share"),
            F.round(
                F.when(F.col("tokens") > 0, tgt / cur).otherwise(F.lit(None)),
                4,
            ).alias("weight"),
            F.round(F.col("total") * tgt, 0)
            .cast("long")
            .alias("target_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# D34 (cont., round 12) — length-bucketed batching (padding-efficiency
# audit of the dynamic-batching step every trainer runs before collation)
# --------------------------------------------------------------------------
BATCH_BUCKETS = 8


@register(
    "d34_bucketed_batching",
    # bucket = ((rank-1) * B) div n + 1 over the unique total order
    # (tokens, doc_id) — the closed-form equal-count binning (NTILE
    # without its uneven-remainder rule), pure integer arithmetic in
    # both engines; all bucket stats are exact integers, the efficiency
    # ratio is one guarded IEEE division per bucket row.
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}'))
                  AS BIGINT) AS tokens
      FROM documents
    ), b AS (
      SELECT tokens,
             CAST(((ROW_NUMBER() OVER (ORDER BY tokens, doc_id) - 1)
                   * {BATCH_BUCKETS}) // (SELECT COUNT(*) FROM t) + 1
                  AS INTEGER) AS bucket
      FROM t
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(tokens) AS BIGINT) AS sum_tokens,
           CAST(MAX(tokens) * COUNT(*) - SUM(tokens) AS BIGINT)
             AS pad_waste,
           ROUND(CASE WHEN MAX(tokens) > 0 THEN
                 CAST(SUM(tokens) AS DOUBLE) / (MAX(tokens) * COUNT(*))
                 END, 4) AS efficiency
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def d34_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: split the corpus into
    {BATCH_BUCKETS} equal-count length buckets (the dynamic-batching
    binning a trainer applies so a batch pads to its OWN max length, not
    the corpus max) and report each bucket's padding waste — max*count -
    sum — and packing efficiency. The unbucketed baseline is bucket
    count 1 by construction (sum/max*n over everything); the spread of
    per-bucket efficiency is the payoff readout that decides bucket
    count. Complements d34_sequence_pack (greedy concat packing) and
    d34_seq_len_histogram (the raw distribution): this is the
    pad-don't-pack strategy's cost model.

    Scale shape: token counts are a map pass; the global length rank
    comes from the DISTRIBUTED two-pass row-number (the
    d34_curriculum_order / d09_gini machinery: range exchange on the
    sort key, map-only local numbering, partition-count-sized offset
    broadcast) — an NTILE window would funnel the corpus through ONE
    partition, the exact funnel this plan exists to avoid — then one
    hash agg on the {BATCH_BUCKETS}-sized bucket key."""
    d = catalog(spark, sf_dir).documents
    t = d.select(
        "doc_id",
        F.regexp_count("text", F.lit(TOKEN_PATTERN))
        .cast("long")
        .alias("tokens"),
    )

    def _number_partition(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = 0
        for pdf in it:
            n = len(pdf)
            yield pdf.assign(pid=pid, lrn=range(base + 1, base + n + 1))
            base += n

    local = (
        t.repartitionByRange(8, "tokens", "doc_id")
        .sortWithinPartitions("tokens", "doc_id")
        .mapInPandas(
            _number_partition, schema="doc_id long, tokens long, pid int, lrn long"
        )
        # NOTE (r12, measured): the d34_curriculum_order-style lazy
        # localCheckpoint here probed SLOWER (1.15 s -> 1.65 s min-of-5
        # noop at sf0.1) — only TWO consumers, which overlap on idle
        # cores, vs curriculum's four. Left uncut; do not retry.
    )
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
        )
    )
    total = t.agg(F.count(F.lit(1)).alias("n_total"))
    b = (
        local.join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(total))
        .select(
            "tokens",
            (
                F.expr(
                    f"((off + lrn - 1) * {BATCH_BUCKETS}) div n_total"
                ).cast("int")
                + F.lit(1)
            ).alias("bucket"),
        )
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("tokens").cast("long").alias("min_tokens"),
            F.max("tokens").cast("long").alias("max_tokens"),
            F.sum("tokens").cast("long").alias("sum_tokens"),
            (F.max("tokens") * F.count(F.lit(1)) - F.sum("tokens"))
            .cast("long")
            .alias("pad_waste"),
            F.round(
                F.when(
                    F.max("tokens") > 0,
                    F.sum("tokens").cast("double")
                    / (F.max("tokens") * F.count(F.lit(1))),
                ).otherwise(F.lit(None)),
                4,
            ).alias("efficiency"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# D35 (cont., round 12) — per-file Bloom-filter skipping index (the point-
# lookup complement of d35_minmax_file_skip's range pruning)
# --------------------------------------------------------------------------
BFS_FILE_ROWS = 4096  # orderkeys per modeled data file
BFS_M = 4096  # bits per per-file filter
BFS_K = 3  # md5-prefix hash functions (the d11_bloom_filter recipe)
BFS_PROBES = 20  # point-lookup custkeys 1..N


def _bfs_pos_sql(key: str) -> list[str]:
    return [
        f"CAST(('0x' || substr(md5({key}), {1 + 8 * i}, 8)) AS BIGINT)"
        f" % {BFS_M}"
        for i in range(BFS_K)
    ]


@register(
    "d35_bloom_file_skip",
    # a candidate file must contain ALL of the probe key's DISTINCT bit
    # positions (md5-prefix hashes, so the SAME filter materializes on
    # any engine); truth is the actual containment join. The Bloom
    # no-false-negative guarantee makes n_candidates >= n_true a hash-
    # certified invariant, and skip_ratio is exact integer arithmetic
    # over the file population.
    oracle=f"""
    WITH keys AS (
      SELECT DISTINCT o_orderkey // {BFS_FILE_ROWS} AS file_id, o_custkey
      FROM orders
    ), nf AS (
      SELECT CAST(COUNT(DISTINCT file_id) AS BIGINT) AS n_files FROM keys
    ), bits AS (
      SELECT DISTINCT file_id, pos FROM (
        {" UNION ALL ".join(
            f"SELECT file_id, {p} AS pos FROM (SELECT file_id, CAST(o_custkey AS VARCHAR) AS k FROM keys) t"
            for p in _bfs_pos_sql("k"))}
      )
    ), probes AS (
      SELECT UNNEST(range(1, {BFS_PROBES + 1})) AS custkey
    ), ppos AS (
      SELECT DISTINCT custkey, pos FROM (
        {" UNION ALL ".join(
            f"SELECT custkey, {p} AS pos FROM (SELECT custkey, CAST(custkey AS VARCHAR) AS k FROM probes) t"
            for p in _bfs_pos_sql("k"))}
      )
    ), pneed AS (
      SELECT custkey, CAST(COUNT(*) AS BIGINT) AS need FROM ppos GROUP BY custkey
    ), cand AS (
      SELECT p.custkey, b.file_id
      FROM ppos p JOIN bits b ON b.pos = p.pos
      GROUP BY p.custkey, b.file_id
      HAVING COUNT(*) = (SELECT need FROM pneed WHERE pneed.custkey = p.custkey)
    ), truth AS (
      SELECT pr.custkey, k.file_id
      FROM probes pr JOIN keys k ON k.o_custkey = pr.custkey
    )
    SELECT pr.custkey, nf.n_files,
           CAST(COUNT(DISTINCT c.file_id) AS BIGINT) AS n_candidates,
           CAST(COUNT(DISTINCT t.file_id) AS BIGINT) AS n_true,
           CAST(COUNT(DISTINCT c.file_id) - COUNT(DISTINCT t.file_id)
                AS BIGINT) AS false_positive_files,
           ROUND(1.0 - CAST(COUNT(DISTINCT c.file_id) AS DOUBLE)
                 / nf.n_files, 4) AS skip_ratio
    FROM probes pr CROSS JOIN nf
    LEFT JOIN cand c ON c.custkey = pr.custkey
    LEFT JOIN truth t ON t.custkey = pr.custkey
    GROUP BY pr.custkey, nf.n_files
    ORDER BY pr.custkey
    """,
)
def d35_bloom_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom skipping index: model data files as
    {FILE_ROWS}-orderkey buckets, build a {M}-bit/{K}-hash Bloom filter
    over each file's customer keys, then probe {PROBES} point-lookup
    custkeys and report per probe how many files the filter admits vs
    how many truly contain the key — the bloom-filter column index
    lakehouse formats attach to data files for point lookups where
    min/max zone maps (d35_minmax_file_skip) are useless because the
    column is unsorted and high-cardinality. False negatives are
    impossible by construction (hash-certified: n_candidates >= n_true);
    skip_ratio is the I/O the index saves.

    Scale shape (100 TB): the index build is one (file, custkey)
    DISTINCT + a bounded explode to <= {M} distinct positions per file —
    an aggregate the size of the INDEX, not the data, exactly how a real
    writer accumulates it at commit time. Probes join the tiny position
    relation (broadcast); the truth join is probe-key-selective. Nothing
    rescans the fact table per probe."""
    o = catalog(spark, sf_dir).orders
    keys = (
        o.select(
            F.expr(f"o_orderkey div {BFS_FILE_ROWS}").alias("file_id"),
            "o_custkey",
        )
        .distinct()
    )

    def positions(k):
        return [
            F.conv(F.substring(F.md5(k), 1 + 8 * i, 8), 16, 10).cast("long")
            % BFS_M
            for i in range(BFS_K)
        ]

    bits = (
        keys.select(
            "file_id",
            F.explode(
                F.array(*positions(F.col("o_custkey").cast("string")))
            ).alias("pos"),
        )
        .distinct()
    )
    probes = spark.range(1, BFS_PROBES + 1).select(
        F.col("id").alias("custkey")
    )
    ppos = (
        probes.select(
            "custkey",
            F.explode(
                F.array(*positions(F.col("custkey").cast("string")))
            ).alias("pos"),
        )
        .distinct()
    )
    pneed = ppos.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("long").alias("need")
    )
    cand = (
        ppos.join(F.broadcast(bits), "pos")
        .groupBy("custkey", "file_id")
        .agg(F.count(F.lit(1)).alias("got"))
        .join(F.broadcast(pneed), "custkey")
        .where(F.col("got") == F.col("need"))
        .select("custkey", "file_id")
    )
    truth = probes.join(
        keys, probes["custkey"] == keys["o_custkey"]
    ).select("custkey", "file_id")
    nf = keys.select("file_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_files")
    )
    out = (
        probes.crossJoin(F.broadcast(nf))
        .join(
            cand.groupBy("custkey").agg(
                F.countDistinct("file_id").cast("long").alias("n_candidates")
            ),
            "custkey",
            "left",
        )
        .join(
            truth.groupBy("custkey").agg(
                F.countDistinct("file_id").cast("long").alias("n_true")
            ),
            "custkey",
            "left",
        )
        .select(
            "custkey",
            "n_files",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            (
                F.coalesce("n_candidates", F.lit(0))
                - F.coalesce("n_true", F.lit(0))
            )
            .cast("long")
            .alias("false_positive_files"),
            F.round(
                F.lit(1.0)
                - F.coalesce("n_candidates", F.lit(0)).cast("double")
                / F.col("n_files"),
                4,
            ).alias("skip_ratio"),
        )
        .orderBy("custkey")
    )
    return out
