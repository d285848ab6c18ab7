"""Text analysis operators: stats, quality scoring, language ID, token
counting, fingerprinting (SURVEY §2.2 D31 + LLM-dataprep extensions).

All pure ``pyspark.sql.functions`` expressions (WholeStageCodegen, no UDFs):
at 100 TB these are embarrassingly parallel map-side ops with zero shuffle.
Language profiles are shared between the Spark builders and the generated
DuckDB oracle SQL so both engines score identically by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.lineage import lineage_cut
from conceptnetwork_spark.registry import register

# BPE-ish token pattern: letter runs, digit runs, single punctuation marks.
TOKEN_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

# Tiny distinctive-stopword profiles for the n-gram/stopword language-ID
# heuristic. Deterministic tiebreak: priority order below.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "es": ["el", "la", "los", "que", "es", "en", "un", "una"],
    "fr": ["le", "la", "les", "et", "est", "que", "une", "dans"],
    "zh": [],  # han-script detection, not stopwords
}
LANG_PRIORITY = ["en", "de", "es", "fr", "zh"]
HAN_PATTERN = r"[一-鿿]"

ENGLISH_STOPWORDS = LANG_PROFILES["en"] + ["a", "an", "for", "on", "with"]
PUNCT_CLASS = r"[.,;:!?]"


def _toks(col: Column) -> Column:
    return F.split(F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))), " ")


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language match scores: stopword hits for latin langs, han-char
    count for zh."""
    toks = _toks(col)
    scores: dict[str, Column] = {}
    for lang, words in LANG_PROFILES.items():
        if lang == "zh":
            scores[lang] = F.regexp_count(col, F.lit(HAN_PATTERN)).cast("long")
        else:
            scores[lang] = (
                F.size(F.filter(toks, lambda x: x.isin(*words))).cast("long")
            )
    return scores


def lang_id(col: Column) -> Column:
    """argmax over lang_scores with fixed priority tiebreak; 'und' if all 0."""
    scores = lang_scores(col)
    all_scores = [scores[lang] for lang in LANG_PRIORITY]
    best = F.greatest(*all_scores)
    expr = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        expr = F.when((scores[lang] == best) & (best > 0), lang).otherwise(expr)
    return expr


def _lang_id_sql(text_expr: str = "text") -> str:
    """DuckDB SQL mirroring lang_id() from the same LANG_PROFILES."""
    toks = (
        f"string_split(lower(trim(regexp_replace({text_expr}, '\\s+', ' ', 'g'))), ' ')"
    )
    score_exprs = {}
    for lang, words in LANG_PROFILES.items():
        if lang == "zh":
            score_exprs[lang] = (
                f"CAST(len(regexp_extract_all({text_expr}, '{HAN_PATTERN}')) AS BIGINT)"
            )
        else:
            lst = ", ".join(f"'{w}'" for w in words)
            score_exprs[lang] = (
                f"CAST(len(list_filter({toks}, x -> list_contains([{lst}], x))) AS BIGINT)"
            )
    best = "greatest(" + ", ".join(score_exprs[lang] for lang in LANG_PRIORITY) + ")"
    case = "CASE "
    for lang in LANG_PRIORITY:
        case += f"WHEN {score_exprs[lang]} = {best} AND {best} > 0 THEN '{lang}' "
    case += "ELSE 'und' END"
    return case


# --------------------------------------------------------------------------
# D31a — doc-level stats (chars / words / BPE-ish tokens)
# --------------------------------------------------------------------------
@register(
    "d31_text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT)                                  AS chars,
           CAST(len(string_split(text, ' ')) AS BIGINT)                  AS words,
           CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT) AS tokens,
           ROUND(CAST(length(text) AS DOUBLE)
                 / len(string_split(text, ' ')), 4)                      AS chars_per_word
    FROM documents ORDER BY doc_id
    """,
)
def d31_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character / word / regex-token counts per document — the token-count
    layer of the LLM dataprep pipeline, fully JVM-side."""
    d = catalog(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("chars"),
        F.size(F.split("text", " ")).cast("long").alias("words"),
        F.regexp_count("text", F.lit(TOKEN_PATTERN)).cast("long").alias("tokens"),
        F.round(
            F.length("text").cast("double") / F.size(F.split("text", " ")), 4
        ).alias("chars_per_word"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D31b — quality scoring
# --------------------------------------------------------------------------
_STOP_LIST_SQL = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)


@register(
    "d31_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
      FROM documents
    )
    SELECT doc_id,
           ROUND(CAST(len(list_filter(toks,
                 x -> list_contains([{_STOP_LIST_SQL}], x))) AS DOUBLE)
                 / len(toks), 4)                                        AS stopword_ratio,
           ROUND(CAST(length(text) -
                 length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')) AS DOUBLE)
                 / length(text), 4)                                     AS punct_ratio,
           ROUND(CAST(length(text) AS DOUBLE) / len(toks), 4)           AS avg_tok_len,
           (length(text) >= 100)                                        AS len_ok
    FROM t ORDER BY doc_id
    """,
)
def d31_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals (stopword ratio, punctuation density, token
    length, min-length gate) — the filter features of a pretraining-data
    quality classifier."""
    d = catalog(spark, sf_dir).documents
    toks = _toks(F.col("text"))
    return d.select(
        "doc_id",
        F.round(
            F.size(F.filter(toks, lambda x: x.isin(*ENGLISH_STOPWORDS))).cast("double")
            / F.size(toks),
            4,
        ).alias("stopword_ratio"),
        F.round(
            (
                F.length("text")
                - F.length(F.regexp_replace("text", PUNCT_CLASS, ""))
            ).cast("double")
            / F.length("text"),
            4,
        ).alias("punct_ratio"),
        F.round(F.length("text").cast("double") / F.size(toks), 4).alias(
            "avg_tok_len"
        ),
        (F.length("text") >= 100).alias("len_ok"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D31c — language identification
# --------------------------------------------------------------------------
@register(
    "d31_lang_id",
    oracle=f"""
    SELECT doc_id, {_lang_id_sql('text')} AS lang_pred
    FROM documents ORDER BY doc_id
    """,
)
def d31_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword/han-script language-ID heuristic; profiles shared with the
    oracle SQL generator so both engines are identical by construction.
    Accuracy on real multilingual snippets is pytest-checked separately."""
    d = catalog(spark, sf_dir).documents
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred")).orderBy(
        "doc_id"
    )


# --------------------------------------------------------------------------
# D31f — per-language corpus statistics (exact percentiles)
# --------------------------------------------------------------------------
@register(
    "d31_corpus_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(len(regexp_extract_all(text, '{TOKEN_PATTERN}'))), 4) AS avg_tokens,
           ROUND(quantile_cont(n_chars, 0.5), 4) AS med_chars,
           ROUND(quantile_cont(n_chars, 0.9), 4) AS p90_chars
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
)
def d31_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus summary with EXACT percentiles (Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the same linear-
    interpolation definition, so medians hash-match). At 100 TB exact
    percentiles are a sort-based aggregate per group; the approx_percentile
    sketch is the cheaper alternative when 1% error is acceptable."""
    d = catalog(spark, sf_dir).documents
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.regexp_count("text", F.lit(TOKEN_PATTERN))), 4).alias(
                "avg_tokens"
            ),
            F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("med_chars"),
            F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# D31g — composed corpus filter (the end-to-end pretraining dataprep shape)
# --------------------------------------------------------------------------
@register(
    "d31_corpus_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text,
             {_lang_id_sql('text')} AS lang_pred,
             CAST(length(text) AS BIGINT) AS chars,
             CAST(length(text) -
                  length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')) AS DOUBLE)
                  / length(text) AS punct_ratio,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    kept AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM scored
      WHERE lang_pred = 'en' AND chars >= 100 AND punct_ratio < 0.1
    )
    SELECT doc_id, chars, ROUND(punct_ratio, 4) AS punct_ratio
    FROM kept WHERE rn = 1
    ORDER BY doc_id
    """,
)
def d31_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed dataprep pipeline in one declared query: language gate
    (shared lang-ID heuristic) -> quality gates (min length, punctuation
    density) -> exact dedup (keep the lowest doc_id per normalized
    fingerprint). Filters are all map-side; the only shuffle is the dedup
    window on the 128-bit fingerprint — the same plan a 100 TB corpus
    filter runs, just wider."""
    d = catalog(spark, sf_dir).documents
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    scored = d.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_pred"),
        F.length("text").cast("long").alias("chars"),
        (
            (
                F.length("text") - F.length(F.regexp_replace("text", PUNCT_CLASS, ""))
            ).cast("double")
            / F.length("text")
        ).alias("punct_ratio"),
        F.md5(norm.cast("binary")).alias("fp"),
    ).where(
        (F.col("lang_pred") == "en")
        & (F.col("chars") >= 100)
        & (F.col("punct_ratio") < 0.1)
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "chars", F.round("punct_ratio", 4).alias("punct_ratio"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D31e — MLlib text-feature pipeline (Tokenizer/StopWords/NGram/TF-IDF)
# --------------------------------------------------------------------------
def build_text_features_pipeline(
    num_features: int = 1 << 12, ngram_n: int = 2
):
    """RegexTokenizer -> StopWordsRemover -> NGram -> HashingTF -> IDF:
    the MLlib transformer chain of SURVEY §2.2 D31. All stages are
    row-local maps except the IDF fit (one doc-frequency aggregate), so
    the chain is shuffle-free at transform time — exactly what a 100 TB
    featurization pass needs."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import (
        IDF,
        HashingTF,
        NGram,
        RegexTokenizer,
        StopWordsRemover,
    )

    return Pipeline(
        stages=[
            RegexTokenizer(
                inputCol="text", outputCol="tokens", pattern=r"\s+"
            ),
            StopWordsRemover(inputCol="tokens", outputCol="filtered"),
            NGram(n=ngram_n, inputCol="filtered", outputCol="ngrams"),
            HashingTF(
                inputCol="ngrams", outputCol="tf", numFeatures=num_features
            ),
            IDF(inputCol="tf", outputCol="tfidf"),
        ]
    )


@register("d31_tfidf", oracle=None)
def d31_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF featurization of documents through the MLlib chain. Non-oracle
    (hashing-trick bucket assignment is engine-defined); emits deterministic
    summary columns (vector nnz and L1 norm) so the rows-only check is
    stable across runs."""
    from pyspark.ml.functions import vector_to_array

    d = catalog(spark, sf_dir).documents.select("doc_id", "text")
    model = build_text_features_pipeline().fit(d)
    out = model.transform(d)
    arr = vector_to_array(F.col("tfidf"))
    return out.select(
        "doc_id",
        F.size(F.filter(arr, lambda x: x != 0)).alias("nnz"),
        F.round(F.aggregate(arr, F.lit(0.0), lambda a, x: a + F.abs(x)), 4).alias(
            "l1"
        ),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D31d — document fingerprinting
# --------------------------------------------------------------------------
@register(
    "d31_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 4)
             AS fp_bucket
    FROM documents ORDER BY doc_id
    """,
)
def d31_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprint (lower, whitespace-collapse, md5) plus
    a 16-bit bucket prefix — the partition key for distributed dedup."""
    d = catalog(spark, sf_dir).documents
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = F.md5(norm.cast("binary"))
    return d.select(
        "doc_id", fp.alias("fp"), F.substring(fp, 1, 4).alias("fp_bucket")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D31h — repetition / lexical-diversity signals (the Gopher-style
# repetitiousness filters: boilerplate and degenerate text score high here)
# --------------------------------------------------------------------------
@register(
    "d31_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
               AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY doc_id, term
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT)                         AS n_toks,
           CAST(COUNT(*) AS BIGINT)                         AS n_distinct,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 4)    AS ttr,
           ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 4)    AS top_tok_frac
    FROM tf GROUP BY doc_id ORDER BY doc_id
    """,
)
def d31_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals per document: type-token ratio and the mass of the
    single most frequent token — the degenerate-text detectors (boilerplate,
    keyword stuffing, decode loops) used as pretraining quality gates.

    Scale shape: the classic word-count plan — explode is map-side, the
    (doc_id, term) aggregate map-side-combines before its shuffle (shuffle
    carries unique pairs, not token instances), and the per-doc rollup
    reuses the same hash partitioning on the doc_id prefix. No all-pairs,
    no driver state, spillable at any corpus size."""
    d = catalog(spark, sf_dir).documents
    tf = (
        d.select("doc_id", F.explode(_toks(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_toks"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.round(F.count(F.lit(1)).cast("double") / F.sum("cnt"), 4).alias(
                "ttr"
            ),
            F.round(F.max("cnt").cast("double") / F.sum("cnt"), 4).alias(
                "top_tok_frac"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D31i — PII redaction (emails / long digit runs), the scrubbing pass every
# published pretraining pipeline runs before tokenization
# --------------------------------------------------------------------------
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
DIGIT_RUN_PATTERN = r"[0-9]{4,}"


@register(
    "d31_pii_redact",
    oracle=f"""
    WITH r AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS BIGINT)
               AS n_emails,
             regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g') AS t1
      FROM documents
    )
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(t1, '{DIGIT_RUN_PATTERN}')) AS BIGINT)
             AS n_digit_runs,
           CAST(length(regexp_replace(t1, '{DIGIT_RUN_PATTERN}', '<NUM>', 'g'))
             AS BIGINT) AS redacted_len
    FROM r ORDER BY doc_id
    """,
)
def d31_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub: mask emails then 4+-digit runs (phone/account/ID
    shapes), counting each class. Replacement ORDER is part of the contract
    (emails first, so their digits are never double-counted as digit runs)
    and is identical in the oracle. Pure map-side regexp expressions —
    WholeStageCodegen, zero shuffle, embarrassingly parallel at 100 TB."""
    d = catalog(spark, sf_dir).documents
    t1 = F.regexp_replace("text", EMAIL_PATTERN, "<EMAIL>")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(EMAIL_PATTERN)).cast("long").alias(
            "n_emails"
        ),
        F.regexp_count(t1, F.lit(DIGIT_RUN_PATTERN)).cast("long").alias(
            "n_digit_runs"
        ),
        F.length(
            F.regexp_replace(t1, DIGIT_RUN_PATTERN, "<NUM>")
        ).cast("long").alias("redacted_len"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D31e — BM25 retrieval scoring (the ranking function behind every sparse
# text-retrieval / contamination-check stage in an LLM data pipeline)
# --------------------------------------------------------------------------
BM25_QUERY_TERMS = ("spark", "join", "window")
BM25_K1, BM25_B = 1.2, 0.75


def bm25_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, score): BM25 of each document against BM25_QUERY_TERMS.

    Scale shape: tokenize + explode is map-side; tf is one groupBy on
    (doc_id, term) AFTER filtering to the |Q| query terms (the explode
    never shuffles non-query tokens); df (|Q| rows) and the corpus
    n_docs/avgdl scalars join back via broadcast; the only non-broadcast
    shuffle joins tf to per-doc length on doc_id. No collect — corpus
    stats stay plan-side as a broadcast cross join. Shared by d31_bm25
    and the d30_hybrid_rrf lexical leg."""
    # NOTE (r12, measured): lazy localCheckpoints on dl and tf (each
    # consumed twice) probed SLOWER (0.82 s -> 0.95 s min-of-5 noop at
    # sf0.1) — the duplicated tokenize passes run CONCURRENTLY on idle
    # cores, while the cut serializes the stage graph. Left uncut; do
    # not retry.
    toks = docs.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * F.col("tf") * (BM25_K1 + 1) / denom), 4
            ).alias("score")
        )
    )



@register(
    "d31_bm25",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ),
    corpus AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN {tuple(BM25_QUERY_TERMS)!r} GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    )
    SELECT tf.doc_id,
           ROUND(SUM(
             ln(1 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({BM25_K1} + 1)
             / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / corpus.avgdl))
           ), 4) AS score
    FROM tf
    JOIN df USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN corpus
    GROUP BY tf.doc_id
    ORDER BY tf.doc_id
    """,
)
def d31_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 score of every document against a fixed query-term set (see
    bm25_scores for the plan shape)."""
    return bm25_scores(catalog(spark, sf_dir).documents).orderBy("doc_id")


# --------------------------------------------------------------------------
# D31j — unigram LM score (corpus-frequency log-prob per doc: the cheap
# "perplexity-style" quality signal used to rank crawl text before the
# expensive model-based filters)
# --------------------------------------------------------------------------
@register(
    "d31_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
               AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY doc_id, term
    ),
    vocab AS (
      SELECT term, SUM(cnt) AS term_total FROM tf GROUP BY term
    ),
    corpus AS (
      SELECT SUM(term_total) AS n_total FROM vocab
    )
    SELECT tf.doc_id,
           ROUND(SUM(tf.cnt * ln(vocab.term_total / corpus.n_total))
                 / SUM(tf.cnt), 4) AS avg_logprob
    FROM tf JOIN vocab USING (term) CROSS JOIN corpus
    GROUP BY tf.doc_id ORDER BY tf.doc_id
    """,
)
def d31_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document under the corpus's own
    empirical unigram distribution — low scores flag gibberish / rare-token
    soup, high scores flag natural common-word text. The cheap proxy for
    LM-perplexity quality filtering (same shape: score = mean token
    log-prob), computable without any model.

    Scale shape: tf is the word-count aggregate (map-side combine, unique
    (doc, term) pairs in the shuffle); the vocab table aggregates tf a
    second time on term only; tf joins vocab back on term — a genuine
    large-large join at corpus scale, which Spark sort-merge-joins on the
    term key (skewed head words are exactly what AQE skew-join splits);
    the corpus total rides along as a broadcast scalar. Final rollup
    reuses the doc_id grouping. No collect, no all-pairs."""
    d = catalog(spark, sf_dir).documents
    tf = (
        d.select("doc_id", F.explode(_toks(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # lazy lineage cut on the (doc, term, cnt) aggregate: the vocab
        # rollup, the corpus-total scalar and the final join all consume
        # it — uncut, the tokenize+explode+count pipeline ran three times
        .transform(lineage_cut)
    )
    vocab = tf.groupBy("term").agg(F.sum("cnt").alias("term_total"))
    corpus = vocab.agg(F.sum("term_total").alias("n_total"))
    return (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("cnt")
                    * F.log(F.col("term_total") / F.col("n_total"))
                )
                / F.sum("cnt"),
                4,
            ).alias("avg_logprob")
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D31k — per-language top-bigram profile (the n-gram signature behind
# corpus drift monitoring and cheap language-model fingerprinting)
# --------------------------------------------------------------------------
NGRAM_TOPK = 5


@register(
    "d31_ngram_profile",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
               AS t
      FROM documents
    ),
    grams AS (
      SELECT lang, t[i] || ' ' || t[i + 1] AS bigram
      FROM toks, unnest(range(1, len(t))) AS u(i)
    ),
    counts AS (
      SELECT lang, bigram, COUNT(*) AS cnt FROM grams GROUP BY lang, bigram
    ),
    ranked AS (
      SELECT lang, bigram, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, bigram) AS rk
      FROM counts
    )
    SELECT lang, rk, bigram, cnt FROM ranked
    WHERE rk <= {NGRAM_TOPK}
    ORDER BY lang, rk
    """,
)
def d31_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language — the n-gram signature
    used for corpus drift monitoring and contamination spot-checks.

    Scale shape: bigram generation is a map-side zip of each token array
    with its own tail (no self-join); the (lang, bigram) count map-side-
    combines; the top-k is a window over the per-language count table —
    already reduced to unique bigrams — with a full-key tiebreak so rank
    is total. Same plan at 100 TB with lang replaced by any profile key."""
    d = catalog(spark, sf_dir).documents
    toks = _toks(F.col("text"))
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    counts = (
        d.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= NGRAM_TOPK)
        .select("lang", "rk", "bigram", "cnt")
        .orderBy("lang", "rk")
    )


# --------------------------------------------------------------------------
# D31l — vocabulary building (top-k terms with term + document frequency)
# --------------------------------------------------------------------------
VOCAB_TOPK = 100


@register(
    "d31_vocab_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(trim(
               regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
      FROM documents
    ),
    counts AS (
      SELECT term,
             COUNT(*)                 AS term_freq,
             COUNT(DISTINCT doc_id)   AS doc_freq
      FROM tok GROUP BY term
    ),
    ranked AS (
      SELECT term, term_freq, doc_freq,
             ROW_NUMBER() OVER (ORDER BY term_freq DESC, term) AS rk
      FROM counts
    )
    SELECT rk, term, term_freq, doc_freq
    FROM ranked WHERE rk <= {VOCAB_TOPK}
    ORDER BY rk
    """,
)
def d31_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-k terms by term frequency with document
    frequency — the vocab-building pass before tokenizer training.

    Scale shape: explode is map-side; the (term) groupBy map-side-combines
    (term_freq as count, doc_freq via count_distinct with partial
    aggregation); the top-k is a TakeOrderedAndProject over the already-
    reduced unique-term table, never the token stream. At 100 TB the only
    shuffle carries unique (term, partial-count) pairs — the Zipf head
    compresses heavily under partial aggregation."""
    d = catalog(spark, sf_dir).documents
    tok = d.select("doc_id", F.explode(_toks(F.col("text"))).alias("term"))
    counts = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("term_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    w = Window.orderBy(F.desc("term_freq"), F.asc("term"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= VOCAB_TOPK)
        .select("rk", "term", "term_freq", "doc_freq")
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# D31m — sliding-window document chunking (RAG / pretraining chunker)
# --------------------------------------------------------------------------
CHUNK_SIZE = 40  # tokens per chunk
CHUNK_STRIDE = 32  # tokens between chunk starts (CHUNK_SIZE-CHUNK_STRIDE overlap)


@register(
    "d31_chunk_text",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(trim(
               regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
      FROM documents
    ),
    fanout AS (
      SELECT doc_id, w,
             unnest(generate_series(0,
               CAST(CEIL(GREATEST(len(w) - {CHUNK_SIZE}, 0)
                         / CAST({CHUNK_STRIDE} AS DOUBLE)) AS BIGINT))) AS i
      FROM tok
    ),
    chunks AS (
      SELECT doc_id,
             CAST(i AS BIGINT) AS chunk_id,
             CAST(1 + i * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
             list_slice(w, 1 + i * {CHUNK_STRIDE},
                        LEAST(({CHUNK_SIZE} + i * {CHUNK_STRIDE}), len(w))) AS cw
      FROM fanout
    )
    SELECT doc_id, chunk_id, start_tok,
           CAST(len(cw) AS BIGINT) AS n_tokens,
           md5(array_to_string(cw, ' ')) AS chunk_hash
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
)
def d31_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping fixed-size token windows
    (size CHUNK_SIZE, stride CHUNK_STRIDE) — the chunking pass feeding
    retrieval indexes and long-context packing. Emits (doc_id, chunk_id,
    start_tok, n_tokens, chunk_hash); the hash stands in for the chunk
    payload so the oracle compares content without shipping text.

    Scale shape: pure map-side — tokenization, the per-doc chunk-index
    sequence, and the slice all happen inside one projection; posexplode
    fans out rows with no shuffle. At 100 TB this is embarrassingly
    parallel and the output is written straight back out partitioned by
    whatever the sink needs."""
    d = catalog(spark, sf_dir).documents
    toks = _toks(F.col("text"))
    n_chunks = F.ceil(
        F.greatest(F.size(toks) - CHUNK_SIZE, F.lit(0)) / float(CHUNK_STRIDE)
    ).cast("long")
    chunk_ws = F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks),
        lambda i: F.slice(toks, i * CHUNK_STRIDE + 1, CHUNK_SIZE),
    )
    return (
        d.select("doc_id", F.posexplode(chunk_ws).alias("chunk_id", "cw"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            (F.col("chunk_id").cast("long") * CHUNK_STRIDE + 1).alias("start_tok"),
            F.size("cw").cast("long").alias("n_tokens"),
            F.md5(F.concat_ws(" ", F.col("cw")).cast("binary")).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# --------------------------------------------------------------------------
# D31n — hashing-trick featurization (fixed-width sparse features, no vocab)
# --------------------------------------------------------------------------
HASH_DIM = 64  # feature-space width (2^k in production; small here so the
#   oracle output stays enumerable)


@register(
    "d31_hash_features",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(lower(trim(
               regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
      FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(term AS VARCHAR)), 1, 8)) AS BIGINT)
             % {HASH_DIM} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tok
    GROUP BY doc_id, bucket
    ORDER BY doc_id, bucket
    """,
)
def d31_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: every token maps straight to one of
    HASH_DIM buckets via md5 — fixed-width sparse count features with NO
    vocabulary pass, the classic trick (Weinberger et al. 2009) for
    featurizing an unbounded token space in one map-side step. Because the
    hash is content-addressed (not a seeded murmur per-JVM), the feature
    matrix is engine-portable and the oracle re-derives it exactly.

    Scale shape: explode + bucket assignment are map-side; the only
    shuffle is the (doc_id, bucket) count groupBy, which map-side-combines
    to <= HASH_DIM rows per doc per partition. No vocabulary state, no
    driver-side dictionary — the property that makes the trick the
    at-scale default."""
    from conceptnetwork_spark.operators.sampling import hash_bucket

    d = catalog(spark, sf_dir).documents
    tok = d.select("doc_id", F.explode(_toks(F.col("text"))).alias("term"))
    return (
        tok.groupBy(
            "doc_id", hash_bucket(F.col("term"), HASH_DIM).alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy("doc_id", "bucket")
    )


# --------------------------------------------------------------------------
# Repeated-block removal across documents (C4/RefinedWeb-style span dedup,
# one granularity below d29's whole-document dedup)
# --------------------------------------------------------------------------
BLOCK_W = 12  # words per non-overlapping block


@register(
    "d31_block_dedup",
    # a FULL block (exactly BLOCK_W words) is kept iff its doc owns it
    # (min doc_id over identical blocks); the ragged tail block is always
    # kept. Pure function of content -> both engines derive the same set.
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                          ' ') AS toks
      FROM documents
    ), b AS (
      SELECT doc_id,
             array_to_string(toks[(i * {BLOCK_W} + 1):(i * {BLOCK_W} + {BLOCK_W})],
                             ' ') AS block,
             len(toks) - i * {BLOCK_W} >= {BLOCK_W} AS full_block
      FROM w, LATERAL unnest(generate_series(0,
             CAST(ceil(len(toks) / {BLOCK_W}.0) - 1 AS BIGINT))) AS t(i)
    ), owned AS (
      SELECT doc_id, full_block,
             CASE WHEN full_block THEN
               doc_id = MIN(doc_id) OVER (PARTITION BY block)
             ELSE TRUE END AS kept
      FROM b
    )
    SELECT doc_id,
           COUNT(*) AS n_blocks,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN full_block AND NOT kept THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped
    FROM owned GROUP BY doc_id ORDER BY doc_id
    """,
)
def d31_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-block removal: the corpus is cut into non-overlapping
    12-word blocks and any FULL block that also appears in an earlier
    document is dropped (the earliest doc keeps its copy; ragged tails are
    never dedup targets). The C4 / RefinedWeb repeated-span pass, one
    granularity below whole-document dedup — boilerplate, licence blocks
    and copied passages die here while the containing docs survive.
    Readout is the per-doc audit (blocks / kept / dropped) a curation run
    reports.

    Scale shape: map-side block construction (one transform over the token
    array, no self-join) -> ONE shuffle on the block key for the ownership
    window -> count back per doc. At 100 TB swap the raw block string for
    xxhash64(block) so the exchange carries 8-byte keys (the
    d29_decontaminate trick); collision risk 2^-64 per pair is below
    corpus noise."""
    d = catalog(spark, sf_dir).documents
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), " "
    )
    nblocks = F.ceil(F.size(F.col("toks")) / F.lit(float(BLOCK_W))).cast("int")
    b = (
        d.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), nblocks - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("i") * BLOCK_W + 1, BLOCK_W)
            ).alias("block"),
            (
                F.size("toks") - F.col("i") * BLOCK_W >= BLOCK_W
            ).alias("full_block"),
        )
    )
    w = Window.partitionBy("block")
    owned = b.select(
        "doc_id",
        "full_block",
        F.when(
            F.col("full_block"), F.col("doc_id") == F.min("doc_id").over(w)
        )
        .otherwise(F.lit(True))
        .alias("kept"),
    )
    return (
        owned.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.sum((F.col("full_block") & ~F.col("kept")).cast("long")).alias(
                "n_dropped"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Keyword extraction — top-k per doc by (tf desc, df asc), integer-exact
# --------------------------------------------------------------------------
KW_TOPK = 3
KW_MIN_LEN = 4  # short function words are never keywords


@register(
    "d31_keywords",
    # tf-idf ORDER without tf-idf FLOATS: ranking by (tf desc, df asc,
    # word) is the same ordering tf * idf induces for monotone idf, and
    # every compared quantity is an integer — no log/divide whose last-ulp
    # could differ between engines.
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split(lower(trim(
               regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS word
      FROM documents
    ), f AS (
      SELECT doc_id, word, COUNT(*) AS tf
      FROM w WHERE length(word) >= {KW_MIN_LEN}
      GROUP BY doc_id, word
    ), d AS (
      SELECT word, COUNT(*) AS df FROM f GROUP BY word
    ), r AS (
      SELECT f.doc_id, f.word, f.tf, d.df,
             ROW_NUMBER() OVER (PARTITION BY f.doc_id
                                ORDER BY f.tf DESC, d.df ASC, f.word)
               AS rank
      FROM f JOIN d USING (word)
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, word, tf, df
    FROM r WHERE rank <= {KW_TOPK}
    ORDER BY doc_id, rank
    """,
)
def d31_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k keyword extraction per document: frequent in the doc, rare in
    the corpus — the tf-idf ORDERING spelled with pure integers
    (tf desc, corpus df asc) so both engines derive bit-identical ranks;
    the float tf-idf twin (d31_tfidf) stays determinism-tested rather than
    oracle-checked precisely because of log/divide ulp drift. This is the
    tagging/indexing primitive of corpus exploration.

    Scale shape: one explode → (doc, word) count agg; the df table is one
    more agg over the tf table's keys (not the raw tokens), then joins
    back BY WORD — at 100 TB the df side is vocabulary-sized, broadcast
    material. Top-k is a per-doc window over tf rows, not tokens."""
    d = catalog(spark, sf_dir).documents
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), " "
    )
    w = d.select("doc_id", F.explode(toks).alias("word")).where(
        F.length("word") >= KW_MIN_LEN
    )
    tf = (
        w.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        # lazy lineage cut on the (doc, word, tf) relation: the df
        # derivation and the rank join both consume it — uncut, the
        # tokenize + explode + count-agg subtree ran twice (once feeding
        # the broadcast df build; r12 interleaved A/B: 0.74 s -> 0.48 s
        # noop, exchanges 12 -> 8)
        .transform(lineage_cut)
    )
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("word")
    )
    r = tf.join(F.broadcast(df_), "word").withColumn(
        "rank", F.row_number().over(win)
    )
    return (
        r.where(F.col("rank") <= KW_TOPK)
        .select("doc_id", F.col("rank").cast("int").alias("rank"), "word", "tf", "df")
        .orderBy("doc_id", "rank")
    )


# --------------------------------------------------------------------------
# D31r — Unicode normalization + control-character scrub (the first text
# cleaning pass of every LLM ingest: NFC so byte-level dedup hashes agree
# across encoder variants, control chars out, whitespace canonicalized)
# --------------------------------------------------------------------------
def _nfc_clean_series(s):
    import re
    import unicodedata

    # ASCII-only whitespace class ON PURPOSE: Python's \s and RE2's \s
    # disagree on unicode whitespace (\xa0 etc.), so the contract pins the
    # explicit class both engines interpret identically.
    ctrl = re.compile(r"[\x00-\x1f\x7f]")
    ws = re.compile(r"[ \t\n\r\f\v]+")

    def f(t):
        if t is None:
            return None
        t = unicodedata.normalize("NFC", t)
        t = ctrl.sub(" ", t)
        return ws.sub(" ", t).strip(" ")

    return s.map(f)


@register(
    "d31_unicode_clean",
    oracle=r"""
    WITH c AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(nfc_normalize(text),
                    '[\x00-\x1f\x7f]', ' ', 'g'),
                  '[ \t\n\r\f\v]+', ' ', 'g'), ' ') AS t
      FROM documents
    )
    SELECT doc_id, length(t) AS clean_len, md5(t) AS clean_md5
    FROM c ORDER BY doc_id
    """,
)
def d31_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC-normalize + scrub C0/DEL control characters + canonicalize runs
    of ASCII whitespace — emitted as (length, md5) so the oracle certifies
    BYTE EQUALITY of the cleaned text, not a summary statistic. NFC is the
    step that makes downstream exact-dedup hashes (d29_exact_dedup)
    agree when the same content arrives in composed and decomposed forms.

    Scale shape: map-only — an Arrow-batched pandas UDF (unicodedata has
    no JVM builtin) feeding codegen md5/length; no shuffle, linear scan,
    embarrassingly parallel. The UDF crosses to Python once per ~10k-row
    Arrow batch, not per row."""
    from pyspark.sql.types import StringType

    clean = F.pandas_udf(_nfc_clean_series, StringType())
    d = catalog(spark, sf_dir).documents
    return (
        d.select("doc_id", clean(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.length("t").cast("long").alias("clean_len"),
            F.md5("t").alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D31s — Gopher-style document quality rules (Rae et al. 2021, the
# published heuristic filter battery most LLM corpora start from)
# --------------------------------------------------------------------------
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_WORD_RE = r"[^ \t\n\r\f\v]+"
_STOP_SQL = " + ".join(
    "CASE WHEN regexp_matches(lower(text), '\\b%s\\b') THEN 1 ELSE 0 END" % sw
    for sw in GOPHER_STOPWORDS
)


@register(
    "d31_gopher_filter",
    oracle=rf"""
    WITH w AS (
      SELECT doc_id,
             regexp_extract_all(text, '{_WORD_RE}') AS words,
             CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT)
               AS n_symbols,
             ({_STOP_SQL})
               AS n_stop
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(len(list_filter(words,
                    x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
               AS n_alpha_words,
             CAST(list_sum(list_transform(words, x -> length(x)))
                  AS BIGINT) AS sum_len,
             n_symbols, n_stop
      FROM w
    )
    SELECT doc_id, n_words,
           ROUND(sum_len / CAST(n_words AS DOUBLE), 4) AS mean_word_len,
           ROUND(n_symbols / CAST(n_words AS DOUBLE), 4) AS symbol_ratio,
           ROUND(n_alpha_words / CAST(n_words AS DOUBLE), 4) AS alpha_ratio,
           n_stop,
           (n_words BETWEEN 50 AND 100000
            AND sum_len / CAST(n_words AS DOUBLE) BETWEEN 3 AND 10
            AND n_symbols / CAST(n_words AS DOUBLE) < 0.1
            AND n_alpha_words / CAST(n_words AS DOUBLE) > 0.8
            AND n_stop >= 2) AS keep
    FROM m WHERE n_words > 0 ORDER BY doc_id
    """,
)
def d31_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (published heuristics: word-count
    bounds 50..100k, mean word length 3..10, symbol-to-word ratio < 0.1,
    alphabetic-word fraction > 0.8, >= 2 of 8 canonical stopwords
    present) — emitted per document with every sub-signal plus the final
    keep verdict so threshold tuning needs no recompute. Word = run of
    non-ASCII-whitespace, pinned identically in both engines. (On the
    synthetic test corpus the stopword rule rejects every document —
    its vocabulary isn't natural language, which is exactly the text
    class that rule exists to reject; the sub-signal columns carry the
    per-document variance the hash certifies.)

    Scale shape: map-only codegen (split + higher-order array functions +
    regexp counts), no shuffle, no Python. The signals this shares with
    d31_quality_score/d31_repetition compute once per scan at 100 TB by
    fusing the selects — Catalyst collapses adjacent projections."""
    d = catalog(spark, sf_dir).documents
    # NOT F.expr with an embedded '...' literal: Spark's SQL string parser
    # drops the backslash of unrecognized escapes ('\f' -> 'f', '\v' ->
    # 'v'), silently turning the whitespace class into one that excludes
    # the LETTERS f and v. F.lit passes the pattern through unparsed.
    words = F.regexp_extract_all("text", F.lit(_WORD_RE), F.lit(0))
    n_stop = None
    for sw in GOPHER_STOPWORDS:
        term = F.when(
            F.lower(F.col("text")).rlike(rf"\b{sw}\b"), 1
        ).otherwise(0)
        n_stop = term if n_stop is None else (n_stop + term)
    base = d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.size(F.filter(words, lambda x: x.rlike("[a-zA-Z]")))
        .cast("long")
        .alias("n_alpha_words"),
        F.aggregate(
            F.transform(words, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        F.regexp_count("text", F.lit(r"#|\.\.\.")).cast("long").alias("n_symbols"),
        n_stop.alias("n_stop"),
    ).where(F.col("n_words") > 0)
    nw = F.col("n_words").cast("double")
    mean_wl = F.col("sum_len") / nw
    sym = F.col("n_symbols") / nw
    alpha = F.col("n_alpha_words") / nw
    return base.select(
        "doc_id",
        "n_words",
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(sym, 4).alias("symbol_ratio"),
        F.round(alpha, 4).alias("alpha_ratio"),
        "n_stop",
        (
            F.col("n_words").between(50, 100000)
            & mean_wl.between(3, 10)
            & (sym < 0.1)
            & (alpha > 0.8)
            & (F.col("n_stop") >= 2)
        ).alias("keep"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D31t — classifier evaluation: confusion matrix + per-class recall for
# the lang-ID heuristic against the gold lang column
# --------------------------------------------------------------------------
@register(
    "d31_langid_eval",
    oracle=f"""
    WITH p AS (
      SELECT lang AS gold, {_lang_id_sql('text')} AS pred FROM documents
    ), cm AS (
      SELECT gold, pred, COUNT(*) AS n FROM p GROUP BY gold, pred
    )
    SELECT gold, pred, n,
           ROUND(n / CAST(SUM(n) OVER (PARTITION BY gold) AS DOUBLE), 4)
             AS recall_share
    FROM cm ORDER BY gold, pred
    """,
)
def d31_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVALUATION operator: confusion matrix of the d31_lang_id heuristic
    against the gold ``lang`` column, with each cell's share of its gold
    class (the diagonal shares ARE per-class recall). Every classifier in
    a data pipeline (lang-ID, quality, toxicity) ships with exactly this
    readout; emitting it as a query makes the evaluation itself
    reproducible and driver-certifiable.

    Scale shape: prediction is map-side codegen; the confusion matrix is
    one partial+final agg to (n_classes x n_classes) rows and the recall
    window runs over that tiny table — evaluation cost is one scan
    regardless of corpus size."""
    d = catalog(spark, sf_dir).documents
    p = d.select(F.col("lang").alias("gold"), lang_id(F.col("text")).alias("pred"))
    cm = p.groupBy("gold", "pred").agg(F.count(F.lit(1)).alias("n"))
    wg = Window.partitionBy("gold")
    return (
        cm.withColumn(
            "recall_share",
            F.round(F.col("n") / F.sum("n").over(wg).cast("double"), 4),
        )
        .orderBy("gold", "pred")
    )


# --------------------------------------------------------------------------
# D31u — HTML strip + entity unescape (the crawl-to-text extraction pass)
# --------------------------------------------------------------------------
@register(
    "d31_html_strip",
    oracle="""
    WITH html AS (
      -- deterministic HTML-ification of each document (same expression in
      -- both engines): paragraph tags per sentence + escaped entities
      SELECT doc_id,
             '<html><body><h1>doc</h1><p>'
             || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'),
                        '. ', '.</p>\n<p>')
             || '</p><!-- footer --></body></html>' AS markup
      FROM documents
    ), stripped AS (
      -- comments FIRST, then tags (the documented contract: a comment
      -- payload containing '>' must not leave a half-stripped tag behind)
      SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(
                 regexp_replace(markup, '<[^>]*>', ' ', 'g'),
                 '&lt;', '<'), '&amp;', '&'), '&nbsp;', ' '),
               '\\s+', ' ', 'g'), ' ') AS t
      FROM (SELECT doc_id,
                   regexp_replace(markup, '<!--.*?-->', ' ', 'gs') AS markup
            FROM html)
    )
    SELECT doc_id, length(t) AS clean_len, md5(t) AS clean_md5
    FROM stripped ORDER BY doc_id
    """,
)
def d31_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-to-text extraction: strip comments and tags, unescape the
    common entities, canonicalize whitespace — certified by md5 BYTE
    EQUALITY of the recovered text against the oracle running the same
    extraction. The markup is built deterministically from each document
    (paragraph tags per sentence + escaped entities) so both engines
    extract from identical bytes without staging files; the expressions
    under test are exactly the ones a real WET/WARC text-extraction pass
    runs. Order matters and is part of the contract: comments first
    (their payload may contain '<'), then tags, then entity unescape
    (so unescaped '<' cannot create fake tags), then whitespace.

    Scale shape: pure map-side regexp/replace chain — codegen, zero
    shuffle, embarrassingly parallel; the natural first stage of the
    one-fused-scan ingest plan (compose with d31_unicode_clean and the
    quality gates in a single select)."""
    d = catalog(spark, sf_dir).documents
    markup = F.concat(
        F.lit("<html><body><h1>doc</h1><p>"),
        F.replace(
            F.replace(
                F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
                F.lit("<"),
                F.lit("&lt;"),
            ),
            F.lit(". "),
            F.lit(".</p>\n<p>"),
        ),
        F.lit("</p><!-- footer --></body></html>"),
    )
    no_comments = F.regexp_replace(markup, F.lit(r"(?s)<!--.*?-->"), F.lit(" "))
    no_tags = F.regexp_replace(no_comments, F.lit(r"<[^>]*>"), F.lit(" "))
    unescaped = F.replace(
        F.replace(
            F.replace(no_tags, F.lit("&lt;"), F.lit("<")),
            F.lit("&amp;"),
            F.lit("&"),
        ),
        F.lit("&nbsp;"),
        F.lit(" "),
    )
    clean = F.trim(
        F.regexp_replace(unescaped, F.lit(r"[ \t\n\r\f\v]+"), F.lit(" "))
    )
    return (
        d.select("doc_id", clean.alias("t"))
        .select(
            "doc_id",
            F.length("t").cast("long").alias("clean_len"),
            F.md5("t").alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D31 extension (round 5) — cross-corpus SENTENCE dedup with document
# RECONSTRUCTION (the C4-style policy: a sentence may appear once in the
# whole corpus; later occurrences are cut and the document is rebuilt)
# --------------------------------------------------------------------------
@register(
    "d31_sentence_dedup",
    oracle="""
    WITH sp AS (
      SELECT doc_id, string_split(text, '. ') AS s FROM documents
    ), seg AS (
      SELECT doc_id, i AS pos, s[i] AS seg
      FROM (SELECT doc_id, s, unnest(generate_series(1, len(s))) AS i
            FROM sp)
    ), dec AS (
      SELECT doc_id, pos, seg,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, pos) = 1
               AS kept
      FROM seg
    ), built AS (
      SELECT doc_id,
             COUNT(*) AS n_seg,
             CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             COALESCE(string_agg(CASE WHEN kept THEN seg END, '. '
                                 ORDER BY pos), '') AS t
      FROM dec GROUP BY doc_id
    )
    SELECT doc_id, n_seg, n_kept,
           length(t) AS clean_len, md5(t) AS clean_md5
    FROM built ORDER BY doc_id
    """,
)
def d31_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide sentence dedup with reconstruction: split every document
    on '. ', keep only the GLOBALLY FIRST occurrence of each sentence (by
    (doc_id, position)), rebuild each document from its surviving
    sentences, and certify the rebuilt text by md5 BYTE EQUALITY — the
    full C4-style repeated-sentence removal pass, not just a count report
    (d31_block_dedup's contract).

    Scale shape: the KEEP/DROP decision runs on a hash-only relation —
    (doc_id, pos, xxhash64(sentence)) — so the ownership shuffle carries
    8-byte keys, never sentence text (64-bit collisions are the usual
    negligible caveat); decisions rejoin the sentences on (doc_id, pos)
    and the rebuild is one groupBy(doc_id) with an in-group sort, so
    sentence text crosses the wire exactly twice regardless of corpus
    size. The Spark split pattern is the ESCAPED regex '\\. ' — split()
    takes a regex where DuckDB's string_split is literal."""
    from pyspark.sql import Window

    d = catalog(spark, sf_dir).documents
    segs = d.select(
        "doc_id", F.posexplode(F.split("text", r"\. ")).alias("pos0", "seg")
    )
    hashed = segs.select("doc_id", "pos0", F.xxhash64("seg").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id", "pos0")
    dec = hashed.withColumn("kept", F.row_number().over(w) == 1).drop("h")
    j = segs.join(dec, ["doc_id", "pos0"])
    built = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_seg"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.concat_ws(
            ". ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("kept"),
                            F.struct(
                                F.col("pos0").alias("pos"), F.col("seg").alias("seg")
                            ),
                        )
                    )
                ),
                lambda x: x.seg,
            ),
        ).alias("t"),
    )
    return built.select(
        "doc_id",
        "n_seg",
        "n_kept",
        F.length("t").alias("clean_len"),
        F.md5(F.col("t").cast("binary")).alias("clean_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D31 extension (round 6) — URL parsing (crawl-metadata normalization:
# host / path / query-param extraction with Spark's parse_url)
# --------------------------------------------------------------------------
@register(
    "d31_url_parse",
    oracle="""
    SELECT doc_id,
           source || '.example.com' AS host,
           '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) AS path,
           CAST(doc_id % 10 AS VARCHAR) AS ref,
           lang AS reg_domain_label
    FROM documents
    WHERE doc_id < 2000
    ORDER BY doc_id
    """,
)
def d31_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-URL normalization: deterministic URLs are BUILT from document
    metadata (source, lang, doc_id), then decomposed with ``parse_url``
    (HOST, PATH, a QUERY parameter). The oracle reconstructs each
    component directly from the base columns, so the build→parse
    round-trip certifies Spark's URL decomposition — a parser that
    swallows the query string or mis-splits the path diverges. The
    trailing column re-derives the path's language label with
    regexp_extract (the per-language routing key a crawl pipeline
    partitions on), pinning regex group extraction on the same hash.

    Scale shape: map-only codegen'd string work — the normalize step that
    precedes host-level dedup (d29) and per-domain token budgets (d34) in
    a crawl pipeline."""
    d = catalog(spark, sf_dir).documents.where(F.col("doc_id") < 2000)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref="),
        (F.col("doc_id") % 10).cast("string"),
    )
    with_url = d.select("doc_id", url.alias("url"))
    return with_url.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref"),
        F.regexp_extract(
            F.parse_url("url", F.lit("PATH")), r"^/([a-z]+)/", 1
        ).alias("reg_domain_label"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D31 (cont.) — directional n-gram containment (doc-inside-doc detection)
# [round-6 wave 3]
# --------------------------------------------------------------------------
CONT_N = 5        # word-gram width (same tokenization as d29_decontaminate)
CONT_DFMAX = 5    # grams in more docs than this are "stopword shingles"
# integer threshold: keep a pair iff 2*shared >= n_rare on EITHER side
# (containment >= 0.5 in at least one direction) — no float comparison.


@register(
    "d31_containment",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(trim(
               regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(w, i, i + {CONT_N - 1}), ' ') AS g
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, len(w) - {CONT_N - 1})) AS i
            FROM tok)
    ),
    df AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
    rare AS (SELECT doc_id, g FROM grams JOIN df USING (g)
             WHERE df <= {CONT_DFMAX}),
    nr AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM rare a JOIN rare b USING (g)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared,
           ROUND(shared / CAST(na.n AS DOUBLE), 4) AS cont_a,
           ROUND(shared / CAST(nb.n AS DOUBLE), 4) AS cont_b
    FROM p
    JOIN nr na ON p.doc_a = na.doc_id
    JOIN nr nb ON p.doc_b = nb.doc_id
    WHERE 2 * shared >= na.n OR 2 * shared >= nb.n
    ORDER BY doc_a, doc_b
    """,
)
def d31_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment |rare(A) ∩ rare(B)| / |rare(A)| — the
    asymmetric cousin of Jaccard that catches a small document EMBEDDED in
    a larger one (quote farms, boilerplate wrappers), which symmetric
    similarity dilutes away. The gram universe is df-bounded: shingles in
    more than CONT_DFMAX docs are stopword phrases that both poison the
    measure and create quadratic join fanout, so they are excluded BEFORE
    the pair join — the candidate generator and the measure share one
    universe, making the score exact over it.

    Scale shape (100 TB): grams travel as xxhash64 LONGS; the df filter
    caps per-gram fanout at CONT_DFMAX^2 pairs, so the self-join is
    linear in gram count with a hard constant, never all-pairs; the pair
    aggregate carries (two ids, one count). The >=0.5 gate compares
    2*shared to integer denominators — no float threshold can disagree
    between engines. Same two-sided-count shape as the MinHash banding in
    d29 (dedup.py) but EXACT over the rare-gram universe."""
    from conceptnetwork_spark.catalog import ensure_parallelism
    from conceptnetwork_spark.operators.dedup import shingles

    # fan the doc scan out first: interpreted-HOF shingling on the single
    # local file partition would otherwise serialize the whole pipeline
    # (no-op at scale where the scan already has thousands of splits)
    d = ensure_parallelism(catalog(spark, sf_dir).documents)
    grams = (
        d.select(
            "doc_id", F.explode(shingles(F.col("text"), CONT_N)).alias("g")
        )
        .select("doc_id", F.xxhash64("g").alias("gh"))
        .distinct()
    )
    df_counts = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("df"))
    rare = grams.join(
        df_counts.where(F.col("df") <= CONT_DFMAX).select("gh"), "gh"
    )
    # recompute accounting: the per-doc denominator travels WITH each gram
    # row (one doc_id-keyed window count) instead of as a separate
    # aggregate joined back per side — that collapses four consumers of
    # the rare-gram relation (pair side a, pair side b, na, nb) down to
    # the two identical self-join sides, which canonicalize to ONE shared
    # exchange (ReuseExchange), so the expensive scan+shingle+distinct
    # pass runs once per action, not four times (before/after plans:
    # plans/r12/d31_containment_{before,after}.txt — 16 parquet scans →
    # 2 reused). Corpus-sized gram relations are still NEVER cached
    # (at 100 TB they exceed cluster memory); this is pure plan sharing.
    wd = Window.partitionBy("doc_id")
    rn = rare.select(
        "doc_id", "gh", F.count(F.lit(1)).over(wd).alias("n")
    )
    a = rn.select(
        F.col("doc_id").alias("doc_a"), "gh", F.col("n").alias("n_a")
    )
    b = rn.select(
        F.col("doc_id").alias("doc_b"), "gh", F.col("n").alias("n_b")
    )
    pairs = (
        a.join(b, "gh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs
        .where(
            (2 * F.col("shared") >= F.col("n_a"))
            | (2 * F.col("shared") >= F.col("n_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.round(F.col("shared") / F.col("n_a").cast("double"), 4).alias(
                "cont_a"
            ),
            F.round(F.col("shared") / F.col("n_b").cast("double"), 4).alias(
                "cont_b"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# D31z — Laplace-smoothed bigram-LM scoring (round 6, wave 6): the
# conditional upgrade of d31_unigram_logprob — mean ln P(w2|w1) per doc
# under the corpus's own bigram model
# --------------------------------------------------------------------------
@register(
    "d31_bigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
               AS t
      FROM documents
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v
      FROM (SELECT unnest(t) AS term FROM toks)
    ),
    grams AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
      FROM toks, unnest(range(1, len(t))) AS u(i)
    ),
    dg AS (
      SELECT doc_id, bigram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2
    ),
    cb AS (
      SELECT bigram, SUM(cnt) AS c_bg,
             string_split(bigram, ' ')[1] AS w1
      FROM dg GROUP BY bigram
    ),
    cp AS (
      SELECT w1, SUM(c_bg) AS c_prefix FROM cb GROUP BY w1
    )
    SELECT dg.doc_id,
           CAST(SUM(dg.cnt) AS BIGINT) AS n_bigrams,
           ROUND(SUM(dg.cnt * ln((cb.c_bg + 1.0) / (cp.c_prefix + vocab.v)))
                 / SUM(dg.cnt), 4) AS avg_logprob
    FROM dg JOIN cb USING (bigram) JOIN cp USING (w1) CROSS JOIN vocab
    GROUP BY dg.doc_id ORDER BY dg.doc_id
    """,
)
def d31_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean CONDITIONAL bigram log-probability per document, ln P(w2|w1) =
    ln((c(w1 w2)+1) / (c(w1 ·)+V)), Laplace-smoothed over the corpus's own
    bigram counts with V = corpus vocabulary size. Where
    d31_unigram_logprob scores token rarity, this scores SEQUENCE
    plausibility — shuffled or template-stitched text keeps its unigram
    score but collapses here, which is why perplexity-style filters are
    conditional. Single-token documents have no bigrams and drop out in
    both engines.

    Scale shape (100 TB): doc bigrams come from one map-side zip of the
    token array with its own tail (no self-join on position); the
    (doc, bigram) aggregate is the big shuffle (map-side combine, same
    cardinality as d31_tfidf's tf) and is PERSISTED — it feeds the corpus
    bigram table, the prefix table, and the final join, and without the
    persist Catalyst re-tokenizes the corpus once per consumer. Text is
    therefore tokenized exactly twice (bigram pass + vocab pass). dg⋈cb
    on bigram is the large-large join (AQE splits head-bigram skew), cp
    and the 1-row V ride broadcast. Everything downstream of tokenization
    is count arithmetic; text never shuffles (same narrow-tables-only
    persistence policy as d29_minhash_near_dup)."""
    from pyspark import StorageLevel

    d = catalog(spark, sf_dir).documents
    t = d.select("doc_id", _toks(F.col("text")).alias("t"))
    n = F.size("t")
    bg = t.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("t", 1, n - 1),
                F.slice("t", 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    dg = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    # prefix denominator attached at the BIGRAM level (r12 optimization,
    # guide §2.3 — shuffle fewer bytes): the old plan joined cp onto the
    # doc-level dg⋈cb relation, re-shuffling every (doc, bigram) row by w1;
    # a w1-keyed window over the vocab-sized cb table carries c_prefix onto
    # each bigram row instead, so the only doc-level shuffles left are the
    # bigram join key and the final doc_id aggregate. Counts are longs —
    # integer sums are order-free, results bit-identical.
    cb = (
        dg.groupBy("bigram")
        .agg(F.sum("cnt").alias("c_bg"))
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .withColumn("c_prefix", F.sum("c_bg").over(Window.partitionBy("w1")))
    )
    vocab = (
        t.select(F.explode("t").alias("term"))
        .agg(F.countDistinct("term").alias("v"))
    )
    return (
        dg.join(cb.select("bigram", "c_bg", "c_prefix"), "bigram")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.col("cnt")
                    * F.log(
                        (F.col("c_bg") + 1.0)
                        / (F.col("c_prefix") + F.col("v"))
                    )
                )
                / F.sum("cnt"),
                4,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D31 extension — readability + lexical-richness scoring
# --------------------------------------------------------------------------
@register(
    "d31_readability",
    # syllable convention: vowel-group count over the lowered text, floored
    # at the word count (every word carries >= 1 syllable) — the classic
    # cheap estimator, applied identically on both engines
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
               AS n_words,
             CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+')))
               AS BIGINT) AS n_types,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS vgroups
      FROM documents
    )
    SELECT doc_id, n_words, n_types, n_sentences,
           CAST(greatest(vgroups, n_words) AS BIGINT) AS n_syllables,
           ROUND(CASE WHEN n_words > 0
                      THEN n_types * 1.0 / n_words END, 4) AS ttr,
           ROUND(CASE WHEN n_words > 0
                      THEN 206.835
                           - 1.015 * (n_words * 1.0 / n_sentences)
                           - 84.6 * (greatest(vgroups, n_words) * 1.0
                                     / n_words)
                 END, 4) AS flesch
    FROM f ORDER BY doc_id
    """,
)
def d31_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability + lexical-richness profiling: Flesch reading ease from
    the classic cheap estimators (sentences = terminal-punctuation runs,
    syllables = vowel groups floored at one per word) plus the type-token
    ratio (distinct words / words — vocabulary richness, a standard
    quality-filter feature next to d31_quality_score's surface ratios and
    d31_repetition's duplication fractions). Every count is a regexp or
    array expression, so the whole scorer is one codegen'd map-only
    projection — the same shape the Gopher/C4 rule stack runs at corpus
    scale; no UDF, no shuffle. TTR uses array_distinct on the in-row token
    array: per-document distinctness never leaves the task."""
    d = catalog(spark, sf_dir).documents
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
    n_words = F.size(words).cast("long")
    n_types = F.size(F.array_distinct(words)).cast("long")
    n_sentences = F.greatest(
        F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)
    ).cast("long")
    vgroups = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")).cast(
        "long"
    )
    f = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_types.alias("n_types"),
        n_sentences.alias("n_sentences"),
        vgroups.alias("vgroups"),
    )
    syl = F.greatest(F.col("vgroups"), F.col("n_words"))
    return f.select(
        "doc_id",
        "n_words",
        "n_types",
        "n_sentences",
        syl.cast("long").alias("n_syllables"),
        F.round(
            F.when(
                F.col("n_words") > 0,
                F.col("n_types") * F.lit(1.0) / F.col("n_words"),
            ),
            4,
        ).alias("ttr"),
        F.round(
            F.when(
                F.col("n_words") > 0,
                F.lit(206.835)
                - F.lit(1.015)
                * (F.col("n_words") * F.lit(1.0) / F.col("n_sentences"))
                - F.lit(84.6) * (syl * F.lit(1.0) / F.col("n_words")),
            ),
            4,
        ).alias("flesch"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D31 extension — Zipf-law fit: the corpus-health diagnostic (natural text
# follows rank^-s with s ~ 1; templated/spammy corpora bend the curve)
# --------------------------------------------------------------------------
ZIPF_TOP = 100


@register(
    "d31_zipf_fit",
    # ln() is libm (1-ulp divergence across engines), so both log columns
    # are rounded to 8 decimals and fixed as DECIMAL(18,8) BEFORE the
    # moment sums — exact, order-independent arithmetic from there on
    oracle=f"""
    WITH words AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ), vocab AS (
      SELECT w, COUNT(*) AS c FROM words GROUP BY w
      ORDER BY c DESC, w LIMIT {ZIPF_TOP}
    ), ranked AS (
      SELECT CAST(ROUND(ln(ROW_NUMBER() OVER (ORDER BY c DESC, w)), 8)
                  AS DECIMAL(18,8)) AS lx,
             CAST(ROUND(ln(c), 8) AS DECIMAL(18,8)) AS ly
      FROM vocab
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(lx) AS sx, SUM(ly) AS sy,
             SUM(lx * lx) AS sxx, SUM(lx * ly) AS sxy, SUM(ly * ly) AS syy
      FROM ranked
    )
    SELECT n,
           ROUND(CAST((n * sxy - sx * sy) AS DOUBLE)
                 / CAST((n * sxx - sx * sx) AS DOUBLE), 4) AS zipf_slope,
           ROUND(CAST((n * sxy - sx * sy) AS DOUBLE)
                 * CAST((n * sxy - sx * sy) AS DOUBLE)
                 / (CAST((n * sxx - sx * sx) AS DOUBLE)
                    * CAST((n * syy - sy * sy) AS DOUBLE)), 4) AS r2
    FROM s ORDER BY n
    """,
)
def d31_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: log-log OLS of frequency
    against rank for the top-{ZIPF_TOP} words — natural language sits near
    slope -1 with high R², while boilerplate-heavy or synthetic corpora
    flatten or kink the curve, making this a one-row corpus-quality
    diagnostic next to d31_vocab_topk (which surfaces the words
    themselves). Both log columns round to 8 decimals and become DECIMAL
    before the moment sums, so the regression arithmetic is bit-exact and
    order-independent on both engines (the libm-divergence defense).

    Scale shape: one tokenize+count aggregate (map-side combined), a
    top-100 TakeOrdered, and a 100-row fit — the vocabulary table is the
    only shuffle at any corpus size."""
    d = catalog(spark, sf_dir).documents
    words = d.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(ZIPF_TOP)
    )
    w_rank = Window.orderBy(F.desc("c"), "w")
    ranked = vocab.select(
        F.round(F.log(F.row_number().over(w_rank)), 8)
        .cast("decimal(18,8)")
        .alias("lx"),
        F.round(F.log("c"), 8).cast("decimal(18,8)").alias("ly"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "n",
        F.round(num / den, 4).alias("zipf_slope"),
        F.round(num * num / (den * deny), 4).alias("r2"),
    ).orderBy("n")


# --------------------------------------------------------------------------
# D31 extension (round 7) — PII scrubbing (emails / phones / names), the
# redaction pass every LLM training corpus runs before anything else
# --------------------------------------------------------------------------
PII_EMAIL_RE = r"[a-z0-9.]+@[a-z]+\.[a-z]+"
PII_PHONE_RE = r"555-[0-9]{4}"
PII_NAME_RE = r"Customer#[0-9]+"


@register(
    "d31_pii_scrub",
    oracle=f"""
    WITH t AS (
      SELECT o.o_orderkey,
             'Contact ' || c.c_name || ' at 555-' ||
             lpad(CAST(o.o_custkey % 10000 AS VARCHAR), 4, '0') || ' or ' ||
             lower(replace(c.c_name, '#', '.')) ||
             '@example.com about order ' ||
             CAST(o.o_orderkey AS VARCHAR) || '.' AS ticket
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderkey < 2000
    )
    SELECT o_orderkey,
           CAST(len(regexp_extract_all(ticket, '{PII_EMAIL_RE}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(ticket, '{PII_PHONE_RE}')) AS INT)
             AS n_phones,
           CAST(len(regexp_extract_all(ticket, '{PII_NAME_RE}')) AS INT)
             AS n_names,
           regexp_replace(regexp_replace(regexp_replace(ticket,
             '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_PHONE_RE}', '<PHONE>', 'g'),
             '{PII_NAME_RE}', '<NAME>', 'g') AS redacted
    FROM t ORDER BY o_orderkey
    """,
)
def d31_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over synthesized support-ticket text (name, callback
    number, and email are TEMPLATED from keys so both engines construct
    byte-identical input — the same self-certifying construction as
    d34_chat_template): count then replace emails, phone numbers, and
    account names with typed placeholders, scrub order chosen so the
    email pattern (which embeds a lowercased name) is consumed before
    the name pattern runs. Complements d31_pii_redact (which certifies
    counts/lengths over the PII-free documents corpus): here the corpus
    actually CONTAINS every entity class and the full redacted rendering
    is on the hash, so placeholder placement itself is certified. The counts + redacted rendering are both on
    the hash, so a regex that under- or over-matches fails loudly.
    Patterns stay in the Java/RE2 common subset d17_regexp_battery pins
    (DuckDB regexp_replace needs the explicit 'g' flag; Spark replaces
    all matches by default).

    Scale shape (100 TB): customer dim broadcasts into the fact join;
    templating, counting, and the three chained replaces are all
    codegen'd map-side string expressions — one pass, no Python, no
    shuffle beyond the broadcast join probe."""
    c = catalog(spark, sf_dir)
    t = (
        c.orders.where(F.col("o_orderkey") < 2000)
        .join(
            F.broadcast(c.customer.select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "o_orderkey",
            F.concat(
                F.lit("Contact "),
                F.col("c_name"),
                F.lit(" at 555-"),
                F.lpad((F.col("o_custkey") % 10000).cast("string"), 4, "0"),
                F.lit(" or "),
                F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
                F.lit("@example.com about order "),
                F.col("o_orderkey").cast("string"),
                F.lit("."),
            ).alias("ticket"),
        )
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("ticket", PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_NAME_RE,
        "<NAME>",
    )
    return t.select(
        "o_orderkey",
        F.size(F.regexp_extract_all("ticket", F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("ticket", F.lit(PII_PHONE_RE), F.lit(0)))
        .cast("int")
        .alias("n_phones"),
        F.size(F.regexp_extract_all("ticket", F.lit(PII_NAME_RE), F.lit(0)))
        .cast("int")
        .alias("n_names"),
        redacted.alias("redacted"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# D34 companion (round 7) — tokenizer vocabulary coverage / OOV rate: the
# decision input for choosing vocab size before training a tokenizer
# --------------------------------------------------------------------------
COVERAGE_VOCAB_K = 20


@register(
    "d34_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, unnest(string_split(lower(trim(
               regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
      FROM documents
    ), vocab AS (
      SELECT term FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rk
        FROM tok GROUP BY term
      ) WHERE rk <= {COVERAGE_VOCAB_K}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           ROUND(SUM(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS coverage,
           CAST(COUNT(DISTINCT CASE WHEN v.term IS NULL THEN t.term END)
                AS BIGINT) AS n_oov_types
    FROM tok t LEFT JOIN vocab v USING (term)
    GROUP BY source ORDER BY source
    """,
)
def d34_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV audit per corpus source: with the global
    top-K term vocabulary, what fraction of each source's token
    OCCURRENCES is covered, how many occurrences and distinct TYPES fall
    out-of-vocabulary — the curve you walk (K vs coverage) to size a
    tokenizer's vocab, and the per-source breakdown that flags a domain
    the vocab underserves before training does. Same whitespace
    tokenization as d31_vocab_topk, so the two queries compose.

    Scale shape (100 TB): token explode is map-side; the vocabulary is
    top-K of a partial+final term count (TakeOrdered, never a global
    sort) and joins BROADCAST back onto the token stream; per-source
    stats are one more partial+final agg. Two passes over tokens, zero
    over text."""
    d = catalog(spark, sf_dir).documents
    tok = d.select(
        "source",
        F.explode(
            F.split(
                F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " "
            )
        ).alias("term"),
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(COVERAGE_VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("coverage"),
            F.countDistinct(
                F.when(F.col("in_vocab").isNull(), F.col("term"))
            )
            .cast("long")
            .alias("n_oov_types"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# D31 extension (round 9) — CCNet-style perplexity bucketing: head/middle/
# tail terciles of LM cross-entropy, per language
# --------------------------------------------------------------------------
@register(
    "d31_perplexity_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
               AS t
      FROM documents
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v
      FROM (SELECT unnest(t) AS term FROM toks)
    ),
    grams AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
      FROM toks, unnest(range(1, len(t))) AS u(i)
    ),
    dg AS (
      SELECT doc_id, bigram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2
    ),
    cb AS (
      SELECT bigram, SUM(cnt) AS c_bg,
             string_split(bigram, ' ')[1] AS w1
      FROM dg GROUP BY bigram
    ),
    cp AS (
      SELECT w1, SUM(c_bg) AS c_prefix FROM cb GROUP BY w1
    ),
    scored AS (
      SELECT dg.doc_id,
             -ROUND(SUM(dg.cnt * ln((cb.c_bg + 1.0) / (cp.c_prefix + vocab.v)))
                    / SUM(dg.cnt), 4) AS ce
      FROM dg JOIN cb USING (bigram) JOIN cp USING (w1) CROSS JOIN vocab
      GROUP BY dg.doc_id
    ),
    bucketed AS (
      SELECT d.lang, s.ce,
             NTILE(3) OVER (PARTITION BY d.lang ORDER BY s.ce, s.doc_id)
               AS tercile
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(ROUND(SUM(CAST(ce AS DECIMAL(18,4))) / COUNT(*), 4)
                AS DOUBLE) AS avg_ce
    FROM bucketed GROUP BY lang, tercile
    ORDER BY lang, bucket
    """,
)
def d31_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: every document is scored by its
    cross-entropy under the corpus's own Laplace-smoothed bigram LM (the
    d31_bigram_logprob model, negated), then split per LANGUAGE into
    head / middle / tail terciles of that score. Web-scale pipelines keep
    the head, re-weight the middle, and drop or re-judge the tail — the
    bucket boundary per language (not global) is the part naive filters
    get wrong, since languages have different baseline entropies. Ties
    break on (ce, doc_id) so the tercile assignment is deterministic.

    Scale shape (100 TB): the LM scoring reuses d31_bigram_logprob's plan
    wholesale (one persisted (doc,bigram) aggregate feeding model + join;
    text never shuffles). On top of that: the per-doc score table (one
    row per doc) joins the lang column, a per-lang NTILE partitions ONLY
    doc-count-sized data, and per-doc ce is fixed to 4 decimals before
    the DECIMAL tercile sums so the aggregate is summation-order-free.
    Single-token docs have no bigrams and drop out in both engines."""
    lp = d31_bigram_logprob(spark, sf_dir)
    d = catalog(spark, sf_dir).documents.select("doc_id", "lang")
    scored = lp.select("doc_id", (-F.col("avg_logprob")).alias("ce")).join(
        d, "doc_id"
    )
    w = Window.partitionBy("lang").orderBy("ce", "doc_id")
    return (
        scored.withColumn("tercile", F.ntile(3).over(w))
        .groupBy("lang", "tercile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (
                F.round(
                    F.sum(F.col("ce").cast("decimal(18,4)"))
                    / F.count(F.lit(1)),
                    4,
                )
            )
            .cast("double")
            .alias("avg_ce"),
        )
        .select(
            "lang",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "avg_ce",
        )
        .orderBy("lang", "bucket")
    )


# --------------------------------------------------------------------------
# D31 (cont., round 11) — PMI collocations (corpus-level bigram association)
# --------------------------------------------------------------------------
PMI_MIN_COUNT = 5  # bigrams rarer than this have unstable PMI
PMI_TOPK = 20


@register(
    "d31_pmi_collocations",
    # pmi = ln( (c12 / NB) / ((c1/NT) * (c2/NT)) ) with NT total tokens,
    # NB total bigrams; ROUND before ranking so the top-k cut is
    # engine-independent (w1, w2 tiebreak)
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                          ' ') AS toks
      FROM documents
    ), tok AS (
      SELECT doc_id, i AS pos, toks[i] AS word
      FROM w, LATERAL unnest(generate_series(1, len(toks))) AS t(i)
    ), uni AS (
      SELECT word, COUNT(*) AS c FROM tok GROUP BY word
    ), nt AS (SELECT SUM(c) AS n_tok FROM uni),
    big AS (
      SELECT a.word AS w1, b.word AS w2, COUNT(*) AS c12
      FROM tok a JOIN tok b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY a.word, b.word
      HAVING COUNT(*) >= {PMI_MIN_COUNT}
    ), nb AS (SELECT SUM(c12) AS n_big FROM (
      SELECT a.word, COUNT(*) AS c12
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY a.word) ),
    scored AS (
      SELECT w1, w2, c12,
             ROUND(ln((c12 * 1.0 / n_big)
                      / ((u1.c * 1.0 / n_tok) * (u2.c * 1.0 / n_tok))), 4)
               AS pmi
      FROM big, nt, nb
      JOIN uni u1 ON u1.word = big.w1
      JOIN uni u2 ON u2.word = big.w2
    )
    SELECT w1, w2, CAST(c12 AS BIGINT) AS n_pair, pmi FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rk
      FROM scored
    ) WHERE rk <= {PMI_TOPK}
    ORDER BY pmi DESC, w1, w2
    """,
)
def d31_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top pointwise-mutual-information bigram collocations — the classic
    corpus-association mining pass (Church & Hanks 1990): word pairs that
    co-occur adjacently far more than their unigram frequencies predict
    (named entities, fixed phrases). PMI is rounded BEFORE the top-k rank
    with a (w1, w2) tiebreak so the cut is engine-independent; bigrams
    below PMI_MIN_COUNT are dropped (rare-pair PMI is noise — the
    standard guard).

    Scale shape (100 TB): bigrams are built MAP-SIDE by zipping the token
    array with its own tail (transform over indices — no positional
    self-join; the oracle's join is the SQL spelling of the same zip);
    unigram and bigram counts are two partial+final hash aggs keyed on
    words (Zipf skew absorbed map-side by the partial agg); the PMI join
    attaches two unigram counts to the AGGREGATED bigram relation —
    vocabulary-sized, not corpus-sized — and the top-k is a TakeOrdered
    over scored vocabulary pairs. Corpus text shuffles zero times."""
    d = catalog(spark, sf_dir).documents
    toks = _toks(F.col("text"))
    base = d.select("doc_id", toks.alias("toks"))
    tok = base.select(F.explode("toks").alias("word"))
    # NOTE (r12, measured): lazy localCheckpoints on uni and big_all
    # (vocabulary-sized, multi-consumer) probed SLOWER (1.41 s -> 1.59 s
    # min-of-5 noop at sf0.1) — the duplicated tokenize passes overlap on
    # idle cores, the cuts serialize the stage graph. Left uncut.
    uni = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    pairs = base.select(
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("w1"),
                        F.element_at(F.col("toks"), i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    big_all = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    nt = uni.agg(F.sum("c").alias("n_tok"))
    nb = big_all.agg(F.sum("c12").alias("n_big"))
    big = big_all.where(F.col("c12") >= PMI_MIN_COUNT)
    scored = (
        big.join(uni.select(F.col("word").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("word").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1", "w2", "c12",
            F.round(
                F.log(
                    (F.col("c12") / F.col("n_big"))
                    / ((F.col("c1") / F.col("n_tok"))
                       * (F.col("c2") / F.col("n_tok")))
                ),
                4,
            ).alias("pmi"),
        )
    )
    # TakeOrdered top-k (orderBy+limit), NOT a global row_number window —
    # the window form would single-partition the scored relation; the
    # deterministic (pmi desc, w1, w2) order makes both cuts identical
    return (
        scored.select(
            "w1", "w2", F.col("c12").cast("long").alias("n_pair"), "pmi"
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOPK)
    )


# --------------------------------------------------------------------------
# D31 (cont., round 11) — Heaps'-law vocabulary growth fit per source
# --------------------------------------------------------------------------
HEAPS_CKPTS = 100  # corpus-prefix checkpoints the growth curve is fit on


@register(
    "d31_heaps_law",
    # cumulative vocabulary at CHECKPOINT granularity: each word
    # contributes one "new" event at its FIRST doc (per source), each doc
    # contributes its token count; both collapse to per-bucket hash aggs
    # and the cumulative/OLS run over <= HEAPS_CKPTS rows per source.
    # ln V = ln K + beta * ln T fit by closed-form least squares.
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                          ' ') AS toks
      FROM documents
    ), mx AS (SELECT MAX(doc_id) AS mxd FROM w),
    tok AS (
      SELECT source, doc_id, unnest(toks) AS word FROM w
    ), firsts AS (
      SELECT source, word, MIN(doc_id) AS fdoc FROM tok GROUP BY source, word
    ), newb AS (
      SELECT source, (fdoc * {HEAPS_CKPTS}) // (mxd + 1) AS b,
             COUNT(*) AS nv
      FROM firsts, mx GROUP BY source, b
    ), tokb AS (
      SELECT source, (doc_id * {HEAPS_CKPTS}) // (mxd + 1) AS b,
             COUNT(*) AS nt
      FROM tok, mx GROUP BY source, b
    ), ck AS (
      SELECT source, b,
             SUM(COALESCE(nt, 0)) OVER (PARTITION BY source ORDER BY b)
               AS cum_t,
             SUM(COALESCE(nv, 0)) OVER (PARTITION BY source ORDER BY b)
               AS cum_v
      FROM tokb LEFT JOIN newb USING (source, b)
    ), pts AS (
      SELECT source, ln(CAST(cum_t AS DOUBLE)) AS x,
             ln(CAST(cum_v AS DOUBLE)) AS y
      FROM ck WHERE cum_t > 0 AND cum_v > 0
    ), m AS (
      SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts GROUP BY source
    ), tot AS (
      SELECT source, COUNT(*) AS total_tokens,
             COUNT(DISTINCT word) AS vocab
      FROM tok GROUP BY source
    )
    SELECT m.source,
           CAST(tot.total_tokens AS BIGINT) AS total_tokens,
           CAST(tot.vocab AS BIGINT) AS vocab,
           -- denominator guard: a source with a single distinct log-log
           -- checkpoint makes n*sxx - sx*sx exactly 0 — ANSI Spark would
           -- raise DIVIDE_BY_ZERO where DuckDB yields NULL, so both
           -- engines guard explicitly; + 0.0 normalizes IEEE -0.0 (a
           -- tiny negative slope rounds to -0.0 in DuckDB, +0.0 in Spark)
           CASE WHEN (n * sxx - sx * sx) > 0 THEN
             ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0
           END AS heaps_beta,
           CASE WHEN (n * sxx - sx * sx) > 0 THEN
             ROUND(exp((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                       / n), 4) + 0.0
           END AS heaps_k
    FROM m JOIN tot ON m.source = tot.source
    ORDER BY m.source
    """,
)
def d31_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth per source: V(T) ~ K * T^beta,
    estimated by closed-form log-log least squares over corpus-prefix
    checkpoints — the sublinearity audit that says whether a source keeps
    contributing new vocabulary as it grows (beta near 1 = unsaturated /
    high-entropy; small beta = repetitive) and sizes tokenizer vocab
    budgets. Companion to d31_zipf_fit (rank-frequency) — Heaps and Zipf
    are the two classic corpus growth laws.

    Scale shape (100 TB): the naive form (running distinct over the doc
    sequence) would drag a corpus-sized series through one partition per
    source. Instead BOTH curves collapse to checkpoint granularity
    FIRST: a word's vocabulary contribution is one event at its FIRST
    doc (min-doc_id hash agg — the d14_running_distinct rewrite), token
    mass is a per-bucket count, so the cumulative windows and the OLS
    see <= HEAPS_CKPTS rows per source. Two corpus-sized hash
    aggregates, zero corpus-sized windows."""
    d = catalog(spark, sf_dir).documents
    toks = _toks(F.col("text"))
    base = d.select("doc_id", "source", toks.alias("toks"))
    mxd = base.agg(F.max("doc_id").alias("mxd"))
    tok = base.select(
        "source", "doc_id", F.explode("toks").alias("word")
    )
    firsts = tok.groupBy("source", "word").agg(F.min("doc_id").alias("fdoc"))
    # both bucket tables are <= HEAPS_CKPTS rows per source and are each
    # consumed twice (cumulative join + the totals below) — lazy cuts so
    # the corpus-sized pipelines behind them run exactly once
    newb = (
        firsts.crossJoin(F.broadcast(mxd))
        .groupBy(
            "source",
            F.expr(f"(fdoc * {HEAPS_CKPTS}) div (mxd + 1)").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("nv"))
        .transform(lineage_cut)
    )
    # token mass per bucket needs only per-doc token COUNTS — F.size on
    # the token array, no explode: one corpus pass of array lengths
    # instead of re-exploding every token (bit-identical: explode emits
    # exactly size(toks) rows per doc, and the buckets partition all docs)
    tokb = (
        base.select("source", "doc_id", F.size("toks").alias("k"))
        .crossJoin(F.broadcast(mxd))
        .groupBy(
            "source",
            F.expr(f"(doc_id * {HEAPS_CKPTS}) div (mxd + 1)").alias("b"),
        )
        .agg(F.sum("k").cast("long").alias("nt"))
        .transform(lineage_cut)
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ck = (
        tokb.join(newb, ["source", "b"], "left")
        .select(
            "source",
            "b",
            F.sum(F.coalesce("nt", F.lit(0))).over(w_cum).alias("cum_t"),
            F.sum(F.coalesce("nv", F.lit(0))).over(w_cum).alias("cum_v"),
        )
    )
    pts = ck.where((F.col("cum_t") > 0) & (F.col("cum_v") > 0)).select(
        "source",
        F.log(F.col("cum_t").cast("double")).alias("x"),
        F.log(F.col("cum_v").cast("double")).alias("y"),
    )
    m = pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # totals are the bucket sums (buckets partition all docs, a word's
    # first doc lands in exactly one bucket): total_tokens = sum(nt),
    # vocab = sum(nv) — integer-exact, and the third corpus tokenize
    # pass plus its countDistinct shuffle disappear
    tot = tokb.groupBy("source").agg(
        F.sum("nt").cast("long").alias("total_tokens")
    ).join(
        newb.groupBy("source").agg(F.sum("nv").cast("long").alias("vocab")),
        "source",
    )
    # guarded like the oracle: denom = 0 (single distinct checkpoint)
    # yields NULL instead of an ANSI DIVIDE_BY_ZERO; + 0.0 normalizes
    # IEEE negative zero to match the driver's stringified hash
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    return (
        m.join(tot, "source")
        .select(
            "source",
            "total_tokens",
            "vocab",
            F.when(denom > 0, F.round(beta, 4) + F.lit(0.0)).alias(
                "heaps_beta"
            ),
            F.when(
                denom > 0,
                F.round(
                    F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 4
                )
                + F.lit(0.0),
            ).alias("heaps_k"),
        )
        .orderBy("source")
    )
