"""MLlib pipeline surface (SURVEY §2.2 D33; reference M1-M6 faithful).

The reference's model stack — per-concept ``inference`` subgraphs composed
by a Network with mode-dispatched fit/evaluate/predict
(``conceptnetwork/network.py:102-163``) and an Estimator driver
(``examples/train.py:18-31``) — maps onto ``pyspark.ml``:

  Concept.inference      -> VectorAssembler / feature Transformer stage
  Network.inference      -> model stage (LinearRegression here)
  Network.loss (M3: MSE) -> RegressionEvaluator(metricName='mse')
  build_model_fn dispatch-> Pipeline.fit / Model.transform / Evaluator
  model_dir save/restore -> PipelineModel.save / .load (R3 checkpoint hook)

The declared query is deterministic: OLS with the 'normal' solver is the
closed-form normal-equations solution, so slope/intercept/MSE match DuckDB's
regr_slope/regr_intercept to 4 decimals.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import LinearRegression
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.registry import register
from conceptnetwork_spark.sources.staging import scratch_dir


def build_ols_pipeline(feature_cols: list[str], label_col: str) -> Pipeline:
    """Assembler + exact-OLS LinearRegression (M6 Estimator driver shape)."""
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    lr = LinearRegression(
        featuresCol="features",
        labelCol=label_col,
        solver="normal",  # closed-form normal equations — deterministic
        regParam=0.0,
        standardization=False,
    )
    return Pipeline(stages=[assembler, lr])


def build_nonlinear_pipeline(
    feature_cols: list[str], label_col: str, seed: int = 42, max_iter: int = 20
) -> Pipeline:
    """Nonlinear Network inference (M2 parity): the reference's model is
    dense(100, relu) -> dense(n) (``examples/trainer/networks/
    minimal_network.py:38-43``) — a nonlinear regressor from origin features
    to target features. MLlib ships no MLP *regressor*, so the Spark-first
    equivalent is ``GBTRegressor``: seeded-deterministic, distributed fit,
    ``save``/``load`` (R3 checkpoint hook) — same Pipeline surface as the
    linear stage, swapped via ``build_pipeline(model=...)``."""
    from pyspark.ml.regression import GBTRegressor

    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    gbt = GBTRegressor(
        featuresCol="features",
        labelCol=label_col,
        seed=seed,
        maxIter=max_iter,
        maxDepth=3,
        stepSize=0.1,
        subsamplingRate=1.0,  # no row sampling -> deterministic given seed
    )
    return Pipeline(stages=[assembler, gbt])


def build_pipeline(
    feature_cols: list[str],
    label_col: str,
    model: str = "linear",
    seed: int = 42,
    max_iter: int = 20,
) -> Pipeline:
    """Model-stage dispatch behind one surface (M2/M6): 'linear' is the
    closed-form OLS stage, 'gbt' the nonlinear stage."""
    if model == "linear":
        return build_ols_pipeline(feature_cols, label_col)
    if model == "gbt":
        return build_nonlinear_pipeline(
            feature_cols, label_col, seed=seed, max_iter=max_iter
        )
    raise ValueError(f"unknown model {model!r}; expected 'linear' or 'gbt'")


def fit_transform_evaluate(
    df: DataFrame, feature_cols: list[str], label_col: str
) -> tuple[PipelineModel, DataFrame, float]:
    """Mode dispatch (M5): TRAIN -> fit, INFER -> transform, EVAL -> MSE.

    The input is persisted for the duration: fit + transform + evaluate are
    three passes over the same (narrow, pre-projected) data, and re-scanning
    the source each pass is the dominant cost once the projection is a small
    fraction of the table.
    """
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        model = build_ols_pipeline(feature_cols, label_col).fit(df)
        preds = model.transform(df)
        mse = preds.agg(
            F.avg(F.pow(F.col(label_col) - F.col("prediction"), 2)).alias("mse")
        ).collect()[0]["mse"]
    finally:
        df.unpersist()
    return model, preds, mse


@register(
    "d33_ols_mse",
    oracle="""
    WITH fit AS (
      SELECT regr_slope(l_extendedprice, l_quantity)     AS slope,
             regr_intercept(l_extendedprice, l_quantity) AS intercept
      FROM lineitem
    )
    SELECT ROUND(slope, 4) AS slope,
           ROUND(intercept, 4) AS intercept,
           ROUND((SELECT AVG(pow(l_extendedprice - (intercept + slope * l_quantity), 2))
                  FROM lineitem), 4) AS mse
    FROM fit
    """,
)
def d33_ols_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic linear model: fit l_extendedprice ~ l_quantity with
    MLlib's normal-equation solver; oracle recomputes the closed form with
    DuckDB regression aggregates.

    Cheap by construction, round 2 (optimization round; guide §2.3/§8 —
    decide with small rows): the normal equations of y ~ x depend only on
    the sufficient statistics (Σw, Σwx, Σwx², Σy, Σxy), all of which
    survive grouping by x. l_quantity takes 50 distinct values at every
    scale factor, so the corpus collapses map-side to 50 weighted points
    (x, ȳ_x, n_x) in one codegen'd hash aggregate, and the MLlib normal
    solver fits those 50 rows with ``weightCol`` — algebraically the SAME
    minimizer as the 600k-row fit (weighted normal equations expand to the
    raw-row ones), without dragging every row through the RDD[Instance]
    conversion that dominated the old fit (measured 2.0 s warm at sf0.1;
    the grouped fit + residual pass run ~0.6 s). MSE is then ONE codegen'd
    residual aggregate in exactly the oracle's form. The full
    fit->transform->evaluate dispatch surface (M5) stays covered by
    ``fit_transform_evaluate`` in the pytest suite; equivalence of the
    grouped fit is pinned by tests against the raw-row solver."""
    from pyspark.ml.functions import array_to_vector

    li = catalog(spark, sf_dir).lineitem.select("l_quantity", "l_extendedprice")
    g = li.groupBy("l_quantity").agg(
        F.count(F.lit(1)).cast("double").alias("w"),
        F.avg("l_extendedprice").alias("ybar"),
    )
    assembled = g.select(
        array_to_vector(F.array(F.col("l_quantity"))).alias("features"),
        "ybar",
        "w",
    )
    lrm = LinearRegression(
        featuresCol="features",
        labelCol="ybar",
        weightCol="w",
        solver="normal",
        regParam=0.0,
        standardization=False,
    ).fit(assembled)
    slope = float(lrm.coefficients[0])
    intercept = float(lrm.intercept)
    mse = li.agg(
        F.avg(
            F.pow(
                F.col("l_extendedprice")
                - (F.lit(intercept) + F.lit(slope) * F.col("l_quantity")),
                2,
            )
        )
    ).collect()[0][0]
    return spark.createDataFrame(
        [(round(slope, 4), round(intercept, 4), round(mse, 4))],
        "slope double, intercept double, mse double",
    )


# --------------------------------------------------------------------------
# D33 extension — nonlinear model stage (M2 parity; non-oracle like D11)
# --------------------------------------------------------------------------
@register("d33_gbt_mse", oracle=None)
def d33_gbt_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded GBT regression of l_extendedprice on (l_quantity, l_discount,
    l_tax): the nonlinear-model half of the M2 surface. No DuckDB oracle
    (tree ensembles are engine-specific, like the D11 sketches); pytest pins
    determinism (two fits agree exactly) and that the nonlinear fit beats
    the linear one on training MSE (that pin lives on the small quadratic
    fixture in tests/test_text_ml.py, which still fits at the full 20
    rounds via build_pipeline's default). This declared query is a TRAINING
    job, not a serve-path query, so it fits on a content-deterministic
    quarter of lineitem (l_orderkey % 4 = 0 — reproducible at any
    partitioning, unlike df.sample) with 8 boosting rounds: the sweep
    previously charged 25.3 s — 6.5% of its wall-clock — to this one seeded
    fit (VERDICT r9 ask #7). At 100 TB the same shape holds: tree fitting
    runs on a bounded deterministic sample, never the full table."""
    li = (
        catalog(spark, sf_dir)
        .lineitem.where(F.col("l_orderkey") % 4 == 0)
        .select("l_quantity", "l_discount", "l_tax", "l_extendedprice")
    )
    model = build_pipeline(
        ["l_quantity", "l_discount", "l_tax"],
        "l_extendedprice",
        model="gbt",
        max_iter=8,
    ).fit(li)
    preds = model.transform(li)
    mse = preds.agg(
        F.avg(F.pow(F.col("l_extendedprice") - F.col("prediction"), 2)).alias("m")
    ).collect()[0]["m"]
    return spark.createDataFrame([(round(float(mse), 4),)], "mse double")


# --------------------------------------------------------------------------
# D33 extension — StringIndexer (learned categorical vocabulary, P4 faithful)
# --------------------------------------------------------------------------
@register(
    "d33_string_indexer",
    oracle="""
    SELECT c_custkey, seg_idx
    FROM customer
    JOIN (
      SELECT c_mktsegment,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, c_mktsegment) - 1 AS seg_idx
      FROM customer GROUP BY c_mktsegment
    ) USING (c_mktsegment)
    ORDER BY c_custkey
    """,
)
def d33_string_indexer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib ``StringIndexer`` on c_mktsegment — the learned-vocabulary form
    of the reference's categorical map P4 (``minimal_concept.py:18-28``,
    GENDER_MAP) where the vocabulary is fit from data instead of hardcoded.
    Deterministic: frequencyDesc order with alphabetic tie-break, which the
    oracle reproduces as ROW_NUMBER() OVER (count DESC, value ASC). The fit
    is one tiny agg over the distinct segments; transform is a broadcast map
    lookup — no shuffle of the fact rows at any scale."""
    from pyspark.ml.feature import StringIndexer

    c = catalog(spark, sf_dir).customer
    idx = StringIndexer(
        inputCol="c_mktsegment", outputCol="seg_idx_d", stringOrderType="frequencyDesc"
    )
    out = idx.fit(c).transform(c)
    return out.select(
        "c_custkey", F.col("seg_idx_d").cast("long").alias("seg_idx")
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# D33 extension — MLP stage (the literal dense-hidden-layer M2 analogue)
# --------------------------------------------------------------------------
@register("d33_mlp_accuracy", oracle=None)
def d33_mlp_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded MultilayerPerceptronClassifier with layers [3, 16, 2] — the
    literal shape of the reference network's dense hidden layer
    (``examples/trainer/networks/minimal_network.py:38-43``: dense(100) →
    dense(n)), here sized to the task: predict whether a customer's balance
    is above the median from (nationkey, acctbal scaled, segment index).
    Non-oracle (NN training is engine-specific); pytest pins seed
    determinism and that training accuracy beats the majority class."""
    from pyspark.ml.classification import MultilayerPerceptronClassifier
    from pyspark.ml.feature import StringIndexer

    c = catalog(spark, sf_dir).customer
    med = c.agg(F.expr("percentile(c_acctbal, 0.5)").alias("m"))
    df = (
        c.join(F.broadcast(med))
        .select(
            F.col("c_nationkey").cast("double").alias("f1"),
            (F.col("c_acctbal") / 10000.0).alias("f2"),
            F.length("c_mktsegment").cast("double").alias("f3"),
            (F.col("c_acctbal") > F.col("m")).cast("double").alias("label"),
        )
    )
    assembler = VectorAssembler(inputCols=["f1", "f2", "f3"], outputCol="features")
    mlp = MultilayerPerceptronClassifier(
        layers=[3, 16, 2], seed=42, maxIter=50, featuresCol="features"
    )
    model = Pipeline(stages=[assembler, mlp]).fit(df)
    preds = model.transform(df)
    acc = preds.agg(
        F.avg((F.col("prediction") == F.col("label")).cast("double")).alias("a")
    ).collect()[0]["a"]
    return spark.createDataFrame([(round(float(acc), 4),)], "accuracy double")


# --------------------------------------------------------------------------
# D33 extension — logistic classifier on the embedding table (the linear
# read-out probe every embedding pipeline trains)
# --------------------------------------------------------------------------
@register("d33_logreg_auc", oracle=None)
def d33_logreg_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded binary logistic regression over the 64-d embedding column:
    predict label==0 vs rest from the raw vectors — the standard 'linear
    probe' that certifies an embedding table is trainable end to end
    (array column -> MLlib vector -> fit -> AUC) without leaving Spark.
    Non-oracle (LBFGS internals are engine-specific); pytest pins seed
    determinism and an AUC floor well above chance.

    Scale shape: array_to_vector is a zero-copy JVM cast (no Python);
    LBFGS aggregates gradients tree-wise per partition — the driver holds
    one 65-float coefficient vector, never data. The readout is a single
    evaluator pass; nothing but the final scalar reaches the driver."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.functions import array_to_vector

    emb = catalog(spark, sf_dir).embeddings
    df = emb.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        ),
        (F.col("label") == 0).cast("double").alias("label"),
    )
    lr = LogisticRegression(maxIter=30, regParam=0.01, standardization=True)
    model = lr.fit(df)
    # Round-trip the model through save/load before scoring: the freshly
    # fitted model pins its TRAINING SUMMARY, which holds a SparkSession
    # reference — task serialization of any downstream job then drags the
    # session (and its non-serializable ObservationManager, populated once
    # any df.observe query has run in the session) into the closure and
    # throws TaskNotSerializable. A loaded model carries no summary, so
    # scoring closures serialize cleanly regardless of session history;
    # the round trip also certifies model persistence on this path.
    from pyspark.ml.classification import LogisticRegressionModel

    path = scratch_dir(spark, "logreg")
    model.write().overwrite().save(path)
    model = LogisticRegressionModel.load(path)
    preds = model.transform(df)
    auc = BinaryClassificationEvaluator(
        rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    ).evaluate(preds)
    return spark.createDataFrame([(round(float(auc), 4),)], "auc double")


# --------------------------------------------------------------------------
# D33 extension — seeded KMeans over the embedding table (the clustering
# stage every curation pipeline runs: topic cells, SemDeDup cells, IVF
# coarse quantizers are all this operator)
# --------------------------------------------------------------------------
@register("d33_kmeans", oracle=None)
def d33_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded MLlib KMeans (k=8, k-means||) over the 64-d embeddings;
    returns clusters as (size_rank, n_points, inertia-share) — rank by
    descending size with centroid-norm tiebreak so the output is invariant
    to MLlib's arbitrary cluster-id assignment. Non-oracle (Lloyd's is
    engine-specific); pytest pins seed determinism (two fits, identical
    output) and a total-inertia ceiling vs the k=1 baseline.

    Scale shape: k-means|| init samples O(k log n) points in a constant
    number of distributed passes (vs k sequential passes for k-means++);
    each Lloyd iteration is one broadcast of k centroids + one map-side
    partial sum per partition — the driver only ever holds k*64 floats.
    This is the same cell structure d30_semantic_dedup and d30_ivf_ann
    build internally; registering it standalone certifies the clustering
    stage in isolation."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = catalog(spark, sf_dir).embeddings
    df = emb.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    km = KMeans(k=8, seed=42, maxIter=20, initMode="k-means||")
    model = km.fit(df)
    preds = model.transform(df)  # adds 'prediction'
    # per-cluster size + within-cluster sum of squares, JVM-side
    import numpy as np

    centers = model.clusterCenters()
    centers_df = F.broadcast(
        preds.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
            "prediction int, center array<double>",
        )
    )
    from pyspark.ml.functions import vector_to_array

    wss = (
        preds.select(
            "prediction", vector_to_array("features").alias("v")
        )
        .join(centers_df, "prediction")
        .select(
            "prediction",
            F.aggregate(
                F.zip_with("v", "center", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("sq"),
        )
        .groupBy("prediction")
        .agg(F.count(F.lit(1)).alias("n_points"), F.sum("sq").alias("wss"))
    )
    norms = {i: float(np.sqrt((np.array(c) ** 2).sum())) for i, c in enumerate(centers)}
    norm_df = F.broadcast(
        preds.sparkSession.createDataFrame(
            [(i, round(n, 6)) for i, n in norms.items()],
            "prediction int, cnorm double",
        )
    )
    w = Window.orderBy(F.desc("n_points"), F.desc("cnorm"))
    return (
        wss.join(norm_df, "prediction")
        .withColumn("size_rank", F.row_number().over(w))
        .select(
            "size_rank",
            "n_points",
            F.round("wss", 2).alias("wss"),
        )
        .orderBy("size_rank")
    )


# --------------------------------------------------------------------------
# D33 extension — StandardScaler with an exact SQL oracle (the rare MLlib
# Estimator whose fit/transform semantics are closed-form checkable)
# --------------------------------------------------------------------------
@register(
    "d33_standard_scaler",
    oracle="""
    WITH s AS (
      SELECT AVG(c_acctbal) AS m1, stddev_samp(c_acctbal) AS s1,
             AVG(c_nationkey) AS m2, stddev_samp(c_nationkey) AS s2,
             AVG(length(c_mktsegment)) AS m3, stddev_samp(length(c_mktsegment)) AS s3
      FROM customer
    )
    SELECT c_custkey,
           -- + 0.0 normalizes IEEE -0.0 (a just-below-mean value rounds
           -- to -0.0 in DuckDB, +0.0 in Spark — driver hash divergence)
           ROUND((c_acctbal - m1) / s1, 4) + 0.0 AS z1,
           ROUND((c_nationkey - m2) / s2, 4) + 0.0 AS z2,
           ROUND((length(c_mktsegment) - m3) / s3, 4) + 0.0 AS z3
    FROM customer, s ORDER BY c_custkey
    """,
)
def d33_standard_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib ``StandardScaler`` (withMean+withStd) certified against the
    closed form it implements: z = (x - mean) / sample-stddev per feature.
    fit() is one distributed summary pass; transform() is map-side. The
    oracle recomputes the same standardization in SQL — an exact hash
    match, which most Estimators can't offer (this one can, so it anchors
    the MLlib fit/transform plumbing with a real oracle).

    Scale shape: fit aggregates 2 doubles per feature tree-wise;
    transform broadcasts the model (6 doubles) inside the task closure —
    no shuffle, no Python."""
    from pyspark.ml.feature import StandardScaler
    from pyspark.ml.functions import vector_to_array

    c = catalog(spark, sf_dir).customer.select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("f1"),
        F.col("c_nationkey").cast("double").alias("f2"),
        F.length("c_mktsegment").cast("double").alias("f3"),
    )
    df = VectorAssembler(inputCols=["f1", "f2", "f3"], outputCol="feat").transform(c)
    model = StandardScaler(
        inputCol="feat", outputCol="z", withMean=True, withStd=True
    ).fit(df)
    out = model.transform(df).select(
        "c_custkey", vector_to_array("z").alias("za")
    )
    # + 0.0 mirrors the oracle's IEEE negative-zero normalization
    return out.select(
        "c_custkey",
        (F.round(F.col("za")[0], 4) + F.lit(0.0)).alias("z1"),
        (F.round(F.col("za")[1], 4) + F.lit(0.0)).alias("z2"),
        (F.round(F.col("za")[2], 4) + F.lit(0.0)).alias("z3"),
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# D33 extension — seeded cross-validated model selection
# --------------------------------------------------------------------------
@register("d33_cross_validation", oracle=None)
def d33_cross_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded 2-fold CrossValidator over an OLS grid (regParam 0 vs 100):
    the model-selection loop of the reference's Estimator driver (M6),
    distributed — each fold's fit is a full Spark job, the driver only
    compares two scalar metrics. Non-oracle (fold assignment is
    engine-internal even when seeded); pytest pins seed determinism and
    that the unregularized model wins on this linear-by-construction
    target.

    Scale shape: k x |grid| sequential fits, each distributed; with
    parallelism=2 the candidate fits run concurrently. Metrics, not
    data, reach the driver."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    c = catalog(spark, sf_dir).customer.select(
        (F.col("c_acctbal") / 10000.0).alias("x"),
        (F.col("c_acctbal") / 10000.0 * 2.0 + 7.0).alias("label"),
    )
    pipe = build_ols_pipeline(["x"], "label")
    lr = pipe.getStages()[-1]
    grid = (
        ParamGridBuilder().addGrid(lr.regParam, [0.0, 100.0]).build()
    )
    cv = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(metricName="mse", labelCol="label"),
        numFolds=2,
        seed=42,
        parallelism=2,
    )
    model = cv.fit(c)
    best_reg = model.bestModel.stages[-1].getRegParam()
    metrics = [round(float(m), 4) for m in model.avgMetrics]
    return spark.createDataFrame(
        [(float(best_reg), metrics[0], metrics[1])],
        "best_reg_param double, mse_reg0 double, mse_reg100 double",
    )


# --------------------------------------------------------------------------
# D33 extension — seeded ALS collaborative filtering (the iterative
# distributed factorization workload: block-partitioned alternating solves)
# --------------------------------------------------------------------------
@register("d33_als_recs", oracle=None)
def d33_als_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded ALS over the customer x part purchase matrix (implicit
    feedback: summed lineitem quantities): rank-4 factorization, then the
    top-1 recommendation per customer for the first 20 customers.
    Non-oracle (block-solve numerics are engine-internal); pytest pins
    seed determinism and full scored coverage of the requested users.

    Scale shape: THE canonical iterative-shuffle workload — each
    half-iteration solves per-user (then per-item) least squares with
    only the factor blocks it needs exchanged; MLlib block-partitions
    both factor matrices, so network cost per iteration is O(ratings),
    not O(users x items). Checkpointing every N iterations truncates the
    lineage the same way the CC fixpoint (graph.py) does."""
    from pyspark.ml.recommendation import ALS

    li = catalog(spark, sf_dir).lineitem
    ratings = (
        li.join(catalog(spark, sf_dir).orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.sum("l_quantity").cast("float").alias("rating"))
    )
    als = ALS(
        rank=4,
        maxIter=5,
        seed=42,
        regParam=0.1,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        implicitPrefs=True,
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    users = ratings.select("user").distinct().where(F.col("user") < 20)
    recs = model.recommendForUserSubset(users, 1)
    return recs.select(
        "user",
        F.col("recommendations")[0]["item"].alias("top_item"),
        F.round(F.col("recommendations")[0]["rating"], 4).alias("score"),
    ).orderBy("user")


# --------------------------------------------------------------------------
# D33 extension (round 6) — frequent-itemset mining (parallel FP-growth)
# --------------------------------------------------------------------------
@register(
    "d33_fpgrowth_pairs",
    oracle="""
    WITH cb AS (
      SELECT DISTINCT o.o_custkey, p.p_brand
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (SELECT COUNT(DISTINCT o_custkey) AS n_cust FROM cb)
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           COUNT(*) AS supp
    FROM cb a JOIN cb b
      ON a.o_custkey = b.o_custkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
    HAVING COUNT(*) >= CEIL(0.6 * (SELECT n_cust FROM n))
    ORDER BY brand_a, brand_b
    """,
)
def d33_fpgrowth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent brand PAIRS across customer purchase baskets via MLlib
    FPGrowth (the distributed PFP algorithm of Li et al. 2008): basket =
    the distinct part brands a customer has ever ordered; mine all
    frequent itemsets, keep size-2 sets with support >= 60% of customers.

    FPGrowth support counts are EXACT (the algorithm prunes, never
    approximates), so the result is hash-comparable against a SQL
    pair-counting self-join — the oracle for the whole mine-prune path.
    FPGrowth runs with minSupport=0.5, strictly below the 0.6 output
    filter applied identically in both engines, so MLlib's internal
    ceil-vs-floor threshold rounding can never decide membership.

    Scale shape: PFP shards the FP-tree by item-suffix groups across
    executors (one groupBy shuffle of conditional transactions); the
    basket build is a distinct-agg over an ids-only projection of the
    join. The 25-brand universe keeps itemset space tiny here; real
    basket mining bounds it with minSupport exactly as done here."""
    from pyspark.ml.fpm import FPGrowth

    t = catalog(spark, sf_dir)
    cb = (
        t.lineitem.select("l_orderkey", "l_partkey")
        .join(t.orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.part.select("p_partkey", "p_brand"),
              F.col("l_partkey") == F.col("p_partkey"))
        .select("o_custkey", "p_brand")
        .distinct()
    )
    n_cust = cb.select("o_custkey").distinct().count()
    baskets = cb.groupBy("o_custkey").agg(
        F.collect_set("p_brand").alias("items")
    )
    fp = FPGrowth(itemsCol="items", minSupport=0.5, minConfidence=0.5)
    model = fp.fit(baskets)
    import math

    threshold = math.ceil(0.6 * n_cust)
    return (
        model.freqItemsets.where(F.size("items") == 2)
        .where(F.col("freq") >= threshold)
        .select(
            F.array_min("items").alias("brand_a"),
            F.array_max("items").alias("brand_b"),
            F.col("freq").alias("supp"),
        )
        .orderBy("brand_a", "brand_b")
    )


# --------------------------------------------------------------------------
# D33 extension (round 12) — sequential-pattern mining (PrefixSpan)
# --------------------------------------------------------------------------
JOURNEY_LEN = 5  # each user's first-N events form the mined journey


@register(
    "d33_prefixspan_journeys",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, pos FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS pos
        FROM events
      ) WHERE pos <= {JOURNEY_LEN}
    ), n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM seq),
    p1 AS (
      SELECT event_type AS pattern, COUNT(DISTINCT user_id) AS freq
      FROM seq GROUP BY 1
    ), p2 AS (
      SELECT a.event_type || '->' || b.event_type AS pattern,
             COUNT(DISTINCT a.user_id) AS freq
      FROM seq a JOIN seq b ON a.user_id = b.user_id AND a.pos < b.pos
      GROUP BY 1
    )
    SELECT pattern, CAST(freq AS BIGINT) AS freq
    FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
    WHERE freq >= CEIL(0.2 * (SELECT n_users FROM n))
    ORDER BY pattern
    """,
)
def d33_prefixspan_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent sequential patterns over early user journeys via MLlib
    PrefixSpan (Pei et al. 2001, the distributed projected-database
    formulation): sequence = each user's first {JOURNEY_LEN} events in
    (ts, event_id) order, one single-item itemset per event; mine all
    frequent sequential patterns, keep patterns of <= 2 items with
    support >= 20% of users — the funnel-shape discovery that runs
    BEFORE a funnel query (d27) can be written, since it finds which
    orderings are frequent at all.

    PrefixSpan support counts are EXACT (one count per sequence
    containing the pattern as an order-preserving subsequence), so the
    result hash-matches a SQL formulation: length-1 patterns are plain
    distinct-user counts, length-2 patterns a position-ordered self-join
    (pos_a < pos_b) with COUNT(DISTINCT user). PrefixSpan runs with
    minSupport=0.1, strictly below the 0.2 output filter applied
    identically in both engines, so MLlib's internal threshold rounding
    can never decide membership (the d33_fpgrowth_pairs discipline).

    Scale shape (100 TB): sequence assembly is one user_id hash agg over
    a (user, type, ts) projection — the first-{JOURNEY_LEN} cap bounds
    every sequence to {JOURNEY_LEN} items, so the mined database is
    users x {JOURNEY_LEN} no matter the event volume; PrefixSpan then
    shards pattern prefixes across executors (projected databases), each
    a bounded local mine. The oracle's self-join is likewise
    position-capped: at most {JOURNEY_LEN}^2 pairs per user."""
    import math

    from pyspark.ml.fpm import PrefixSpan

    ev = catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= JOURNEY_LEN)
    )
    # support denominator: every user with >= 1 event has a pos-1 row, so
    # distinct users in seq == distinct users in events — count on the raw
    # projection (partial-agg distinct, no user_id window shuffle) instead
    # of re-running the row_number pass just for a scalar
    n_users = ev.select("user_id").distinct().count()
    sequences = seq.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "event_type"))),
            lambda s: F.array(s["event_type"]),
        ).alias("sequence")
    )
    ps = PrefixSpan(
        minSupport=0.1, maxPatternLength=2, sequenceCol="sequence"
    )
    pats = ps.findFrequentSequentialPatterns(sequences)
    threshold = math.ceil(0.2 * n_users)
    return (
        pats.select(F.flatten("sequence").alias("items"), "freq")
        .where((F.size("items") <= 2) & (F.col("freq") >= threshold))
        .select(
            F.array_join("items", "->").alias("pattern"),
            F.col("freq").cast("long").alias("freq"),
        )
        .orderBy("pattern")
    )


@register("d33_pca_spectrum", oracle=None)  # eigen-spectrum: numpy-
# equivalence pytest (tests/test_text_ml.py) instead of a SQL oracle
def d33_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib PCA over the 64-d embedding vectors: top-8 principal
    components' explained-variance ratios plus the total captured
    variance — the dimensionality audit run before choosing a Matryoshka
    truncation depth (d30_matryoshka_knn) or an IVF coarse dimension.
    EigenVECTORS carry a sign ambiguity, so only the spectrum
    (eigenvalue ratios — sign-invariant and deterministic) enters the
    contract; pytest pins it to numpy's eigendecomposition of the same
    covariance to 1e-6.

    Scale shape (100 TB): MLlib PCA is one distributed Gramian/covariance
    pass (tree-aggregated d x d state per executor, never row collection)
    + a driver-side 64x64 eigensolve — exactly how you'd hand-build it;
    transform (not needed here) would be a broadcast matmul."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    e = catalog(spark, sf_dir).embeddings.select(
        array_to_vector(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("feat")
    )
    model = PCA(k=8, inputCol="feat", outputCol="pc").fit(e)
    ev = [float(v) for v in model.explainedVariance]
    return spark.createDataFrame(
        [
            (i + 1, round(v, 6), round(sum(ev[: i + 1]), 6))
            for i, v in enumerate(ev)
        ],
        "component INT, explained DOUBLE, cumulative DOUBLE",
    ).orderBy("component")


# --------------------------------------------------------------------------
# D33 extension — chi-square feature selection with an EXACT SQL oracle.
# Most MLlib queries are tolerance/determinism-tested (iterative fits); the
# Pearson chi-square statistic is closed-form over a contingency table, so
# this one is hash-match certified: MLlib's ChiSquareTest must reproduce
# the SQL-computed statistic to 4 decimals, feature by feature.
# --------------------------------------------------------------------------
_CHISQ_F0 = (
    "CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 "
    "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END"
)


def _chisq_oracle() -> str:
    unioned = " UNION ALL ".join(
        f"SELECT {i} AS feature, f{i} AS fv, label FROM base"
        for i in range(3)
    )
    return f"""
    WITH base AS (
      SELECT {_CHISQ_F0} AS f0,
             hour(ts) // 6 AS f1,
             user_id % 3 AS f2,
             CASE WHEN value > 50 THEN 1 ELSE 0 END AS label
      FROM events
    ), u AS ({unioned}
    ), cells AS (
      SELECT feature, fv, label, COUNT(*) AS o FROM u GROUP BY 1, 2, 3
    ), rt AS (
      SELECT feature, fv, SUM(o) AS rt FROM cells GROUP BY 1, 2
    ), ct AS (
      SELECT feature, label, SUM(o) AS ct FROM cells GROUP BY 1, 2
    ), n AS (
      SELECT feature, SUM(o) AS n FROM cells GROUP BY 1
    ), grid AS (
      SELECT r.feature, r.fv, c.label, r.rt, c.ct, n.n,
             COALESCE(x.o, 0) AS o
      FROM rt r
      JOIN ct c USING (feature)
      JOIN n USING (feature)
      LEFT JOIN cells x
        ON x.feature = r.feature AND x.fv = r.fv AND x.label = c.label
    )
    SELECT CAST(feature AS INT) AS feature,
           CAST((COUNT(DISTINCT fv) - 1) * (COUNT(DISTINCT label) - 1)
                AS BIGINT) AS dof,
           ROUND(SUM((o - rt * ct * 1.0 / n) * (o - rt * ct * 1.0 / n)
                     / (rt * ct * 1.0 / n)), 4) AS chi2
    FROM grid GROUP BY feature ORDER BY feature
    """


@register("d33_chisq_select", oracle=_chisq_oracle())
def d33_chisq_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature scoring (the filter-method feature selector):
    three categorical features — event type, 6-hour time-of-day bucket,
    user-id shard — tested against a binary high-value label with MLlib's
    ``ChiSquareTest``, returning each feature's Pearson statistic and
    degrees of freedom. The oracle recomputes the statistic from the raw
    contingency table (including structurally-zero cells, which Pearson's
    formula counts), so the MLlib path is certified exactly, not
    tolerance-tested.

    Scale shape: ChiSquareTest reduces to one distributed (feature, value,
    label) count — a map-side-combined aggregate over tiny cardinality —
    plus a driver-side closed form over the ~30-cell table; the one-row
    readout is the same declared scalar exception as d33_ols_mse."""
    from pyspark.ml.stat import ChiSquareTest

    e = catalog(spark, sf_dir).events
    base = e.select(
        F.expr(_CHISQ_F0).cast("double").alias("f0"),
        F.floor(F.hour("ts") / 6).cast("double").alias("f1"),
        (F.col("user_id") % 3).cast("double").alias("f2"),
        F.when(F.col("value") > 50, 1.0).otherwise(0.0).alias("label"),
    )
    df = VectorAssembler(
        inputCols=["f0", "f1", "f2"], outputCol="features"
    ).transform(base)
    row = ChiSquareTest.test(df, "features", "label").first()
    out = spark.createDataFrame(
        [
            (i, int(row.degreesOfFreedom[i]), float(row.statistics[i]))
            for i in range(3)
        ],
        "feature INT, dof BIGINT, chi2_raw DOUBLE",
    )
    return out.select(
        "feature", "dof", F.round("chi2_raw", 4).alias("chi2")
    ).orderBy("feature")


# --------------------------------------------------------------------------
# D33 extension — multinomial Naive Bayes with an EXACT closed-form oracle
# (the third fully-oracled MLlib path after StandardScaler and
# ChiSquareTest: NB's fit is pure counting + Laplace smoothing, no
# iteration, so every learned parameter is a log-ratio of exact integers).
# --------------------------------------------------------------------------
_NB_TYPES = ("click", "error", "purchase", "signup", "view")


def _nb_oracle() -> str:
    fcols = ", ".join(
        f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(_NB_TYPES)
    )
    st = " + ".join(f"s{i}" for i in range(5))
    theta_rows = " UNION ALL ".join(
        f"SELECT label, CAST({i} AS INT) AS feature, "
        f"ROUND(ln((s{i} + 1.0) / ({st} + 5.0)), 4) AS logp FROM agg"
        for i in range(5)
    )
    return f"""
    WITH u AS (
      SELECT user_id, {fcols} FROM events GROUP BY user_id
    ), lab AS (
      SELECT *, CASE WHEN f2 > f0 THEN 1 ELSE 0 END AS label FROM u
    ), agg AS (
      SELECT label, COUNT(*) AS nc,
             {", ".join(f"SUM(f{i}) AS s{i}" for i in range(5))}
      FROM lab GROUP BY label
    ), n AS (SELECT SUM(nc) AS n FROM agg)
    SELECT CAST(label AS INT) AS class, CAST(-1 AS INT) AS feature,
           ROUND(ln((nc + 1.0) / (n + 2.0)), 4) AS logp
    FROM agg, n
    UNION ALL
    SELECT CAST(label AS INT) AS class, feature, logp FROM ({theta_rows})
    ORDER BY class, feature
    """


@register("d33_naive_bayes", oracle=_nb_oracle())
def d33_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes over per-user event-type count profiles
    (label: buyers whose purchases outnumber their clicks): the learned
    model — class log-priors (feature = -1) and the full log-theta matrix —
    is emitted as rows and hash-matched against the closed-form Laplace
    estimates ln((count + 1)/(total + |V|)), because NB's "training" is
    exactly one counting pass. This certifies MLlib's fit end to end where
    the iterative models (logreg/GBT/ALS) can only be determinism-tested.

    Scale shape: ONE map-side-combined aggregate to (user, 5 counts), one
    tiny per-class reduction; MLlib's fit is the same two aggregates
    internally. The 12-row model readout is the declared scalar exception
    (d33_ols_mse precedent)."""
    from pyspark.ml.classification import NaiveBayes

    e = catalog(spark, sf_dir).events
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
        .cast("double")
        .alias(f"f{i}")
        for i, t in enumerate(_NB_TYPES)
    ]
    u = e.groupBy("user_id").agg(*aggs)
    u = u.withColumn("label", (F.col("f2") > F.col("f0")).cast("double"))
    df = VectorAssembler(
        inputCols=[f"f{i}" for i in range(5)], outputCol="features"
    ).transform(u)
    m = NaiveBayes(smoothing=1.0, modelType="multinomial").fit(df)
    rows = []
    for c in range(2):
        rows.append((c, -1, float(m.pi[c])))
        for j in range(5):
            rows.append((c, j, float(m.theta[c, j])))
    out = spark.createDataFrame(
        rows, "class INT, feature INT, logp_raw DOUBLE"
    )
    return out.select(
        "class", "feature", F.round("logp_raw", 4).alias("logp")
    ).orderBy("class", "feature")
