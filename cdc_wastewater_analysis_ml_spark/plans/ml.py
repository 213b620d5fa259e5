"""EP3: ML train/evaluate layer (codes.py:180-309, SURVEY §2.9) on MLlib.

Pinned divergences from the sklearn reference (SURVEY §2.9):
- stratified split: exact per-class counts via seeded per-class row_number
  (``sampleBy`` is binomial/approximate — SURVEY §7 hard-part 5); row
  membership is engine-specific, parity is metric-tolerance (§5.2.3).
- StandardScaler: MLlib uses sample std (ddof=1) vs sklearn's population std
  (ddof=0) — relative difference 1/(2n), inside tolerance at test scale.
- PCA with a variance threshold: MLlib takes integer k only → two-step fit
  (fit k=n_features, pick smallest k with cumulative explainedVariance ≥
  threshold, re-project) (SURVEY §7 hard-part 4).
- GBTClassifier(maxDepth=3, stepSize=0.1, maxIter=100) to match sklearn's
  GradientBoostingClassifier defaults (MLlib's default maxDepth=5 would NOT
  be comparable).
- LinearRegression on the 0/1 label used as a classifier: solver="normal"
  (exact normal equations ≡ OLS), predictions clipped to [0,1] for the
  probability (codes.py:258-261).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.classification import GBTClassifier
from pyspark.ml.feature import PCA, StandardScaler, VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.ml.regression import LinearRegression
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import metrics as M


def split_train_test_stratified(
    df: DataFrame,
    label: str,
    test_size: float = 0.2,
    seed: int = 42,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Exact-count stratified split ≙ train_test_split(stratify=y, seed)
    (codes.py:203-205).

    Rows are ordered per class by a seeded hash (deterministic, uniform) and
    the first ⌊n_c·test_size⌋ of each class become the test partition.

    Scale shape (same two-phase partition-offset prefix ranking as
    ``binary_curve``): a window partitioned ONLY by the label would sort an
    entire class in one task — with a binary label, two tasks sort the whole
    dataset.  Instead:

    1. range-repartition on ``(label, __h)`` and freeze the assignment (lazy
       ``localCheckpoint`` — the rank pass and the count pass must see the
       SAME partitioning; a re-executed range exchange re-samples its
       boundaries);
    2. rank within each ``(partition, label)`` group — parallel, bounded by
       partition size;
    3. per-(partition, label) counts → broadcast prefix offsets (a window
       over ≤ #partitions·#classes rows, never over data) and per-class
       totals; global per-class rank = in-partition rank + offset.

    Global ranks are exact wherever the sampled range boundaries land,
    because (label, __h) ordering is total (xxhash64 collisions aside, and
    identical duplicate rows are interchangeable), so membership is
    deterministic per seed.  Checkpoint tradeoff as in ``binary_curve``:
    blocks are not replicated — executor loss fails (re-runs) the job.

    The partition LAYOUT is not deterministic per seed: Spark seeds the
    ``RangePartitioner`` boundary sample from the RDD id, which grows with
    session history, and MLlib's tree ``findSplits`` samples its input per
    partition above ``max(maxBins², 10000)`` rows.  So any RDD created
    before this split moves the GBT metrics: one extra
    ``sc.parallelize([1]).map(f).count()`` at the top of the CLI's
    ``main`` moved all six GBT metrics on the 50k-row fixture 43 (GBT
    (Original) ROC-AUC 0.710568 → 0.709677), while both LinearRegression
    scenarios stayed identical.
    """
    salted = df.withColumn(
        "__h", F.xxhash64(F.concat_ws("§", *[F.col(c).cast("string") for c in df.columns]), F.lit(seed))
    )
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    part = (
        salted.repartitionByRange(num_partitions, F.col(label), F.col("__h"))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w_in = Window.partitionBy("__pid", label).orderBy("__h")
    ranked = part.withColumn("__rn_in", F.row_number().over(w_in))
    counts = part.groupBy("__pid", label).agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.partitionBy(label).orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = counts.select(
        "__pid",
        label,
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
    )
    totals = counts.groupBy(label).agg(F.sum("__cnt").alias("__n"))
    full = ranked.join(F.broadcast(offsets), ["__pid", label]).join(
        F.broadcast(totals), [label]
    )
    is_test = (F.col("__rn_in") + F.col("__off")) <= F.floor(
        F.col("__n") * F.lit(test_size)
    )
    test = full.filter(is_test).select(*df.columns)
    train = full.filter(~is_test).select(*df.columns)
    return train, test


def assemble(df: DataFrame, features: list[str], out: str = "features_raw") -> DataFrame:
    """Dense feature vector ≙ the X matrix view (codes.py:196, SURVEY §1.1)."""
    return VectorAssembler(inputCols=features, outputCol=out).transform(df)


def fit_scaler(train: DataFrame, in_col: str = "features_raw", out_col: str = "features"):
    """z-score scaler fit on train ≙ StandardScaler().fit (codes.py:208-210)."""
    return StandardScaler(
        withMean=True, withStd=True, inputCol=in_col, outputCol=out_col
    ).fit(train)


def fit_variance_pca(
    train: DataFrame,
    n_features: int,
    threshold: float = 0.95,
    in_col: str = "features",
    out_col: str = "features_pca",
):
    """Variance-threshold PCA ≙ PCA(n_components=0.95) (codes.py:214-216).

    MLlib PCA takes integer k: fit once at k=n_features, read the explained-
    variance spectrum, choose the smallest k with cumsum ≥ threshold, refit
    projection at that k.  Returns (model, k).
    """
    probe = PCA(k=n_features, inputCol=in_col, outputCol="__pca_probe").fit(train)
    cum = 0.0
    k = n_features
    for i, v in enumerate(probe.explainedVariance):
        cum += float(v)
        if cum >= threshold:
            k = i + 1
            break
    model = PCA(k=k, inputCol=in_col, outputCol=out_col).fit(train)
    return model, k


def train_gbt(
    train: DataFrame, label: str, features_col: str, seed: int = 42, max_iter: int = 100
):
    """≙ GradientBoostingClassifier(n_estimators=100, random_state=42)
    (codes.py:226) with sklearn's defaults pinned explicitly; ``max_iter``
    is the boosting-round count (the reference's n_estimators)."""
    return GBTClassifier(
        labelCol=label,
        featuresCol=features_col,
        maxIter=max_iter,
        maxDepth=3,
        stepSize=0.1,
        seed=seed,
    ).fit(train)


def train_linear_probability(train: DataFrame, label: str, features_col: str):
    """OLS on the 0/1 label ≙ LinearRegression().fit (codes.py:227)."""
    return LinearRegression(
        labelCol=label,
        featuresCol=features_col,
        regParam=0.0,
        solver="normal",
    ).fit(train)


def score_gbt(model, test: DataFrame, label: str) -> DataFrame:
    """P(class=1) from the native probability vector (codes.py:264-265)."""
    scored = model.transform(test)
    return scored.select(
        F.col(label).alias("label"),
        vector_to_array("probability")[1].alias("score"),
        F.col("prediction").cast("int").alias("pred"),
    )


def score_linear(model, test: DataFrame, label: str) -> DataFrame:
    """Linear output → clip [0,1] proba + 0.5-threshold class
    (codes.py:258-261)."""
    scored = model.transform(test)
    proba = F.least(F.greatest(F.col("prediction"), F.lit(0.0)), F.lit(1.0))
    return scored.select(
        F.col(label).alias("label"),
        proba.alias("score"),
        F.when(F.col("prediction") > 0.5, 1).otherwise(0).alias("pred"),
    )


@dataclass
class EvalResult:
    model: str
    accuracy: float
    roc_auc: float
    average_precision: float


def evaluate_scored(scored: DataFrame, model_name: str) -> EvalResult:
    """Accuracy / ROC-AUC / step-AP via the relational metric operators
    (codes.py:268-271; SURVEY §2.10) — the same terms the oracle gates.

    Scores are quantized to 6 decimals so the curve runs over a bounded
    threshold set (metrics.py scale note); that is far below metric
    tolerance.  The scored relation is persisted (it carries the MLlib model
    transform and the assemble/scale/PCA chain) and read by two branches in
    ONE action: the accuracy mean, cross-joined with ROC-AUC and AP summed
    over a single shared ``binary_curve``
    (:func:`metrics.metric_roc_auc_average_precision`).  Each value equals
    what ``metric_accuracy`` / ``metric_roc_auc`` /
    ``metric_average_precision`` return on the same relation.
    """
    q = scored.withColumn("score", F.round("score", 6)).persist()
    try:
        row = (
            M.metric_accuracy(q, "label", "pred")
            .crossJoin(M.metric_roc_auc_average_precision(q, "label", "score"))
        ).first()
        return EvalResult(
            model_name,
            float(row["accuracy"]),
            float(row["roc_auc"]),
            float(row["average_precision"]),
        )
    finally:
        q.unpersist(blocking=False)


def run_reference_scenarios(
    model_df: DataFrame,
    features: list[str],
    label: str,
    seed: int = 42,
    max_iter: int = 100,
) -> list[EvalResult]:
    """The reference's 4-scenario comparison (codes.py:225-309):
    {GBT, LinearRegression} × {scaled features, 95%-variance PCA}.

    Returns the results table the reference prints as ``results_df``
    (codes.py:309).  ``max_iter`` is exposed so tests can trade boosting
    rounds for runtime; the reference value is 100.
    """
    train_raw, test_raw = split_train_test_stratified(model_df, label, 0.2, seed)
    # Persist the assembled split once.  Unpersisted, every consumer (scaler
    # fit, PCA probe and refit, two GBT and two OLS fits, four scorings)
    # re-runs the split's whole lineage: hash, in-partition rank, count
    # aggregate, offset window, totals and both broadcasts.
    train = assemble(train_raw, features).persist()
    test = assemble(test_raw, features).persist()
    try:
        scaler = fit_scaler(train)
        train_s, test_s = scaler.transform(train), scaler.transform(test)

        pca_model, _k = fit_variance_pca(train_s, n_features=len(features))
        train_p, test_p = pca_model.transform(train_s), pca_model.transform(test_s)

        results = []

        gbt = train_gbt(train_s, label, "features", seed=seed, max_iter=max_iter)
        results.append(evaluate_scored(score_gbt(gbt, test_s, label), "GradientBoosting (Original)"))

        lin = train_linear_probability(train_s, label, "features")
        results.append(evaluate_scored(score_linear(lin, test_s, label), "LinearRegression (Original)"))

        gbt_p = train_gbt(train_p, label, "features_pca", seed=seed, max_iter=max_iter)
        results.append(evaluate_scored(score_gbt(gbt_p, test_p, label), "GradientBoosting (PCA)"))

        lin_p = train_linear_probability(train_p, label, "features_pca")
        results.append(evaluate_scored(score_linear(lin_p, test_p, label), "LinearRegression (PCA)"))
        return results
    finally:
        train.unpersist()
        test.unpersist()


def build_classifier_pipeline(
    features: list[str],
    label: str,
    max_iter: int = 100,
    seed: int = 42,
):
    """The EP3 train path as ONE saveable ``pyspark.ml.Pipeline`` —
    assembler → z-score scaler → GBT (same pinned hyperparameters as
    :func:`train_gbt`).  Fitting returns a ``PipelineModel`` whose
    ``write().save(path)`` persists every stage (assembler config, scaler
    means/stds, tree ensemble) to a directory; ``PipelineModel.load``
    restores it bit-identically on any cluster — the train-once /
    score-everywhere deployment shape the reference cannot express
    (codes.py keeps the fitted objects in process memory only).
    """
    from pyspark.ml import Pipeline

    return Pipeline(
        stages=[
            VectorAssembler(inputCols=features, outputCol="features_raw"),
            StandardScaler(
                withMean=True,
                withStd=True,
                inputCol="features_raw",
                outputCol="features",
            ),
            GBTClassifier(
                labelCol=label,
                featuresCol="features",
                maxIter=max_iter,
                maxDepth=3,
                stepSize=0.1,
                seed=seed,
            ),
        ]
    )
