"""EP3 computes each reused relation once, and releases what it caches.

- ``run_reference_scenarios`` persists the assembled train/test split once
  and unpersists it even when a fit raises; the CLI releases its engineered
  cache the same way and writes the sink from that cache.
- ``evaluate_scored`` sums ROC-AUC and AP over ONE threshold curve, with
  values bit-identical to the single-metric registry operators.
- A job-count ceiling for the 4-scenario run, read from Spark's status
  tracker by job group, so re-introducing split recomputation (one full
  split lineage per fit and per scoring) fails deterministically.
"""

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import cdc_wastewater_analysis_ml_spark.__main__ as cli
from cdc_wastewater_analysis_ml_spark.plans import metrics as M
from cdc_wastewater_analysis_ml_spark.plans import ml
from cdc_wastewater_analysis_ml_spark.plans.features import engineer_features, model_ready
from cdc_wastewater_analysis_ml_spark.schema import (
    LABEL_COLUMN,
    MODEL_FEATURES,
    WASTEWATER_SCHEMA,
)
from cdc_wastewater_analysis_ml_spark.sources import scan_csv
from tools.wastewater_fixture import write_fixture

#: Spark jobs of one ``run_reference_scenarios`` call on the 2k-row fixture
#: at max_iter=2 with 8 shuffle partitions.  Measured: 104, the same on
#: every repeat in one session, with the split cached and one curve per
#: evaluation; 237 when every fit and scoring re-ran the split and every
#: evaluation built two curves.
REFERENCE_SCENARIOS_JOB_CEILING = 104


@pytest.fixture(scope="module")
def ww_csv(tmp_path_factory):
    d = tmp_path_factory.mktemp("ww2k")
    write_fixture(str(d), n_rows=2000)
    return str(d / "wastewater_samples.csv")


@pytest.fixture(scope="module")
def model_df(spark, ww_csv):
    raw = scan_csv(spark, ww_csv, schema=WASTEWATER_SCHEMA)
    return model_ready(engineer_features(raw))


def _leaves(df: DataFrame) -> list:
    """The leaf nodes of ``df``'s optimized logical plan (JVM objects)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def clean_cache(spark):
    # Other modules may legitimately hold session caches; start from none so
    # the assertions below see only what the code under test left behind.
    spark.catalog.clearCache()
    assert _cache_is_empty(spark)
    yield


def _raise_mid_run(*_args, **_kwargs):
    raise RuntimeError("linear fit failed")


def test_reference_scenarios_release_their_caches(spark, model_df, clean_cache):
    results = ml.run_reference_scenarios(
        model_df, MODEL_FEATURES, LABEL_COLUMN, seed=42, max_iter=2
    )
    assert len(results) == 4
    assert _cache_is_empty(spark)


def test_reference_scenarios_release_caches_when_a_fit_raises(
    spark, model_df, clean_cache, monkeypatch
):
    monkeypatch.setattr(ml, "train_linear_probability", _raise_mid_run)
    with pytest.raises(RuntimeError, match="linear fit failed"):
        ml.run_reference_scenarios(
            model_df, MODEL_FEATURES, LABEL_COLUMN, seed=42, max_iter=2
        )
    assert _cache_is_empty(spark)


def test_cli_writes_sink_from_cache_and_releases_it(
    spark, ww_csv, tmp_path, clean_cache, monkeypatch
):
    plans = []
    real_sink = cli.sink_csv

    def spy(df, path, *args, **kwargs):
        plans.append({leaf.getClass().getSimpleName() for leaf in _leaves(df)})
        return real_sink(df, path, *args, **kwargs)

    monkeypatch.setattr(cli, "sink_csv", spy)
    assert cli.main([ww_csv, "--out", str(tmp_path / "out"), "--max-iter", "2"]) == 0
    assert _cache_is_empty(spark)
    # The sink reads the engineered cache only, never the CSV input again.
    assert plans == [{"InMemoryRelation"}]


def test_cli_releases_its_cache_when_a_fit_raises(
    spark, ww_csv, tmp_path, clean_cache, monkeypatch
):
    monkeypatch.setattr(ml, "train_linear_probability", _raise_mid_run)
    with pytest.raises(RuntimeError, match="linear fit failed"):
        cli.main([ww_csv, "--out", str(tmp_path / "out"), "--max-iter", "2"])
    assert _cache_is_empty(spark)


@pytest.fixture(scope="module")
def scored(spark):
    # Ties (scores on a 0.01 grid), both classes, several curve partitions.
    return (
        spark.range(3000)
        .select(
            (F.xxhash64("id", F.lit(7)) % 3 == 0).cast("int").alias("label"),
            F.round(F.abs(F.xxhash64("id", F.lit(11)) % 1000) / 997.0, 2).alias("score"),
        )
    )


def test_fused_curve_metrics_equal_single_metric_queries(scored):
    fused = M.metric_roc_auc_average_precision(scored, "label", "score").first()
    auc = M.metric_roc_auc(scored, "label", "score").first()["roc_auc"]
    ap = M.metric_average_precision(scored, "label", "score").first()[
        "average_precision"
    ]
    assert 0.0 < auc < 1.0 and 0.0 < ap < 1.0
    # Bit-identical: same curve rows, same partitioning, same summed terms.
    assert fused["roc_auc"] == auc
    assert fused["average_precision"] == ap


def _checkpointed_curves(df: DataFrame) -> int:
    """Distinct checkpointed RDDs read by ``df``'s plan.  Each
    ``binary_curve`` freezes its range-partitioned per-threshold relation in
    one lazy ``localCheckpoint``, read as a ``LogicalRDD`` leaf by each of
    its branches (in-partition sums, offsets, totals)."""
    return len(
        {
            leaf.rdd().id()
            for leaf in _leaves(df)
            if leaf.getClass().getSimpleName() == "LogicalRDD"
        }
    )


def test_evaluate_scored_builds_one_curve(scored, monkeypatch):
    plans = []
    cls = type(scored)
    real_first = cls.first

    def spy(self):
        plans.append(_checkpointed_curves(self))
        return real_first(self)

    monkeypatch.setattr(cls, "first", spy)
    r = ml.evaluate_scored(
        scored.withColumn("pred", (F.col("score") > 0.5).cast("int")), "m"
    )
    assert plans == [1]
    assert r.roc_auc == M.metric_roc_auc(scored, "label", "score").first()[0]


def test_reference_scenarios_job_budget(spark, model_df, clean_cache):
    sc = spark.sparkContext
    group = "test_reference_scenarios_job_budget"
    sc.setJobGroup(group, group)
    try:
        ml.run_reference_scenarios(
            model_df, MODEL_FEATURES, LABEL_COLUMN, seed=42, max_iter=2
        )
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= REFERENCE_SCENARIOS_JOB_CEILING, jobs
