"""Regression tests for the round-1/round-2 advice items: Arrow-chunk
boundaries in stateful streaming lag, join_salted's supported join types,
operator-internal cache scoping, SimHash band validation, and parity-CLI
unknown-name handling."""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

from cdc_wastewater_analysis_ml_spark.operators import dedup as D
from cdc_wastewater_analysis_ml_spark.operators import relational as R
from cdc_wastewater_analysis_ml_spark.operators import windows as W
from cdc_wastewater_analysis_ml_spark.sources import load_table
from cdc_wastewater_analysis_ml_spark.streaming import stream_lag_per_key


def test_stream_lag_group_spanning_many_arrow_chunks(spark, tmp_path):
    """A key's micro-batch rows arrive as MULTIPLE Arrow chunks when they
    exceed arrow.maxRecordsPerBatch; rows are deliberately shuffled so every
    chunk holds a mix of early/late timestamps.  Sorting chunks independently
    (the old bug) mis-lags rows at every chunk boundary; concat-then-sort
    must reproduce the batch window_lag exactly."""
    n = 400
    src = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 60).alias("ts"),
            (F.col("id") % 2).alias("user_id"),
            F.lit("a").alias("event_type"),
            (F.col("id") * 1.5).alias("value"),
            F.lit("{}").alias("props"),
        )
        # deterministic shuffle: any chunk of 32 rows mixes timestamps
        .orderBy(F.md5(F.col("event_id").cast("string")))
        .coalesce(1)
    )
    d = str(tmp_path / "shuffled_events")
    src.write.parquet(d)

    from cdc_wastewater_analysis_ml_spark.streaming import read_events_stream

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "32")
    try:
        q = (
            stream_lag_per_key(read_events_stream(spark, d))
            .writeStream.format("memory")
            .queryName("chunked_lag_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM chunked_lag_sink").toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    expected = (
        W.window_lag(
            spark.read.parquet(d),
            ["user_id"],
            ["ts", "event_id"],
            "value",
            offsets=(1, 2),
            default=0.0,
        )
        .select("event_id", "value_lag1", "value_lag2")
        .toPandas()
    )
    got = got.sort_values("event_id").reset_index(drop=True)
    expected = expected.sort_values("event_id").reset_index(drop=True)
    assert len(got) == n
    assert (abs(got["value_lag1"] - expected["value_lag1"]) < 1e-9).all()
    assert (abs(got["value_lag2"] - expected["value_lag2"]) < 1e-9).all()


def test_join_salted_rejects_right_and_full_outer(spark, sf_small):
    ev = load_table(spark, sf_small, "events")
    cust = load_table(spark, sf_small, "customer")
    for how in ("right", "full", "outer", "full_outer", "cross"):
        with pytest.raises(ValueError, match="join_salted supports"):
            R.join_salted(ev, cust, "user_id", how=how)


def test_join_salted_left_variants_match_plain_join(spark, sf_small):
    ev = load_table(spark, sf_small, "events").select("event_id", "user_id")
    # right side missing some keys → exercises unmatched-left behavior
    right = (
        load_table(spark, sf_small, "events")
        .select("user_id")
        .distinct()
        .filter(F.col("user_id") % 3 == 0)
        .withColumn("tag", F.lit("x"))
    )
    for how in ("left", "left_semi", "left_anti"):
        got = R.join_salted(ev, right, "user_id", salt=4, how=how)
        want = ev.join(right, "user_id", how)
        sel = sorted(got.columns)
        got_rows = sorted(map(tuple, got.select(*sel).collect()))
        want_rows = sorted(map(tuple, want.select(*sel).collect()))
        assert got_rows == want_rows, how


def test_simhash_band_candidates_rejects_indivisible_bands(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    with pytest.raises(ValueError, match="divisible"):
        D.simhash_band_candidates(docs, "text", "doc_id", bits=32, bands=5)


def test_candidate_generator_caches_are_scoped(spark, sf_small):
    """Operator-internal persist() must not outlive the result handle — a
    long-lived session would otherwise accumulate dead cached blocks."""
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    docs = load_table(spark, sf_small, "documents").limit(200)
    out = D.minhash_lsh_candidates(docs, "text", "doc_id")
    out.count()
    assert not cache_mgr.isEmpty()  # cache is live while the result is held
    del out
    gc.collect()
    assert cache_mgr.isEmpty()  # finalizer released it


def test_parity_cli_reports_unknown_query_names(capsys):
    from tools.parity import run_parity

    failures = run_parity(names=["metric_roc_auk", "not_a_query_at_all"])
    assert failures == 2
    msg = capsys.readouterr().out
    assert "unknown query name" in msg
    assert "metric_roc_auc" in msg  # close-match suggestion


def test_verify_pipeline_inherits_candidate_cache_scope(spark, sf_small):
    """Round-3 regression (VERDICT r3 #1): q_dedup_lsh_verified drops its
    candidate-pairs handle as soon as it derives the verify plan, and the
    scoped_persist finalizer used to unpersist the banded signatures BEFORE
    the verify job ever ran — both self-join sides recomputed the md5
    pipeline (2.25x slower).  jaccard_verify_pairs must now adopt the pins:
    the banded relation stays cached (InMemoryRelation in the optimized
    plan) after the intermediate handle is garbage-collected, and is
    released only when the final result handle dies."""
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    docs = load_table(spark, sf_small, "documents").limit(200)
    pairs = D.minhash_lsh_candidates(docs, "text", "doc_id")
    out = D.jaccard_verify_pairs(docs, pairs, "text", "doc_id", threshold=0.3)
    del pairs
    gc.collect()
    # The banded signature cache must still be live for the verify job ...
    assert not cache_mgr.isEmpty()
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    out.count()
    # ... and released once the final consumed handle is dropped.
    del out
    gc.collect()
    assert cache_mgr.isEmpty()


def test_scoped_persist_transfer_is_noop_without_scope(spark, sf_small):
    """transfer_cache_scope on an unscoped source must leave dst untouched."""
    from cdc_wastewater_analysis_ml_spark.operators.caching import (
        _SCOPE_ATTR,
        transfer_cache_scope,
    )

    docs = load_table(spark, sf_small, "documents").limit(10)
    derived = docs.select("doc_id")
    assert transfer_cache_scope(docs, derived) is derived
    assert not hasattr(derived, _SCOPE_ATTR)


@pytest.mark.parametrize("how", ["semi", "anti"])
def test_join_salted_accepts_bare_semi_anti_aliases(spark, sf_small, how):
    """Spark's bare 'semi'/'anti' aliases are left-driven and salt-safe —
    rejecting them broke correct callers (r3 ADVICE)."""
    ev = load_table(spark, sf_small, "events").limit(500)
    right = ev.select("user_id").distinct().limit(20)
    got = R.join_salted(ev, right, "user_id", salt=4, how=how)
    want = ev.join(right, "user_id", how)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_recall_at_k_rejects_empty_approx(spark):
    from cdc_wastewater_analysis_ml_spark.operators import similarity as SIM

    t = spark.createDataFrame([(1, 2)], "query_id long, neighbor_id long")
    with pytest.raises(ValueError, match="non-empty"):
        SIM.recall_at_k(t, {})


def test_jaccard_verify_pairs_default_dedups_candidate_rows(spark, sf_small):
    """r7 ADVICE: duplicate (id_a, id_b) candidate rows must not change the
    verified output (the r7 exploded verify multiplied the intersection;
    the packed verify would publish duplicate pairs).  The default
    de-duplicates the pair relation inside the operator; assume_distinct=True
    skips that for generators that are distinct by construction."""
    docs = load_table(spark, sf_small, "documents").limit(200)
    pairs = D.minhash_lsh_candidates(docs, "text", "doc_id")
    clean = sorted(
        map(
            tuple,
            D.jaccard_verify_pairs(
                docs, pairs, "text", "doc_id", threshold=0.3,
                assume_distinct=True,
            ).collect(),
        )
    )
    assert clean  # fixture has near-dups; empty would make the test vacuous
    dup_pairs = D.minhash_lsh_candidates(docs, "text", "doc_id")
    tripled = dup_pairs.unionAll(dup_pairs).unionAll(dup_pairs)
    got = sorted(
        map(
            tuple,
            D.jaccard_verify_pairs(
                docs, tripled, "text", "doc_id", threshold=0.3
            ).collect(),
        )
    )
    assert got == clean


def test_dedup_incremental_near_check_disjoint_ids(spark, sf_small):
    """r7 ADVICE: the unioned shingle relation keys both sides on one id
    column, so a delta id equal to a store id silently corrupts both
    documents' counts.  check_disjoint_ids=True must fail loudly instead."""
    docs = load_table(spark, sf_small, "documents").limit(50)
    delta = docs.filter(F.col("doc_id") < 10)
    store = docs.filter(F.col("doc_id") >= 5)  # ids 5..9 collide
    with pytest.raises(ValueError, match="disjoint"):
        D.dedup_incremental_near(
            delta, store, "text", "doc_id", check_disjoint_ids=True
        )
    disjoint_store = docs.filter(F.col("doc_id") >= 10)
    out = D.dedup_incremental_near(
        delta, disjoint_store, "text", "doc_id", check_disjoint_ids=True
    )
    want = D.dedup_incremental_near(delta, disjoint_store, "text", "doc_id")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_incremental_near_registry_query_keeps_cache_scope(spark, sf_small):
    """r8 scale-killer: the registry block derived .select('doc_id') from
    the scoped operator result and dropped the handle — the weakref
    finalizer unpersisted the shingle cache BEFORE the driver's action ran,
    and the verify's four consumers each recomputed the full shingle
    pipeline (503 s vs 121 s cold at ov100).  The returned DataFrame must
    now own the scope, keeping the cache pinned until the caller drops it."""
    from cdc_wastewater_analysis_ml_spark.operators.caching import _SCOPE_ATTR
    from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    df = QUERIES["dedup_incremental_near"](spark, sf_small)
    gc.collect()
    assert hasattr(df, _SCOPE_ATTR)
    # the shingle cache is still registered (materialized eagerly by the
    # operator's r8 barrier) and survives the construction-site gc
    assert not cache_mgr.isEmpty()
    df.count()
    del df
    gc.collect()
    assert cache_mgr.isEmpty()


def test_get_spark_preserves_a_live_sessions_confs(spark):
    """get_spark must be conf-preserving on a live session (r9): the
    previous builder.getOrCreate()-only form re-applied appName and
    shuffle-partitions onto whatever session was already running —
    embedding the CLI (``__main__.main``, ``tools/explain``) in a test or
    notebook session silently reset spark.sql.shuffle.partitions to 32,
    which re-shuffled bucketed-store join sides sized to the session's
    parallelism (the order-dependent exchange-count flake in
    tests/test_line_dedup.py)."""
    from cdc_wastewater_analysis_ml_spark.session import get_spark

    import warnings as _warnings

    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_name = spark.sparkContext.appName
    # The drop must not be SILENT (r9 ADVICE): an explicitly-requested
    # non-matching setting warns that the live session's value wins.
    with pytest.warns(RuntimeWarning, match="shuffle.partitions"):
        got = get_spark("something-else", shuffle_partitions=7)
    assert got is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
    assert spark.sparkContext.appName == before_name
    # A changed app name alone is also an explicit, dropped request — it
    # must warn too (r10 review: it was the third silently-dropped build
    # arg after master/shuffle_partitions).
    with pytest.warns(RuntimeWarning, match="app.name"):
        assert get_spark("something-else") is spark
    # ...and a matching (or defaulted) request stays warning-free.
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        assert get_spark() is spark


def test_backtick_column_names_through_sql_rendered_ops(spark, sf_small):
    """ADVICE r15 #2: the SQL-rendered paths wrapped identifiers in bare
    backticks, so a text column whose name contains a backtick broke every
    shingle consumer with a ParseException.  Each rendering site now
    escapes through one quoting helper: the fused LSH verify, the n-gram
    Jaccard, tokenize and rhp_sign must accept the odd name and return
    exactly what the plain-named column returns.  Every operator taking an
    id, vector or text column name must accept an odd one too."""
    from cdc_wastewater_analysis_ml_spark.operators import similarity as SIM
    from cdc_wastewater_analysis_ml_spark.operators import text as T

    odd = "we`ird"
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    renamed = docs.withColumnRenamed("text", odd)

    def rows(df, *cols):
        return sorted(map(tuple, df.select(*map(T.name_col, cols)).collect()))

    pair_cols = ("id_a", "id_b", "jaccard")
    assert rows(D.minhash_lsh_verified(renamed, odd, "doc_id"), *pair_cols) == rows(
        D.minhash_lsh_verified(docs, "text", "doc_id"), *pair_cols
    )
    assert rows(D.ngram_jaccard_pairs(renamed, odd, "doc_id"), *pair_cols) == rows(
        D.ngram_jaccard_pairs(docs, "text", "doc_id"), *pair_cols
    )
    assert rows(
        renamed.select("doc_id", T.tokenize(odd).alias("t")), "doc_id", "t"
    ) == rows(docs.select("doc_id", T.tokenize("text").alias("t")), "doc_id", "t")

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    dims = len(emb.first()["embedding"])
    odd_emb = emb.withColumnRenamed("embedding", odd)
    assert rows(
        odd_emb.select("vec_id", SIM.rhp_sign(odd, 0, dims).alias("s")),
        "vec_id", "s",
    ) == rows(
        emb.select("vec_id", SIM.rhp_sign("embedding", 0, dims).alias("s")),
        "vec_id", "s",
    )
    # The id and vector columns are selected by name, never parsed: the
    # signature keeps the odd vector column, and an odd id column survives
    # the LSH self-join's qualified references.
    assert rows(
        SIM.rhp_signature(odd_emb, "vec_id", odd, dims=dims), "vec_id", odd, "rhp_sig"
    ) == rows(
        SIM.rhp_signature(emb, "vec_id", "embedding", dims=dims),
        "vec_id", "embedding", "rhp_sig",
    )
    odd_ids = docs.withColumnRenamed("doc_id", odd)
    assert rows(D.minhash_lsh_verified(odd_ids, "text", odd), *pair_cols) == rows(
        D.minhash_lsh_verified(docs, "text", "doc_id"), *pair_cols
    )
    # Every operator taking an id column, with an odd one.
    for op, cols in (
        (D.simhash_band_candidates, ("id_a", "id_b")),
        (D.ngram_jaccard_pairs, pair_cols),
        (D.substring_kgram_pairs, ("id_a", "id_b", "n_shared_spans")),
    ):
        assert rows(op(odd_ids, "text", odd), *cols) == rows(
            op(docs, "text", "doc_id"), *cols
        ), op.__name__
    exact_cols = ("fp", "doc_id", "dup_count")
    assert rows(D.dedup_exact(odd_ids, "text", odd), "fp", odd, "dup_count") == rows(
        D.dedup_exact(docs, "text", "doc_id"), *exact_cols
    )
    # ...and the fingerprint path with an odd text column.
    assert rows(D.dedup_exact(renamed, odd, "doc_id"), *exact_cols) == rows(
        D.dedup_exact(docs, "text", "doc_id"), *exact_cols
    )
    new, store = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    assert rows(
        D.dedup_incremental_exact(
            new.withColumnRenamed("text", odd), store.withColumnRenamed("text", odd),
            odd, "doc_id",
        ),
        "doc_id", odd,
    ) == rows(D.dedup_incremental_exact(new, store, "text", "doc_id"), "doc_id", "text")

    def near(n, s, id_col):
        return D.dedup_incremental_near(n, s, "text", id_col, check_disjoint_ids=True)

    assert rows(
        near(new.withColumnRenamed("doc_id", odd), store.withColumnRenamed("doc_id", odd), odd),
        odd, "text",
    ) == rows(near(new, store, "doc_id"), "doc_id", "text")
    # A plain name gives the very same plan as before.
    def logical(col):
        return docs.alias("a").select(col)._jdf.queryExecution().logical().toString()

    assert logical(T.name_col("doc_id")) == logical(F.col("doc_id"))
    assert logical(T.name_col("doc_id", "a")) == logical(F.col("a.doc_id"))


@pytest.mark.parametrize("consumer", ["minhash_lsh_verified", "jaccard_verify_pairs",
                                      "dedup_incremental_near"])
def test_verify_threshold_checked_before_any_cache(spark, sf_small, consumer):
    """A threshold <= 0 used to be rejected inside the shared verify
    dispatch, after the consumer had persisted its shingle (and banded /
    candidate) relations — which then stayed pinned for the session."""
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text").limit(200)
    calls = {
        "minhash_lsh_verified": lambda: D.minhash_lsh_verified(
            docs, "text", "doc_id", threshold=0
        ),
        "jaccard_verify_pairs": lambda: D.jaccard_verify_pairs(
            docs, spark.createDataFrame([(1, 2)], "id_a long, id_b long"),
            "text", "doc_id", threshold=0,
        ),
        "dedup_incremental_near": lambda: D.dedup_incremental_near(
            docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"),
            "text", "doc_id", threshold=0,
        ),
    }
    with pytest.raises(ValueError, match="threshold must be > 0"):
        calls[consumer]()
    gc.collect()
    assert cache_mgr.isEmpty()


def test_observed_value_wait_is_bounded(spark):
    """An Observation whose metrics never arrive (here: its DataFrame never
    runs) makes ``Observation.get`` block forever; the CC reader gives up
    after its bound."""
    import time

    from pyspark.sql import Observation

    obs = Observation("never_runs")
    spark.range(5).observe(obs, F.count(F.lit(1)).alias("n"))
    t0 = time.monotonic()
    assert D._observed_value(obs, "n", 0.3) == (False, None)
    assert time.monotonic() - t0 < 5
    ran = Observation("runs")
    spark.range(5).observe(ran, F.count(F.lit(1)).alias("n")).collect()
    assert D._observed_value(ran, "n", 5.0) == (True, 5)


def test_cc_labels_identical_when_observed_sums_never_arrive(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20, 30)] + [(5, 3), (3, 7), (9, 8)],
        ["id_a", "id_b"],
    )

    def labels():
        return sorted(map(tuple, D.connected_components(edges).collect()))

    observed = labels()
    empty = []
    monkeypatch.setattr(
        D, "_observed_value", lambda *a: empty.append(a) or (False, None)
    )
    assert labels() == observed
    assert empty  # every round took the fallback sum
