"""Physical-plan shape assertions: the scale properties (pushdown, pruning,
broadcast strategy, shuffle counts, no row-wise Python on hot paths) that
make these plans survive a 100×/1000× scale-up.  Regressions here are perf
bugs even when results stay correct."""

import re

import pytest
from pyspark.sql import functions as F

from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES


def _plan(spark, sf_small, name: str) -> str:
    df = QUERIES[name](spark, sf_small)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_scan_prunes_and_pushes(spark, sf_small):
    plan = _plan(spark, sf_small, "flagship_weekly_detection_rate")
    # only the needed columns reach the parquet reader
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols <= {"ts", "value"}, cols
    assert "PushedFilters: [IsNotNull(ts)]" in plan


def test_tpch_q5_broadcasts_all_dims(spark, sf_small):
    plan = _plan(spark, sf_small, "tpch_revenue_by_nation")
    # the fact table streams through hash relations: 5 broadcast joins,
    # and the only hash exchange is the final group-by
    assert plan.count("BroadcastHashJoin") == 5
    assert plan.count("Exchange hashpartitioning") <= 1
    # date filter reaches the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_join_semi_topk_is_broadcast_semi(spark, sf_small):
    plan = _plan(spark, sf_small, "join_semi_topk")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_join_asof_single_window_pass(spark, sf_small):
    plan = _plan(spark, sf_small, "join_asof")
    # merge strategy: ONE window over the unioned relation, no join operator
    assert plan.count("Window") == 1
    for join_node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                      "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_node not in plan


def test_no_rowwise_python_on_relational_paths(spark, sf_small):
    """Python must appear only as Arrow-batched eval (pandas UDF / mapInPandas)
    — never row-pickled BatchEvalPython — and never on pure relational ops."""
    for name in (
        "flagship_weekly_detection_rate",
        "agg_conditional_rate",
        "window_lag",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "text_quality_score",
        "tpch_pricing_summary",
    ):
        plan = _plan(spark, sf_small, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name  # these paths are pure JVM
    for name in ("sim_cosine_topk", "sim_cosine_ivf"):
        plan = _plan(spark, sf_small, name)
        assert "BatchEvalPython" not in plan, name  # Arrow-batched only


def test_broadcast_map_join_builds_broadcast_side(spark, sf_small):
    plan = _plan(spark, sf_small, "join_broadcast_map")
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name",
    [
        "metric_roc_auc",
        "metric_average_precision",
        "metric_roc_curve",
        "metric_pr_curve",
    ],
)
def test_metric_curves_have_no_unpartitioned_data_window(spark, sf_small, name):
    """The ROC/PR family must never run a window over the per-threshold
    relation in a single task (#thresholds ≈ #rows for continuous scores).
    Allowed windows are exactly binary_curve's two prefix-sum passes, both
    keyed on the range-partition id ``__pid`` (the in-partition cumsum is
    partitioned by it; the offsets window orders by it over ≤
    shuffle-partitions rows).  AUC/AP additionally must be lag-free — they
    are row-wise delta expressions + one sum."""
    plan = _plan(spark, sf_small, name)
    assert "lag(" not in plan, name
    window_lines = [ln for ln in plan.splitlines() if re.search(r"[+:]- Window ", ln)]
    assert window_lines, name  # binary_curve's prefix sums must be present
    for ln in window_lines:
        assert "__pid" in ln, f"{name}: unpartitioned data window:\n{ln}"


@pytest.mark.parametrize("name", ["metric_roc_auc", "metric_average_precision"])
def test_metric_curves_scan_input_once(spark, sf_small, name):
    """binary_curve's class totals must come from the checkpointed
    per-threshold relation, not a second aggregation of the raw input — at
    scale that second branch is a full re-read of the data.  The raw scan
    lives inside the (single) checkpoint lineage, so the top-level plan must
    show ZERO parquet scans and only ExistingRDD reads of the checkpoint."""
    plan = _plan(spark, sf_small, name)
    scans = len(re.findall(r"Scan parquet|FileScan parquet", plan))
    assert scans == 0, f"{name}: raw input re-scanned outside checkpoint\n{plan}"
    assert "Scan ExistingRDD" in plan, plan


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_embedding_cosine_lsh"])
def test_lsh_candidate_joins_are_equi(spark, sf_small, name):
    """LSH banding must produce an equi join (shuffle/broadcast hash), never a
    nested-loop cross product."""
    plan = _plan(spark, sf_small, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_split_has_no_per_class_data_window(spark, sf_small):
    """The stratified split must never rank a whole class in one task (a
    window partitioned solely by the label puts each class in ONE partition
    — with a binary label, two tasks sort the entire dataset).  Allowed
    windows: the in-partition row_number keyed by the range-partition id
    ``__pid`` (data pass, parallel) and the prefix-offset sum over the
    per-(partition, class) COUNT relation (≤ #partitions·#classes rows)."""
    from cdc_wastewater_analysis_ml_spark.plans import ml
    from cdc_wastewater_analysis_ml_spark.sources import load_table

    ev = load_table(spark, sf_small, "events").withColumn(
        "y", (F.col("value") > 50).cast("int")
    )
    train, test = ml.split_train_test_stratified(ev, "y", 0.2, seed=42)
    plan = train._jdf.queryExecution().executedPlan().toString()
    window_lines = [ln for ln in plan.splitlines() if re.search(r"[+:]- Window ", ln)]
    assert window_lines  # the two-phase passes must be present
    for ln in window_lines:
        if "row_number" in ln:
            # the data-pass rank must be co-keyed by the range-partition id
            assert "__pid" in ln, f"per-class data window:\n{ln}"
        else:
            # only the bounded prefix-offset sum over __cnt may remain
            assert "__cnt" in ln, f"unexpected data window:\n{ln}"


def test_sort_rows_ranked_has_no_single_task_window(spark, sf_small):
    """Global ranking must never run row_number over an empty partitionBy
    (one task sorts everything).  The two-phase form keys the data window by
    the range-partition id; the only other window is the prefix-offset sum
    over per-partition counts."""
    plan = _plan(spark, sf_small, "sort_rows_ranked")
    window_lines = [ln for ln in plan.splitlines() if re.search(r"[+:]- Window ", ln)]
    assert window_lines
    for ln in window_lines:
        if "row_number" in ln:
            assert "__pid" in ln, f"single-task global window:\n{ln}"
        else:
            assert "__cnt" in ln, f"unexpected data window:\n{ln}"


def test_quality_filter_single_scan_single_agg_exchange(spark, sf_small):
    """The funnel is one scan of documents + one partial/final agg pair —
    every signal must fold into the scan stage (no joins, ≤1 hash exchange,
    no Python)."""
    plan = _plan(spark, sf_small, "corpus_quality_filter")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 1
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_contamination_joins_are_equi(spark, sf_small):
    """Contamination must candidate-join on the shingle digest — equi joins
    only, never a nested-loop/cartesian pairing of train × eval."""
    plan = _plan(spark, sf_small, "corpus_contamination")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan


def test_contamination_scans_train_once(spark, sf_small):
    """The train corpus must be shingled exactly once: n_shingles and the
    exploded digests both derive from ONE array_distinct projection (r4
    VERDICT task 3 — the first version paid a second full scan + a
    hits⋈totals join).  Exactly 2 parquet scans total: train + eval, and
    exactly 2 shingle computations in the whole plan — a plain explode
    would let InferFiltersFromGenerate re-inject the full shingle
    expression into a Filter + the scan DataFilters (measured 1.7× slower;
    explode_outer suppresses the inference)."""
    plan = _plan(spark, sf_small, "corpus_contamination")
    scans = len(re.findall(r"Scan parquet|FileScan parquet", plan))
    assert scans == 2, f"train corpus re-scanned:\n{plan}"
    assert plan.count("array_distinct") == 2, (
        f"shingle expression duplicated (inferred generate filter?):\n{plan}"
    )


def test_retention_cohorts_single_fact_scan(spark, sf_small):
    """Cohort retention must read the events fact table ONCE (VERDICT r5
    task 4 — the two-aggregate + user-keyed-join form scanned it twice; at
    100 TB the double fact scan is the query's whole cost).  The cohort
    week is a per-user window-min over the already-distinct
    (user_id, activity_week) relation, which is |users|·|weeks| rows —
    the second exchange moves thousandths of the input."""
    plan = _plan(spark, sf_small, "agg_retention_cohorts")
    scans = len(re.findall(r"Scan parquet|FileScan parquet", plan))
    assert scans == 1, f"events fact table re-scanned:\n{plan}"


def test_tpch_q3_topk_without_global_sort(spark, sf_small):
    """orderBy().limit(10) must plan as TakeOrderedAndProject (per-partition
    top-k + driver merge) — a global Sort exchange materializing the whole
    aggregate would be the 100 TB scale-killer — and the segment-filtered
    customer dim must broadcast."""
    plan = _plan(spark, sf_small, "tpch_shipping_priority")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_tpch_q18_group_topk_plan(spark, sf_small):
    """Q18 analogue: the global top-100 must plan as TakeOrderedAndProject
    (per-partition top-k + driver merge), never a global Sort exchange; and
    the per-orderkey quantity aggregate must partial-aggregate map-side
    before its shuffle (two HashAggregate nodes around one exchange)."""
    plan = _plan(spark, sf_small, "tpch_top_spenders")
    assert "TakeOrderedAndProject" in plan, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan
    assert "partial_sum" in plan, f"no map-side combine on the qty agg:\n{plan}"


def test_tpch_dormant_customers_anti_join_plan(spark, sf_small):
    """Q21/Q22 analogue: NOT EXISTS must plan as a LeftAnti hash/merge join
    (no nested-loop), and the date predicate must push into the orders
    parquet scan so the anti join's build side is only the recent rows."""
    plan = _plan(spark, sf_small, "tpch_dormant_customers")
    assert "LeftAnti" in plan, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, (
        f"date filter not pushed to orders scan:\n{plan}"
    )


def test_funnel_single_hash_exchange(spark, sf_small):
    """The three stacked per-user funnel windows and the per-user collapse
    must all ride ONE user_id hash exchange (plus the final global
    single-partition agg of 4 counters) — a funnel that re-shuffles per
    step is the naive plan this query exists to avoid."""
    plan = _plan(spark, sf_small, "agg_funnel_conversion")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_ivf_index_scan_prunes_cells_dynamically(spark, sf_small):
    """The persisted-IVF query path must read ONLY probed cell directories:
    the cell-partitioned corpus scan needs a dynamic-pruning partition
    filter fed by the broadcast probe relation — without it every query
    scans the whole corpus and the saved layout buys nothing at 100 TB."""
    plan = _plan(spark, sf_small, "sim_ivf_index_persisted")
    scan_lines = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "spark_graft_ivf" in ln
    ]
    assert scan_lines, plan
    for ln in scan_lines:
        assert "dynamicpruning" in ln, f"no partition pruning on cell scan:\n{ln}"


def test_sample_filters_fold_into_scan_stage(spark, sf_small):
    """Hash-threshold sampling is a pure filter: no exchange before the
    aggregate, no join, no Python anywhere."""
    for name in ("sample_hash_fraction", "sample_mixture_weights"):
        plan = _plan(spark, sf_small, name)
        assert plan.count("Scan parquet") == 1, name
        assert plan.count("Exchange hashpartitioning") <= 1, name
        for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                    "BatchEvalPython", "ArrowEvalPython"):
            assert bad not in plan, (name, bad)


def test_resample_mixture_no_shuffle_before_agg(spark, sf_small):
    """explode(sequence) replication happens map-side: the only exchange is
    the final count-by-source aggregate."""
    plan = _plan(spark, sf_small, "sample_resample_mixture")
    assert "Generate explode" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_tpch_q4_semi_join_with_pruned_lineitem(spark, sf_small):
    """Q4 analogue: EXISTS must plan as a LeftSemi hash/merge join carrying
    the cross-side date residual (never a nested loop), the orders date
    range must push into its scan, and the lineitem side must prune to the
    two columns the semi join needs."""
    plan = _plan(spark, sf_small, "tpch_late_order_priority")
    assert "LeftSemi" in plan, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    li_schemas = [s for s in m if "l_orderkey" in s]
    assert li_schemas, plan
    for s in li_schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= {"l_orderkey", "l_shipdate"}, cols


def test_tpch_q14_fact_never_shuffles(spark, sf_small):
    """Q14 analogue: part is a broadcast dim, the date filter pushes into
    the lineitem scan, and the single-group aggregate partial-aggregates
    map-side — the fact table must reach the result with ZERO hash
    exchanges."""
    plan = _plan(spark, sf_small, "tpch_promo_revenue")
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan


def test_tpch_q7_nation_roles_broadcast(spark, sf_small):
    """Q7 analogue: supplier and both nation roles broadcast (3 broadcast
    joins), no nested loop despite the OR pair filter."""
    plan = _plan(spark, sf_small, "tpch_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan


def test_pack_sequences_no_single_task_data_window(spark, sf_small):
    """Concat-and-split packing must compute its global token offset with
    the two-phase partition-offset prefix sum: every window over data rows
    is keyed by the range-partition id; the only un-partitioned window is
    the prefix-offset sum over per-partition totals (≤ #partitions rows)."""
    plan = _plan(spark, sf_small, "corpus_pack_sequences")
    window_lines = [ln for ln in plan.splitlines() if re.search(r"[+:]- Window ", ln)]
    assert window_lines, plan
    for ln in window_lines:
        assert "__pid" in ln or "__tot" in ln, f"single-task data window:\n{ln}"


def test_unigram_logprob_single_tokenize_and_equi_joins(spark, sf_small):
    """Unigram scoring must tokenize the corpus ONCE (the tf relation is
    computed once and reused via scoped persist — InMemoryTableScan on the
    second consumer), join vocab↔tf as an equi join, and keep the only
    nested-loop the allowlisted 1-row corpus-total broadcast."""
    plan = _plan(spark, sf_small, "corpus_unigram_logprob")
    assert "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the only BNLJ permitted is the 1-row scalar total
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_shard_assign_no_single_task_data_window(spark, sf_small):
    """Shard layout must compute pos_in_shard via the partition-offset
    prefix sum: every window over data rows is keyed by the range-partition
    id; only the ≤#partitions offset window is unpartitioned."""
    plan = _plan(spark, sf_small, "corpus_shard_assign")
    window_lines = [ln for ln in plan.splitlines() if re.search(r"[+:]- Window ", ln)]
    assert window_lines, plan
    for ln in window_lines:
        assert "__pid" in ln or "__tot" in ln, f"single-task data window:\n{ln}"


def test_substring_kgram_digest_equi_join(spark, sf_small):
    """Exact-substring pairs must come from an equi self-join on the span
    digest — never a nested loop — and the span relation must be computed
    once (persisted, reused by the guard and both join sides)."""
    plan = _plan(spark, sf_small, "dedup_substring_kgram")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_tfidf_single_tokenize_equi_joins(spark, sf_small):
    """TF-IDF must tokenize once (tf relation persisted and reused by the
    df aggregate + scoring join); the only nested loop is the allowlisted
    1-row corpus-size broadcast."""
    plan = _plan(spark, sf_small, "corpus_tfidf_top_terms")
    assert "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_tpch_q11_single_fact_scan(spark, sf_small):
    """Q11 analogue: the global total must be a re-aggregate of the
    already-reduced per-part relation (InMemoryTableScan — never a second
    lineitem scan) broadcast back as the allowlisted 1-row BNLJ."""
    plan = _plan(spark, sf_small, "tpch_important_parts")
    # both consumers (the filter side and the 1-row total) read the CACHED
    # per-part relation; the lineitem FileScan text appears only inside the
    # shared InMemoryRelation definition, i.e. it materializes once
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_tpch_q13_outer_join_survives(spark, sf_small):
    """Q13 analogue: the priority filter must live in the JOIN CONDITION —
    the plan must keep a LeftOuter join (a WHERE would turn it inner and
    silently drop zero-order customers)."""
    plan = _plan(spark, sf_small, "tpch_customer_distribution")
    assert "LeftOuter" in plan, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan


def test_profile_events_single_scan(spark, sf_small):
    """The profiler must compute every column's stats in ONE aggregate over
    ONE scan of the table (Catalyst Expand for the multi-distinct), never
    one scan per column."""
    plan = _plan(spark, sf_small, "profile_events")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_cdc_merge_full_outer_no_nested_loop(spark, sf_small):
    """The merge must plan as a keyed FullOuter join (sort-merge or hash),
    never a nested loop."""
    plan = _plan(spark, sf_small, "cdc_merge_upsert")
    assert "FullOuter" in plan, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan


def test_corpus_curation_composite_plan(spark, sf_small):
    """The five-stage curation composite must stay one lazy plan: keyed
    equi joins only (no nested loops), and every window over data rows
    keyed — by the range-partition id (packing prefix sum), the content
    fingerprint (exact dedup), or the per-partition totals."""
    plan = _plan(spark, sf_small, "pipeline_corpus_curation")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan
    window_lines = [ln for ln in plan.splitlines() if re.search(r"[+:]- Window ", ln)]
    assert window_lines, plan
    for ln in window_lines:
        assert "__pid" in ln or "__tot" in ln or "md5" in ln, (
            f"unkeyed data window:\n{ln}"
        )


def test_quality_linear_score_is_scan_stage_only(spark, sf_small):
    """The fastText-style linear scorer must run entirely inside the scan
    stage: weights inlined as a literal array, hashed-feature dot product
    as transform/aggregate — NO shuffle, NO Python worker, NO explode.
    At 100 TB this is the difference between scoring the corpus and
    shuffling it."""
    plan = _plan(spark, sf_small, "quality_linear_score")
    for bad in (
        "Exchange hashpartitioning",
        "Exchange rangepartitioning",
        "ArrowEvalPython",
        "BatchEvalPython",
        "Generate explode",
    ):
        assert bad not in plan, plan
    # fan_out's explicit repartition is the only allowed exchange
    assert plan.count("Exchange") <= 1, plan


def test_recall_cost_sweep_invariants(spark, sf_small):
    """Candidate sets are nested by construction (plane p0..p7 signatures
    refine p0..p3; probes(1) is a prefix of probes(2)), so candidate
    counts must be monotone and brute recall exactly 1.  A violation means
    a bucketing bug, not a tuning choice."""
    rows = {
        (r["method"], r["param"]): r
        for r in QUERIES["sim_recall_cost_sweep"](spark, sf_small).collect()
    }
    assert set(rows) == {
        ("brute", 0), ("lsh", 4), ("lsh", 8), ("ivf", 1), ("ivf", 2),
        ("lshm", 9),
    }
    brute = rows[("brute", 0)]
    assert brute["recall"] == 1.0 and brute["hits"] == brute["truth_n"]
    assert (
        rows[("lsh", 8)]["candidates"]
        <= rows[("lsh", 4)]["candidates"]
        <= brute["candidates"]
    )
    assert (
        rows[("ivf", 1)]["candidates"]
        <= rows[("ivf", 2)]["candidates"]
        <= brute["candidates"]
    )
    for r in rows.values():
        assert 0.0 <= r["recall"] <= 1.0
        assert r["hits"] <= r["truth_n"] == brute["truth_n"]
    # r8: the multi-table point exists to FIX the single-table collapse —
    # it must beat both single-table configs on recall while paying less
    # than brute (the OR-amplification trade the operator promises).
    lshm = rows[("lshm", 9)]
    assert lshm["recall"] > max(
        rows[("lsh", 4)]["recall"], rows[("lsh", 8)]["recall"]
    )
    assert lshm["candidates"] < brute["candidates"]


def test_lsh_verify_packed_digest_arrays(spark, sf_small):
    """r11 REVERSAL of the r7 no-arrays pin, on measurement: the verify
    stage now joins packed ``array<long>`` DIGEST rows and counts
    ``size(array_intersect(...))`` per pair — the exploded-digest plan
    replicated every pair once per shingle through the pair-expansion
    exchange, and the sf10 A/B cut that stage ~3× at bit-identical results
    (PROBE_r11; 5527→2203 MB, 81→36 s).  The r7 concern (string
    arrays compress deceptively → engine-chosen broadcast OOM) is carried
    by two guards the plan must keep: the arrays that reach a join are
    64-bit digests hashed map-side (8 B/element, not 10-40 B strings), and
    the engine-wide AQE broadcast cap bounds any build side.  Mechanically:
    array_intersect present, digests computed via xxhash64 transform, no
    raw-shingle string column in any exchange, and no cartesian/nested-loop
    fallback."""
    plan = _plan(spark, sf_small, "dedup_lsh_verified")
    assert "array_intersect" in plan, plan
    assert "xxhash64" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sql_rendered_text_ops_match_column_forms(spark):
    """r15 (opt): tokenize/word_shingles parse their string-argument path
    as ONE SQL expression JVM-side (serial-driver py4j cost per consumer
    build); the contract is that the parsed plan is NODE-IDENTICAL to the
    Column form — any divergence is a silent result change across every
    shingle/tokenize consumer.  Pinned on analyzed plans (expr IDs and
    lambda variable names normalized away) plus values on the edge corpus
    (whitespace runs, empty, null, <n tokens).  The column names include
    one with a backtick: the rendered identifier must be escaped
    (quote_ident), not break the parse."""
    from cdc_wastewater_analysis_ml_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "  The   quick\tbrown fox JUMPS over the lazy dog "),
            (2, ""),
            (3, None),
            (4, "one"),
            (5, "two words"),
            (6, "a b c d e f g"),
        ],
        "id long, text string",
    ).withColumn("we`ird", F.col("text"))

    def _norm(plan: str) -> str:
        return re.sub(r"#\d+", "#", re.sub(r"lambda [a-z_0-9]+", "lambda v", plan))

    cases = [
        (lambda c: T.tokenize(c),),
        (lambda c: T.word_shingles(c, 1),),
        (lambda c: T.word_shingles(c, 3),),
        (lambda c: T.word_shingles(c, 5),),
    ]
    for name in ("text", "we`ird"):
        for (fn,) in cases:
            a = df.select(fn(name).alias("o")).orderBy("id")
            b = df.select(fn(F.col(T.quote_ident(name))).alias("o")).orderBy("id")
            pa = _norm(a._jdf.queryExecution().analyzed().toString())
            pb = _norm(b._jdf.queryExecution().analyzed().toString())
            assert pa == pb, f"{pa}\n!=\n{pb}"
            assert [r.o for r in a.collect()] == [r.o for r in b.collect()]
