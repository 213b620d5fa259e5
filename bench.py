"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is forced end-to-end with the no-op sink (``format("noop")``) so
the full plan executes without driver-side collect overhead distorting the
measurement.

**Median-of-3 protocol (r5+)**: each query runs ``$SPARK_GRAFT_BENCH_RUNS``
(default 3) times back-to-back and ``queries`` reports the per-query
MEDIAN.  Single-shot fixed-order timing produced two rounds of phantom
regressions (r3 ``sim_cosine_ivf``: Python-worker-pool spin-up; r4
``dedup_lsh_verified`` 8.6 s + a ~2× cluster on cheap joins that isolated
re-runs could not reproduce) — ambient noise/GC from heavy neighbors lands
on whichever query runs next.  The median of three is the stable signal
(DEVNOTES r1: ambient swings are ±30% single-shot).  ``value`` is the sum
of medians; ``first_run_total`` preserves the old single-pass semantics
(sum of each query's FIRST run) for cross-round comparison against r1–r4.

**Self-preserving record (r6, VERDICT r5 task 1)**: the driver keeps only
the LAST ~2000 chars of stdout, and r5's per-query ``first_run`` dict pushed
the medians (the signal of record) past that horizon — BENCH_r05 lost the
sum-of-medians and ~34 medians to tail truncation.  The stdout line is now
compact (~1.6 KB: scalar summary first, medians dict LAST so truncation
from the front can never eat them) and the full detail — every per-query
sample of every run — goes to a detail sidecar instead of stdout:
``BENCH_DETAIL.json`` next to this file when ``SPARK_GRAFT_WRITE_DETAIL=1``
(the committed idle-protocol artifact), a per-user tempdir path otherwise
(so ad-hoc / driver / verify-recipe runs can never clobber the committed
record — the recurring r8-r10 trap).  The sidecar writes AFTER the stdout
summary (r11 review), so no sidecar failure can eat the signal of record;
the ad-hoc tempdir write is additionally best-effort (r10 ADVICE: a fixed
shared-/tmp path could pre-exist owned by another user, or be a planted
symlink) while the committed-artifact write fails loudly — a silently
stale BENCH_DETAIL.json next to a fresh summary would corrupt the
recording protocol.

**Warm-up builds one-time artifacts (r6, VERDICT r5 task 1b)**: the
persisted-IVF index build (~9 s, memoized per sf) previously landed in
``sim_ivf_index_persisted``'s first run, inflating ``first_run_total`` by a
setup cost that is not query work.  The warm-up phase now materializes the
index for the benchmark's sf_dir up front, so ``first_run`` measures the
query on every entry.
"""

from __future__ import annotations

import gc
import json
import os
import re
import statistics
import tempfile
import time

from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES
from cdc_wastewater_analysis_ml_spark.session import codegen_compiles, get_spark

#: Headline set: one per operator family — relational core, joins, windows,
#: metric queries, dedup/similarity/text extensions.
HEADLINE = [
    "flagship_weekly_detection_rate",
    "join_left_equi",
    "join_semi_topk",
    "agg_conditional_rate_joined",
    "agg_quantiles_by_key",
    "window_lag",
    "window_running_sum",
    "sort_rows_ranked",
    "topk_categories",
    "math_scalars",
    "dedup_exact_text",
    "metric_roc_auc",
    "metric_average_precision",
    "text_quality_score",
    "text_lang_id",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "sim_cosine_topk",
    "sim_cosine_lsh",
    "sim_cosine_ivf",
    "join_asof",
    "join_range",
    "agg_rollup",
    "agg_distinct_count",
    "dedup_embedding_cosine_lsh",
    "pipeline_feature_engineering",
    "multimodal_media_stats",
    "multimodal_decode_features",
    "tpch_pricing_summary",
    "tpch_revenue_by_nation",
    "agg_session_windows",
    "dedup_lsh_verified",
    "window_trailing_mean_time",
    # r4 additions (corpus-curation family).  Cross-round total comparisons
    # should use the 34 queries above (see DEVNOTES); per-query times remain
    # directly comparable either way.
    "dedup_cluster_cc",
    "corpus_contamination",
    "text_repetition_signals",
    "sample_mixture_weights",
    # r5 additions: the reference's actual end-to-end EP1 pipeline over the
    # synthetic wastewater fixture (5040-row composite; VERDICT r4 task 8),
    # plus the two new scan-stage corpus ops.
    "pipeline_wastewater_ep1",
    "corpus_chunk_documents",
    "embedding_quantize_int8",
    "tpch_shipping_priority",
    "agg_trend_by_key",
    "agg_funnel_conversion",
    "clean_winsorize_by_key",
    "metric_calibration_curve",
    # index build happens on the first call (memoized per sf); the median
    # therefore reports the steady-state query-only path.
    "sim_ivf_index_persisted",
    # r6 session-2 additions: sequence packing + unigram-LM scoring (the
    # training-data-prep tail of the corpus family) and the three new TPC-H
    # join/agg shapes (Q4 exists-semi, Q14 broadcast-ratio, Q7 role-playing).
    "corpus_pack_sequences",
    "corpus_pack_greedy",
    "corpus_unigram_logprob",
    "tpch_late_order_priority",
    "tpch_promo_revenue",
    "tpch_trade_volume",
    # r6 session-2 wave 2: exact-substring dedup, TF-IDF keywords, shard
    # layout.  (dedup_cluster_best re-runs the whole LSH+CC fixpoint that
    # dedup_cluster_cc already times — left out to avoid double-counting.)
    "dedup_substring_kgram",
    "corpus_tfidf_top_terms",
    "corpus_shard_assign",
    # the five-stage curation composite (quality → exact dedup → LSH+CC
    # prune → packing as ONE lazy plan) — the corpus counterpart of
    # pipeline_wastewater_ep1.
    "pipeline_corpus_curation",
    # pipeline_incremental_ingest (r9) is deliberately NOT here: the
    # headline set is 1 query short of the driver's ~2000-char record
    # horizon (tests/test_bench_contract.py), and the composite's story is
    # scale, not sf0.1 wall — it lives in tools/scale_probe DEFAULT_QUERIES
    # (PROBE_r09.json) instead.
]


def write_detail_sidecar(committed: bool, payload: dict) -> str:
    """Write the full per-run detail record; returns the path written.

    Committed mode (``SPARK_GRAFT_WRITE_DETAIL=1``) writes the repo-root
    ``BENCH_DETAIL.json`` artifact directly (repo-owned path; failures must
    propagate loudly — a stale committed record is worse than a crash).
    The ad-hoc path is a FIXED PREDICTABLE name in the shared tempdir, so
    it is written via mkstemp + atomic ``os.replace`` (r11 ADVICE:
    ``open(path, "w")`` on a predictable name FOLLOWS a pre-planted
    symlink and silently reuses an attacker-owned regular file; rename
    replaces either without ever opening it)."""
    if committed:
        path = os.path.join(os.path.dirname(__file__) or ".", "BENCH_DETAIL.json")
        with open(path, "w") as fh:
            json.dump(payload, fh, indent=1)
        return path
    path = os.path.join(
        tempfile.gettempdir(), f"BENCH_DETAIL_last.{os.getuid()}.json"
    )
    fd, tmp = tempfile.mkstemp(
        prefix="BENCH_DETAIL_", suffix=".json", dir=tempfile.gettempdir()
    )
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(payload, fh, indent=1)
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise
    return path


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark("bench")
    # The driver's record keeps only the LAST ~2000 chars of output; a
    # benign JVM WARN emitted during the timed runs (e.g. WindowExec's "No
    # Partition Defined" from the two-phase offset plans, whose window input
    # is the tiny per-partition-offset relation) would spend that budget on
    # noise.  Errors still surface; warnings don't belong in the record.
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/code paths once on the smallest fixture so per-query times
    # measure execution, not first-call initialization: one pure-JVM query
    # (codegen/JIT), one scalar-pandas-UDF query, one mapInPandas query, and
    # one CHAINED mapInPandas→scalar-UDF query (sim_cosine_ivf's shape).  The
    # chained profile needs two Python workers per task — its first execution
    # forks and imports numpy/pandas into a whole second worker pool (~8 s
    # even at sf0.001, measured), which is pool spin-up, not query work: it
    # accounted for sim_cosine_ivf's 7.9 s in BENCH_r03 vs ~1.5 s steady
    # state.  fan_out() repartitions even the tiny fixture to full
    # parallelism, so the small-SF warm-up spins the full pool.
    _force(QUERIES[HEADLINE[0]](spark, "/root/testdata/sf0.001"))
    _force(QUERIES["sim_cosine_topk"](spark, "/root/testdata/sf0.001"))
    _force(QUERIES["multimodal_media_stats"](spark, "/root/testdata/sf0.001"))
    _force(QUERIES["sim_cosine_ivf"](spark, "/root/testdata/sf0.001"))
    # ...then EVERY headline query once at the smallest fixture, so each
    # query's Python paths, worker pools and JVM classes are loaded before
    # its first TIMED run.  Its generated classes stay in the session's
    # codegen cache (sized by get_spark to hold them all) and are reused
    # wherever the benchmark-sf plan generates the same code; a shape
    # whose code depends on the data (join strategy, partition counts) or
    # on the order in which AQE numbers its codegen stages still compiles
    # in its first timed run.  The sidecar's
    # ``codegen_compiles_first_run`` counts what each first run compiled:
    # 10 classes over the 57 queries at sf0.1 (DEVNOTES r17).
    # The four explicit calls above deliberately overlap this loop: they
    # pin the worker-pool spin-up ORDER (chained mapInPandas→UDF profile
    # last) and fail loudly, where the loop tolerates errors.
    for _name in HEADLINE:
        try:
            _force(QUERIES[_name](spark, "/root/testdata/sf0.001"))
        except Exception:
            pass  # warm-up must never fail the bench; the timed run reports
    # One-time artifact: materialize the persisted IVF index for THIS sf_dir
    # now (memoized per sf, ~9 s at sf0.1) so sim_ivf_index_persisted's
    # first_run times the query, not the index build.
    from cdc_wastewater_analysis_ml_spark.plans.registry_scale import _ivf_index_dir

    _ivf_index_dir(spark, sf_dir)

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    medians: dict[str, float] = {}
    first: dict[str, float] = {}
    detail: dict[str, list[float]] = {}
    # Janino compiles per query, read as deltas of the JVM's counter (no
    # job): in the first timed run, and in the remaining runs together.
    compiles_first: dict[str, int] = {}
    compiles_later: dict[str, int] = {}
    for name in HEADLINE:
        samples: list[float] = []
        compiles: list[int] = []
        for _ in range(runs):
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            _force(df)
            samples.append(time.perf_counter() - t0)
            compiles.append(codegen_compiles(spark) - c0)
            # Drop the handle NOW so scoped_persist finalizers release this
            # run's caches before the next run re-registers the same plans
            # (a live prior handle would make CacheManager dedupe the entry,
            # then drop it mid-flight when the old handle is collected).
            del df
            gc.collect()
        medians[name] = round(statistics.median(samples), 3)
        first[name] = round(samples[0], 3)
        detail[name] = [round(s, 3) for s in samples]
        compiles_first[name] = compiles[0]
        compiles_later[name] = sum(compiles[1:])

    # Full per-run detail goes to a sidecar file, NOT stdout: the driver's
    # record keeps only the tail of stdout, and the medians dict must never
    # be pushed past that horizon by lower-value detail.
    #
    # The repo-root BENCH_DETAIL.json is a COMMITTED idle-protocol artifact
    # (sf0.1, machine load < 0.5); unconditionally rewriting it here meant
    # every other bench invocation — the driver's post-commit run, the
    # verify recipe's sf0.01 CLI step — clobbered the committed record,
    # a restore-it-again trap three rounds running (r8-r10).  The artifact
    # is now written only on explicit request (SPARK_GRAFT_WRITE_DETAIL=1,
    # set by the recording protocol); every other run parks the detail in
    # /tmp for ad-hoc diffing.
    # ONE compact JSON line (~1.8 KB): scalar summary first, medians next,
    # and compact DUPLICATES of the two totals ("v" = value, "frt" =
    # first_run_total) at the very END.  The driver's record keeps only the
    # LAST ~2000 chars of stdout, i.e. truncation eats the FRONT of this
    # line — the trailing duplicates guarantee both totals survive even if
    # the headline set grows past the horizon (JSON last-key-wins makes the
    # duplicates harmless to any parser reading the full line).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "unit": "sec",
                "sf": sf,
                "runs_per_query": runs,
                "first_run_total": round(sum(first.values()), 3),
                "value": round(sum(medians.values()), 3),
                "queries": medians,
                "v": round(sum(medians.values()), 3),
                "frt": round(sum(first.values()), 3),
            }
        )
    )

    # Sidecar AFTER the summary (r11 review): the stdout line — the signal
    # of record — can no longer be lost to ANY sidecar failure mode.  The
    # ad-hoc path is per-user in tempdir (r10 ADVICE) and written via
    # mkstemp + atomic rename (r11 ADVICE: open("w") on the fixed
    # predictable name would still FOLLOW a pre-planted symlink; rename
    # replaces it without opening) and best-effort; the COMMITTED
    # idle-protocol artifact
    # (SPARK_GRAFT_WRITE_DETAIL=1) fails LOUDLY instead — a silently stale
    # BENCH_DETAIL.json next to a fresh summary is the recording-protocol
    # inconsistency the opt-in exists to prevent.
    committed = os.environ.get("SPARK_GRAFT_WRITE_DETAIL") == "1"
    payload = {
        "sf": sf,
        "runs_per_query": runs,
        "first_run_total": round(sum(first.values()), 3),
        "first_run": first,
        "samples": detail,
        "medians": medians,
        "value": round(sum(medians.values()), 3),
        "codegen_compiles_first_run": compiles_first,
        "codegen_compiles_later_runs": compiles_later,
    }
    try:
        write_detail_sidecar(committed, payload)
    except OSError as exc:
        if committed:
            raise
        print(f"bench: detail sidecar write failed ({exc}); continuing", flush=True)


if __name__ == "__main__":
    main()
