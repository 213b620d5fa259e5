"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``cdc_wastewater_analysis_ml_spark``; this module
re-exports the registry (``plans/registry.py``) with one twist: the driver
verifies a bounded prefix of ``queries()`` per round (r1 recorded exactly the
first 50 dict entries), so the ordering below puts the queries with the
LEAST-RECENT green driver row first.  Every query still appears; only the
order rotates, so over successive rounds the whole registry accumulates hard
CORRECTNESS coverage instead of re-spending the budget on the same prefix.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from cdc_wastewater_analysis_ml_spark.plans import registry

#: Queries whose implementation changed in round N: a green row from an
#: earlier round no longer certifies them, so they sort as never-verified
#: until a round ≥ N re-verifies them.
#: Keyed by MODULE, not query: any query that routes through a changed
#: module is stale, including transitive consumers (the r2 lesson — the
#: binary_curve change also broke metric_roc_curve/metric_pr_curve, which
#: the old per-query list missed).
_MODULE_CHANGED_IN_ROUND: dict[str, int] = {
    # r4: classification_report gained macro/weighted rows + the confusion
    # localCheckpoint freeze (plans/metrics.py).
    # r16 opt round: the trapezoid and step-AP terms move into shared Column
    # helpers (roc_auc_term, average_precision_term); metric_roc_auc and
    # metric_average_precision use them with unchanged plans, and the new
    # metric_roc_auc_average_precision sums both over ONE binary_curve for
    # evaluate_scored.  Changed functions: metric_roc_auc,
    # metric_average_precision + the three new helpers (binary_curve and
    # the accuracy/confusion/report family untouched).
    "plans/metrics.py": 16,
    # r4: two-phase partition-offset stratified split (plans/ml.py).
    # r14 opt round: evaluate_scored persists the scored relation and
    # pulls its three metric scalars in ONE cross-joined action (the
    # previous three sequential .first() calls each re-executed the
    # model-transform pipeline).  Values computed by the same metric
    # operators, unchanged.  Changed function: evaluate_scored only.
    # r16 opt round: run_reference_scenarios persists the assembled
    # train/test split once (released in a finally) and routes both GBT
    # scenarios through train_gbt (gained max_iter); evaluate_scored sums
    # ROC-AUC and AP over one shared curve.  Metric values bit-identical.
    # Changed functions: train_gbt, evaluate_scored,
    # run_reference_scenarios.
    "plans/ml.py": 16,
    # r10: the hashed/semi-join verify is adopted by the remaining
    # consumers (r9 VERDICT task 1) — jaccard_verify_pairs and
    # dedup_incremental_near now route _verify_jaccard_exploded_hashed
    # (digest keys unconditional; adaptive per-side semi-join reduction
    # behind the PROBE_r09-evidenced gates), and the helper itself gained
    # per-side reduce_a/reduce_b flags for the asymmetric delta-vs-store
    # shape (minhash_lsh_verified's call sites updated in kind).  Changed
    # functions: _verify_jaccard_exploded_hashed, minhash_lsh_verified,
    # jaccard_verify_pairs, dedup_incremental_near — consumers below are
    # every query routing through any of them (call-path granularity per
    # the r8/r9 precedent; connected_components and the candidate
    # generators are byte-untouched).  Session 2 (r10 review): the
    # barrier+gate block is deduplicated into _adaptive_hashed_verify,
    # which now gates each side's reduction on its DISTINCT candidate-id
    # count (the pair-count proxy disabled the side-A reduction in the
    # asymmetric case it was built for) and persists a private projection
    # instead of the caller's pairs handle — same consumer set.  Session 3
    # (r10 review): threshold validated BEFORE the eager barrier (error
    # path only — a failing call no longer orphans the private pair
    # cache), and the stat-less estimate sentinel lowered 2^60 → 2^50 to
    # catch Project-width-scaled sentinels (routing-only for fictitious
    # estimates; every real input's plan and results unchanged, both
    # paths result-equivalent by test) — same consumer set.
    # r11: (a) ngram_jaccard_pairs self-joins on xxhash64 shingle digests
    # by default (VERDICT r10 task 1 — the last string-keyed shuffle in
    # the family; null-guarded because xxhash64 skips null args), and
    # (b) BOTH verify helpers (_verify_jaccard_exploded{,_hashed}) publish
    # the RAW integer-quotient jaccard and filter on it instead of
    # round(·, 6) — the quality_linear_score boundary class (integer/
    # integer quotients are bit-identical cross-engine; rounding them is
    # the only divergent step).  Changed functions: ngram_jaccard_pairs +
    # the two verify helpers — consumers = every query routing through
    # them (call-path granularity; candidate generators, simhash,
    # embedding and incremental-exact paths are byte-untouched).  Session
    # additions, same round: (c) the packed-array verify is ADOPTED as the
    # _HASHED_VERIFY_IMPL seam default (sf10 A/B: lsh_verified 5527→2203 MB
    # at bit-identical checksums — same consumer set as (b)), and
    # (d) substring_kgram_pairs keys its span self-join on xxhash64 longs
    # instead of md5 hex strings (sf10 2300→987 MB; + dedup_substring_kgram
    # to the consumer set).
    # r12 (ADVICE r11): BOTH digest-verify impls null-guard their xxhash64
    # shingle digests — xxhash64 SKIPS null args (returns the bare seed
    # hash), so user-supplied pairs of null-text docs ([NULL] shingle
    # arrays) previously verified at jaccard=1.0 where the string plan
    # returns nothing (registry queries unaffected: null docs never
    # band-match — but module rows re-verify anyway).  Changed functions:
    # _verify_jaccard_exploded_hashed + _verify_jaccard_packed only —
    # call-path consumers = the verify-route queries; ngram/kgram route
    # their own digest plans (untouched, r11-guarded) and keep r11 rows.
    # r12 session 2: the smaller-side-oriented packed verify lands behind
    # the _ORIENT_SIZED_VERIFY seam (DEVNOTES r11 design (b)) — the fused
    # operator and size-annotated candidates (minhash_lsh_candidates
    # with_sizes=True) orient the pair expansion and apply the provable
    # size-ratio prefilter; minhash_signatures/banded_minhash gained the
    # optional size column (default-off, plans byte-identical when off,
    # but module rule: their consumer queries re-verify too).
    # r13 (ADVICE r12): the size annotations carry a shingle_n metadata
    # stamp (minhash_lsh_candidates) and jaccard_verify_pairs validates it
    # — a generator/verify width mismatch now raises instead of silently
    # mis-prefiltering, and unstamped caller sizes are stripped to the
    # always-correct unsized plan.  Changed functions: those two only.
    # r14 (ADVICE r13 #1): the unstamped-size strip path re-homes scoped
    # cache pins via transfer_cache_scope instead of a bare rebind (the
    # pins otherwise stayed on the caller's dead handle and generator
    # caches could unpersist early — performance-only, results
    # unaffected).  Changed function: jaccard_verify_pairs only.
    # r15 opt round (b): substring_kgram_pairs generates its guarded pairs
    # from a BOUNDED per-bucket collect_list + explode² (every surviving
    # bucket ≤ max_bucket_size by the hot-span guard) instead of the span
    # self-join — one cache and the self-join's sorts removed; checksums
    # identical at sf0.01/sf0.1; unguarded callers keep the AQE-splittable
    # self-join.  Changed function: substring_kgram_pairs.
    # r15 opt round: connected_components fuses the per-round convergence
    # sum into the round's eager localCheckpoint job via observe()
    # (CollectMetrics pass-through; same sum expression, same decimal(38,0)
    # cast, same None-on-empty semantics) — 2 jobs/round + 2 init jobs
    # removed from every CC consumer serial tail (dedup_cluster_cc
    # 24→20 jobs, pipeline_corpus_curation 40→36).  Changed function:
    # connected_components only — consumers = the four CC-routing queries.
    # r16 (simplicity): the candidates→verify family collapses to the
    # packed-digest plan that ran by default — the exploded string and
    # exploded digest plans, their three pinned A/B switches and the
    # hash_verify_shingles option are deleted, and the small/big dispatch
    # the three consumers each repeated becomes one helper
    # (_verify_jaccard).  Plans and job counts unchanged on the default
    # path; ngram_jaccard_pairs's digest projection is unconditional.
    # minhash_signatures/_bands_from_sig/minhash_lsh_verified render their
    # id column through the shared quote_ident helper (plain names render
    # as before).  Changed functions: minhash_signatures, _bands_from_sig,
    # the packed plans, the dispatch, minhash_lsh_verified,
    # ngram_jaccard_pairs, jaccard_verify_pairs, dedup_incremental_near.
    # Later in r16: the three verify consumers check ``threshold`` before
    # persisting anything (error path only); every id/vector column
    # reference goes through text.name_col (the same resolved attribute for
    # plain names — plans unchanged); connected_components reads its
    # observed label sum with a bounded wait and falls back to an explicit
    # sum job (same value).  Changed functions add simhash,
    # simhash_band_candidates, substring_kgram_pairs, the embedding pair
    # generators and connected_components.
    "operators/dedup.py": 16,
    "operators/caching.py": 5,
    # r6: chunk_documents rejects stride > chunk_tokens (ADVICE r5 #1 —
    # additive guard; module-granularity rule → whole corpus family, which
    # fully re-verified in the r5 prefix so nothing rides an older row).
    # r15 opt round: pack_token_stream splits into a text entry (fan_out +
    # token_count, unchanged semantics) delegating to the new
    # pack_token_counts (identical cumsum/explode tail over precomputed
    # (id, count) rows; non-positive counts dropped exactly as empty docs
    # were) — equivalence test pins text-form == counts-form spans.
    # Changed functions: pack_token_stream + new pack_token_counts —
    # consumers = the two queries routing either.
    # r12: contamination_overlap narrows its join digests md5-hex →
    # null-guarded xxhash64 (sf10: dominant exchange 971→402 MB, query
    # 1285→597 MB, steady wall ~25%↓; oracle unchanged — collision bound
    # rationale as the r11 ngram/kgram narrowings).  Changed function:
    # contamination_overlap only — call-path consumer = its one query;
    # every other corpus op is byte-untouched and keeps its latest row.
    "operators/corpus.py": 15,
    # r5: fraction_to_hex_threshold(1.0) keeps the 'ffffffff' draw
    # (r4 ADVICE #1).
    "operators/sampling.py": 5,
    # r10: one stale comment rewritten in q_dedup_cluster_cc (the verify
    # is now the digest-keyed plan, r10 adoption) — comment-only,
    # AST-neutral; dedup_cluster_cc re-verifies anyway via the
    # operators/dedup.py entry.
    # r12: the cc block passes with_sizes=True so its verify rides the
    # size-annotated oriented packed plan (result-neutral, A/B'd).
    # r14 (broadcast audit): q_pipeline_corpus_curation's keep-anti-join
    # gains the gated explicit broadcast of the dropped-id set
    # (plan-deterministic, byte-neutral at the fixture, result-identical).
    # r14 opt round: q_dedup_cluster_cc swaps the candidates+verify
    # composition for the fused minhash_lsh_verified (one staged shingle
    # relation instead of two independent corpus passes; result-identical
    # by the fused operator's contract), and q_corpus_contamination drops
    # its registry-side fan_out (the operator fans both inputs internally
    # — stacked-exchange pattern, plan-only).  Changed functions: those
    # three builders only.
    # r15 opt round: q_pipeline_corpus_curation's kept/pack tail goes
    # TEXT-FREE — the survivor branch recomputes the gate → keep-min
    # window over a narrow (doc_id, fingerprint, token_count) projection
    # and feeds pack_token_counts, so the fingerprint-window exchange
    # carries ~30 B/row instead of document text and packing's tokenize
    # pass disappears (shuffle write 6.51→4.51 MB at sf0.1; oracle
    # hash-identical at sf0.001/0.01/0.1).  Changed function: that one
    # builder only.
    # r16: comments only (the deleted verify_ab reference, the stale
    # "ded feeds TWO consumers" note, the verify-rows note) — AST-neutral;
    # its dedup queries re-verify through the operators/dedup.py entry.
    "plans/registry_corpus.py": 16,
    # r6 session 2 NEW module: two-phase partition-offset global prefix sum
    # (consumed by the new corpus_pack_sequences + corpus_shard_assign).
    "operators/prefix.py": 6,
    # r6 session 2 NEW module: deterministic shard assignment/writer.
    "operators/shards.py": 6,
    # r6 session 2 NEW modules: single-pass column profiler + CDC merge
    # (batch op + foreachBatch streaming form).
    "operators/profile.py": 6,
    # r7: merge_upsert rejects inputs colliding with the internal presence
    # markers (r6 ADVICE — additive guard; module-granularity rule).
    "operators/cdc.py": 7,
    "streaming/cdc.py": 6,
    # r8: the q_dedup_incremental_near block now transfers the operator's
    # cache scope onto its projection (scale-killer fix — the dropped
    # handle used to unpersist the shingle cache before the driver's
    # action; results identical, plan identical, only cache lifetime
    # changes).  AST-affected set = that one block.
    # r11: three ORACLE helpers drop the boundary-class round() on
    # integer-quotient jaccard/recall (_lsh_verified_sql,
    # _incremental_near_sql, _RECALL_SQL) — consumers = their blocks plus
    # the cross-module importers (registry_corpus composes
    # _lsh_verified_sql into the cc/best/curation closures;
    # registry_stream_ext re-exports _incremental_near_sql) — and the
    # three sketch blocks (agg_approx_distinct/quantiles, freqitems) are
    # converted from rows-only to oracle-gated exact+within_tol relations
    # (VERDICT r10 task 5).
    # r12: the two boundary_deferred F.round sites convert to raw
    # int-quotient publication on their scheduled round (tools/
    # round_audit.py) — avg_bytes (multimodal_media_stats) and avg_qty
    # (tpch_pricing_summary), oracle round() dropped in kind — and
    # sim_cosine_ivf_kmeans converts from rows-only to oracle-gated
    # (VERDICT r11 task 3).  AST-affected set = those three blocks.
    "plans/registry_scale.py": 12,
    # r7: _AUG_CTE/_augmented_docs id offset 100000 → 10^10 (the sf10 probe
    # collided the old offset with real doc_ids — results of every
    # augmented-corpus query change).  Cross-module consumers via the
    # _augmented_docs/_lsh_verified_sql imports are listed here too.
    # r11: AST-affected block = q_ngram_jaccard only (raw-quotient
    # publication, oracle round() dropped in kind) — consumer set trimmed
    # to it; every other r7-listed consumer's block is byte-untouched and
    # keeps its latest row.
    # r12: the metrics-family boundary_deferred F.round sites convert to
    # raw int-quotient publication on schedule (accuracy; report
    # precision/recall/f1 incl. macro/weighted rows; roc_curve tpr/fpr;
    # pr_curve precision/recall), oracle round() dropped in kind —
    # AST-affected set = those four blocks.
    # r14 opt round: _augmented_docs drops its outer fan_out (every
    # consumer operator fans internally; the stacked repartition was a
    # redundant second full-width exchange of the corpus text at the
    # fixture; plan-only, results partition-invariant).  AST-affected
    # set = _augmented_docs; consumers = every query routing it.
    # r16: q_ngram_jaccard's docstring points at the surviving verify plan
    # — AST-affected block = that one query.
    "plans/registry_ext.py": 16,
    # r12: pipeline_feature_engineering publishes user_target_mean as the
    # raw avg(0/1) int quotient and feeds the same raw value into
    # interact_v_mean's portable floor-rounding (scheduled
    # boundary_deferred conversion; oracle mirrors both) — AST-affected
    # set = that one block.
    # r14 (VERDICT r13 task 8): five rows-only model-fit queries upgraded
    # to HASH-gated invariant relations (exact split size + Spark-side
    # quality booleans; ml_scaler_pca_k gets a closed-form eigenvalue
    # oracle).  Changed functions: the five upgraded builders + the two
    # new helpers; ml_reference_scenarios_full and the EP1 block untouched.
    "plans/registry_ml.py": 14,
    # r14 opt round (first listing for this module): engineer_features
    # batches its six fill literals (3 medians + 3 deterministic modes)
    # into ONE aggregate job instead of six serial scalar actions —
    # value-identical (each scalar's input column is unmutated at its
    # original read point; F.mode(col, True) == agg_mode_global's pinned
    # tie-break, equivalence-tested).  Consumers = the two registry
    # queries routing engineer_features.
    "plans/features.py": 14,
    # r4: global_row_number added (operators/windows.py) and wired into
    # sort_rows_ranked; the pre-existing window ops are textually unchanged
    # but module-granularity staleness is the rule (r2 lesson).
    "operators/windows.py": 4,
    # r4 result-neutral touches, recorded for honesty with their reasoning:
    # relational.py (join_salted guard-set relaxed — accepts more args,
    # existing results unchanged), similarity.py (recall_at_k empty-input
    # guard), text.py (dead expression removed), streaming/ops.py
    # (docstring + unreachable empty-iterator guard).  Consumer sets are
    # empty where no query's result multiset can change.
    "operators/relational.py": 4,
    # r8: multi-table OR-amplified RHP-LSH ADDED (rhp_signature_arrow /
    # lsh_multi_scored / cosine_topk_lsh_multi — pure function additions,
    # every pre-existing op textually unchanged); consumers = the new query
    # + the sweep that now calls the new path.
    # r11: recall_at_k publishes the raw hits/truth_n integer quotient
    # (boundary-class round removed; see the r11 dedup.py entry) —
    # consumers = the two recall queries.
    # r15 opt round: rhp_sign/rhp_signature render the whole sign
    # expression as SQL parsed in ONE gateway call per plane/signature —
    # F.lit(list) expands into one py4j round trip per coefficient (512/
    # build) and each HOF lambda costs several more; ~1.4 s of
    # sim_cosine_lsh's plan build was socket round trips (cProfile).
    # Parsed plan node-identical; signatures bit-identical at 6
    # (sf, planes) combos.  Changed functions: rhp_sign + rhp_signature +
    # new _rhp_sign_sql — consumers = queries routing rhp_signature.
    # r14 opt round: rhp_sign sources its ±1 coefficients from the shared
    # Python-side _rhp_plane_matrix as ONE literal array per plane instead
    # of a Catalyst transform-over-md5-of-constants (higher-order lambdas
    # are never constant-folded, so every row recomputed planes×dims md5
    # hashes and the analyzer paid ~1.4 s per signature build).  Values
    # bit-identical (same derivation as the Arrow path; fold order
    # unchanged).  Changed function: rhp_sign only — consumers = queries
    # routing rhp_sign/rhp_signature.
    # r16 (ADVICE r15 #2/#5): rhp_sign/rhp_signature render the column
    # name through quote_ident (identical SQL for plain names); rhp_sign's
    # hint widens to Column | str.  Consumers = queries routing them.
    # Later in r16: every id/vector column reference goes through
    # text.name_col (the same resolved attribute for plain names — plans
    # unchanged).  Changed functions add cosine_topk_bruteforce,
    # cosine_topk_lsh, cosine_topk_ivf, fit_ivf_centroids, lsh_multi_scored.
    "operators/similarity.py": 16,
    # r15 opt round: tokenize becomes the single-regex form
    # split(trim(lower(x)), '\s+') — value-identical to splitting the
    # normalize_text collapse on single spaces (bit-identity verified on
    # all fixture SFs + augmented corpus + empty/whitespace/null edges;
    # the r14 microbench measured ~20% off every tokenize pass, deferred
    # then only for rotation budget).  Also r15 (opt): tokenize and
    # word_shingles parse their string-argument path as ONE SQL expression
    # JVM-side (the rhp_sign lesson) — analyzed-plan-identical to the
    # Column forms (pinned by tests/test_plan_shapes.py).  Module rule: every
    # tokenize/token_count/word_shingles/lang_id consumer re-verifies — no
    # overlay, full route set (47 queries, fits the 50-row prefix).
    # r16 (ADVICE r15 #2): tokenize/word_shingles render the column name
    # through the new quote_ident helper (backticks escaped) — identical
    # SQL for plain names, so plans are unchanged; module rule again, no
    # overlay, full route set.  Later in r16: the additive name_col helper
    # (quoted column reference), same rule.
    "operators/text.py": 16,
    # r7: RUNTIME_CONFS gained canChangeCachedPlanOutputPartitioning=true —
    # a PHYSICAL-layout conf (AQE may coalesce cached-plan output
    # partitions).  Result multisets are partition-layout invariant by house
    # rule (tests/test_partition_invariance.py property-checks it), so the
    # consumer set is empty; the r7 prefix empirically re-verifies the
    # heaviest cached-plan users (the whole dedup family) anyway via the
    # operators/dedup.py entry.
    # r9: get_spark became conf-preserving on a LIVE session (returns it
    # after asserting RUNTIME_CONFS instead of letting builder.getOrCreate
    # re-apply appName/shuffle-partitions onto it).  Pure session-plumbing:
    # no RUNTIME_CONFS value changed, a fresh-session build is conf-
    # identical, and result multisets are partition-layout invariant by
    # house rule (tests/test_partition_invariance.py) — consumer set stays
    # empty, same basis as the r7 entry above.
    # r10: the reuse path WARNS when an explicitly-passed master /
    # shuffle_partitions differs from the live session's (r9 ADVICE — the
    # silent-drop was intended but unsignalled).  Warning-only: no conf is
    # set differently, consumer set stays empty.  Session 3: the default
    # app-name literal hoisted into _DEFAULT_APP_NAME (shared by signature
    # and comparison — behavior-neutral, consumer set stays empty).
    # r14 opt round: RUNTIME_CONFS adds
    # spark.python.sql.dataFrameDebugging.enabled=false — driver-side
    # error-message enrichment off (a Python traceback walk + extra py4j
    # round trip per DataFrame call, ~half of every query's plan-
    # construction time).  Results unaffected by construction; consumer
    # set stays empty, same basis as the r7/r10 entries.
    # r15 opt round: apply_runtime_confs memoizes per session object — the
    # loaders call it on EVERY table load, so re-asserting the same values
    # cost ~40 py4j round trips of serial driver time per query build.  No
    # conf VALUE changes, nothing in the engine mutates these confs after
    # the first assertion, and a memo miss (new wrapper object) just
    # re-applies — results unaffected by construction; consumer set stays
    # empty, same basis as the r7/r10/r14 entries.
    # r16: a local session this module launches starts its driver JVM from
    # a cached class-data archive (JVM flags and an empty SPARK_CONF_DIR
    # for the launch only; the default conf dir it replaces holds only
    # *.template files Spark never reads).  No conf value a query sees
    # changes — consumer set stays empty, same basis as above.
    "session.py": 16,
    # r7: docstring-only (Pillow injection recipe, VERDICT r6 task 8) — no
    # executable change, consumer set empty.
    "operators/multimodal.py": 7,
    # r4: load_table gained _normalize_event_time — a real type-semantics
    # change on events.ts.  r4 listed only the new roundtrip queries as
    # consumers (local parity re-proof stood in for the rest); the r4 judge
    # rightly called that an exemption the rule exists to avoid, so the
    # consumer set now includes the pre-r4-green ts readers it identified —
    # they re-verify in r5 instead of riding pre-normalization green rows.
    # r14 opt round: scan_parquet memoizes the INFERRED SCHEMA per
    # (path, mtime, size) and re-reads with an explicit schema — skips the
    # driver-side footer-inference job (~45 ms/table/build; a 6-table
    # TPC-H build paid six).  Metadata-only: the cached schema is exactly
    # what inference returns for the same bytes, the key invalidates on
    # any rewrite, and every run still computes results from the parquet
    # input.  No query's result multiset can change — consumer set empty,
    # same basis as the session.py conf entries.
    # r15 (VERDICT r14 #2): the schema-memo key folds in leaf data files'
    # (name, mtime_ns, size) for directory-shaped paths — an in-place
    # part-file overwrite preserving the filename need not bump the dir
    # stat, so the r14 key could serve a stale schema across a schema-
    # changing rewrite.  Metadata-only as before (results always computed
    # from the parquet bytes; invalidation strictly widens) — consumer set
    # stays empty, same basis as the r14 entry; regression test pins the
    # in-place-rewrite case.
    # r16 (ADVICE r15 #1): a directory with subdirectories (hive
    # partitions) skips the schema memo — a nested rewrite changes neither
    # the root stat nor any top-level leaf.  Metadata-only, invalidation
    # strictly widens — consumer set stays empty.
    "sources/readers.py": 16,
    # r5: stream_interval_join ADDED (pure function addition, existing ops
    # textually unchanged) — module-granularity rule applied anyway: the
    # whole streaming consumer family re-verifies rather than arguing
    # neutrality (r4 judge, What's-wrong #4).
    "streaming/ops.py": 5,
    # r4: scan/sink JSON+ORC additions (see sources/readers.py entry);
    # recorded retroactively at r13 when the overlay gained its
    # round-match assert — the entry was an inert consumers row before.
    "sources/sinks.py": 4,
    # r6 NEW modules (consumers = their one new query, never verified):
    # foreachBatch incremental near-dedup + its registry file.
    "streaming/neardup.py": 6,
    # r7: _delta_docs id offsets follow the _AUG/_NOVEL constants.
    "plans/registry_stream_ext.py": 7,
    # r13: (a) stream_conditional_rate publishes the raw 100.0*avg(0/1)
    # detection_rate (the last scheduled boundary_deferred site; the
    # F.round wrapper and the oracle round() drop together); (b) the
    # _disordered_events_dir fixture builder is rebuilt Spark-side
    # (VERDICT r12 task 4 — distributed two-phase rank + expression file
    # assignment + executor writes replace the whole-table toPandas; the
    # emitted watermark-prefix set is unchanged, module rule re-verifies
    # the consumer anyway).  AST-affected set = those two blocks.
    "plans/registry_stream.py": 13,
    # r8: sim_recall_cost_sweep gains the lshm (multi-table) row and the
    # new sim_cosine_lsh_multi block lands (those two re-greened r8-r10).
    # r10 session 3: quality_linear_score's `score` column is now the RAW
    # IEEE quotient of its two exact integer columns instead of
    # round(·, 6) — an sf0.1 oracle sweep caught the rounding diverging
    # cross-engine on exact .5-at-the-7th-digit boundaries (3 of 112
    # boundary rows flipped; see the query docstring).  AST-affected set =
    # that one block.
    # r11: _sweep_row / _sweep_row_sql publish the raw hits/truth_n
    # quotient (same boundary class) — AST-affected set = the sweep block.
    # r15 opt round: quality_linear_score's milli-weight array literal is
    # built with one F.expr instead of 64 per-element lit() py4j round
    # trips (same IntegerType array; the rhp_sign lesson) — AST-affected
    # set = that one block.
    "plans/registry_quality.py": 15,
    # r8: operators/analytic.py WIRED (r7 judge task 1 — landed in the r7
    # snapshot with zero consumers): top_bigrams negative-slice crash fixed
    # (greatest(n-1, 0)); all six ops now gated by the new
    # plans/registry_analytic.py oracle queries + edge tests.
    "operators/analytic.py": 8,
    "plans/registry_analytic.py": 8,
    # r7/r8: registry.py diffs were tail imports only (registry_quality,
    # registry_analytic) — empty AST-affected query sets, previously listed
    # as duplicate dict keys at file granularity; the r7 entry was SHADOWED
    # by this one (last-key-wins) and is folded in here (r12 review — a
    # duplicate-key guard now fails the test suite on any recurrence).
    # r12: agg_conditional_rate + agg_conditional_rate_joined publish the
    # raw 100.0*avg(0/1) / 100.0*detected/total quotients (scheduled
    # boundary_deferred conversion; oracle round() dropped in kind) —
    # AST-affected set = those two blocks (re-greened in the r12 prefix).
    # r13: the flagship's 100.0*avg(0/1) detection_rate converts to raw
    # int-quotient publication on its scheduled round (the LAST
    # boundary_deferred site in plans/registry.py; oracle round() dropped
    # in kind) — AST-affected set = the q_flagship block.
    "plans/registry.py": 13,
    # r10: compact_small_files only (r9 ADVICE — null-safe slot join so
    # NULL hive-partition rows survive compaction, deterministic
    # non-partition-column salt draw).  Write-path only, no registry
    # consumer; _bucket/zorder untouched, so layout_zorder_key keeps its
    # r9 row (call-path granularity).
    "operators/layout.py": 10,
    # r9: _bucket_sql mirrors the greatest(…, 0) clamp term for term.
    "plans/registry_layout.py": 9,
    # r9: build_line_store/merge_line_counts drop the never-used id_col
    # parameter (r8 ADVICE #4 — occurrence-based counts need no document
    # identity; no in-repo caller passed it, so results are byte-identical).
    # Call-path granularity per the r8 dedup.py precedent: the two changed
    # functions are reached only by the incremental/merge queries —
    # corpus_line_dedup (remove_hot_lines) and corpus_hot_lines
    # (line_occurrence_counts) route through untouched functions and keep
    # their r8 rows.
    # r14 (broadcast audit, VERDICT r13 task 3): _strip_and_reassemble
    # gains the counted-gate explicit broadcast of the hot digest set
    # (AQE refused it at sf10mf — the corpus-sized line relation shuffled
    # on __dig; now −51% bytes on corpus_line_dedup), and
    # remove_hot_lines_vs_store semi-reduces the store side under the
    # same gate before a broadcast hot lookup (the left-outer shape could
    # never broadcast the delta side, so the store shuffled full-size,
    # contradicting the docstring's own claim).  Result-identical, plan
    # tests pinned.  Changed functions: those two (+ the new gate
    # constant); consumers = every query routing either.
    "operators/lines.py": 14,
    # r10: the composite's 4-slice delta CTE moves into the shared
    # _INGEST_DELTA_CTE constant (byte-identical oracle text, verified;
    # _ingest_sql is AST-affected so the composite re-verifies) and the
    # new pipeline_ingest_store_refresh block lands (r9 VERDICT task 5 —
    # the post-batch store-refresh artifact, oracle-gated end-to-end from
    # the composite's own delta via merge_line_counts_bucketed).  Session 2
    # additionally splits _ingest_stages_sql out of _ingest_sql
    # (composite oracle text byte-identical by construction) and adds the
    # new stream_incremental_ingest block.
    # r11: _ingest_stages_sql drops the boundary-class round() on the
    # near-dedup jaccard filter (raw quotient, matching the operator) —
    # consumers = the two queries composing it; pipeline_ingest_store_
    # refresh uses only the unchanged _INGEST_DELTA_CTE and keeps its row.
    "plans/registry_lines.py": 11,
    # r10 NEW module: foreachBatch streaming twin of the WHOLE ingest
    # composite (r9 VERDICT "What's missing #4") — line clean → exact →
    # near → quality gate chained per micro-batch, counts side-output.
    "streaming/ingest.py": 10,
    # r9 NEW module: foreachBatch streaming twin of the line-dedup ingest
    # (clean-vs-static-store per micro-batch + per-batch counts side-output
    # for the order-independent store refresh).
    "streaming/lines.py": 9,
}
# r6 onward: registration is MECHANICAL (VERDICT r5 task 3) — every .py
# under the package touched since the previous round's driver commit MUST
# appear above at the current round, enforced by
# tests/test_staleness_registration.py (git-diff file list ⊆ this map;
# consumer sets for registry files are additionally checked by AST
# block-diff against the base commit, so "textually additive" is a computed
# fact, not a judgment call).

#: Per-(module, round) AST-affected consumer sets — the NARROWING overlay.
#: The FULL forward route map (module -> every query that transitively
#: routes through it) is DERIVED from imports + call sites at import time
#: (tools/staleness.derive_module_routes) and is the fallback whenever a
#: module's registered round has no overlay entry here: bumping a module's
#: round in ``_MODULE_CHANGED_IN_ROUND`` without re-deriving the affected
#: subset in the same diff stales the module's FULL route set instead of
#: silently inheriting a previous round's trim (ADVICE r12 #3 — the old
#: single hand-map encoded only the latest trim, so invalidation depended
#: on per-round manual re-expansion discipline).
#:
#: Every key's round must equal the module's current entry in
#: ``_MODULE_CHANGED_IN_ROUND`` (asserted below): when a round bumps, the
#: old overlay entry must be deleted and a new one justified in the same
#: diff — or omitted, accepting the full-route fallback.  Per-round
#: judgment rationale lives in the ``_MODULE_CHANGED_IN_ROUND`` comments
#: and git history.
_ROUND_AFFECTED: dict[tuple[str, int], tuple[str, ...]] = {
    # r16: metric_roc_auc / metric_average_precision (term helpers) and the
    # fused helper evaluate_scored now calls — call-path consumers only
    # (metric_roc_curve / metric_pr_curve route binary_curve, untouched).
    ("plans/metrics.py", 16): (
        "metric_roc_auc",
        "metric_average_precision",
        "ml_gbt_metrics",
        "ml_linear_probability_metrics",
        "ml_gbt_pca_metrics",
        "ml_linear_probability_pca_metrics",
        "ml_reference_scenarios_full",
    ),
    # r14: the five hash-gate upgrades (call-path: only the five upgraded
    # builders + their two new helpers changed; pipeline_feature_engineering
    # and the EP1/wastewater block are byte-untouched this round).
    ("plans/registry_ml.py", 14): (
        "ml_gbt_metrics",
        "ml_linear_probability_metrics",
        "ml_scaler_pca_k",
        "ml_gbt_pca_metrics",
        "ml_linear_probability_pca_metrics",
    ),
    # r16: train_gbt, evaluate_scored and run_reference_scenarios changed —
    # consumers are the queries routing any of them (ml_split_stratified_counts
    # and ml_scaler_pca_k route split/scaler/PCA helpers only and keep their
    # rows; ml_reference_scenarios_full is rows-only by design).
    ("plans/ml.py", 16): (
        "ml_gbt_metrics",
        "ml_linear_probability_metrics",
        "ml_gbt_pca_metrics",
        "ml_linear_probability_pca_metrics",
        "ml_reference_scenarios_full",
    ),
    # r16 diff = the verify family collapse (packed plans, the one
    # dispatch, the three consumers, ngram_jaccard_pairs) + the quote_ident
    # rendering in minhash_signatures/_bands_from_sig — call-path consumers
    # = every query routing the minhash family, the n-gram verify or the
    # incremental near-dup operator (derived from registry call sites).
    # Later in r16 (see the module entry): the name_col references and
    # the bounded CC metric wait add the simhash, substring k-gram and
    # embedding-pair queries (call paths derived from registry call sites,
    # attribute calls included).
    ("operators/dedup.py", 16): (
        "analytic_edit_distance",
        "dedup_cluster_cc",
        "dedup_cluster_best",
        "pipeline_corpus_curation",
        "dedup_minhash_signatures",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "pipeline_incremental_ingest",
        "stream_incremental_ingest",
        "dedup_lsh_verified",
        "dedup_lsh_bucket_stats",
        "dedup_incremental_near",
        "stream_dedup_incremental_near",
        "dedup_simhash",
        "dedup_substring_kgram",
        "dedup_embedding_cosine",
        "dedup_embedding_cosine_lsh",
        "dedup_embedding_clusters",
    ),
    ("operators/windows.py", 4): (
        "window_lag",
        "window_lead",
        "window_running_sum",
        "window_rolling_mean",
        "window_trailing_mean_time",
        "sort_rows_ranked",
        "pipeline_feature_engineering",
        "pipeline_wastewater_ep1",
    ),
    ("operators/caching.py", 5): (
        # routed through the scoped_persist/transfer/release machinery via
        # operators/dedup.py (its only importer) — same consumer family.
        "dedup_minhash_lsh",
        "dedup_lsh_verified",
        "dedup_incremental",
        "dedup_incremental_near",
        "dedup_cluster_cc",
        "dedup_embedding_clusters",
        # r6 session 2: unigram_logprob scope-persists its tf relation
        "corpus_unigram_logprob",
        # r6 session 2 additive: tfidf + shard layout scope-persist too
        "corpus_tfidf_top_terms",
        "corpus_shard_assign",
        "dedup_substring_kgram",
        "dedup_cluster_best",
        "pipeline_corpus_curation",
    ),
    # r12 diff = contamination_overlap only (digest narrowing): consumer
    # tuple trimmed to its one query, per the call-path precedent — every
    # other corpus op (pii/repetition/quality/chunk/LM/pack/tfidf and the
    # curation composite, which routes text ops + the fused LSH, not
    # contamination) is byte-untouched this round and keeps its latest row.
    # r15: pack_token_stream/pack_token_counts (text-free pack seam) +
    # unigram_logprob (corpus total summed from the persisted tf relation
    # instead of re-aggregating the vocab — Σ_tok Σ_doc tf ≡ Σ tf exactly)
    # — consumers = the two packing-route queries + the one LM query
    # (call-path precedent; contamination/pii/repetition/quality/chunk/
    # tfidf are byte-untouched).
    ("operators/corpus.py", 15): (
        "corpus_pack_sequences",
        "pipeline_corpus_curation",
        "corpus_unigram_logprob",
    ),
    ("operators/prefix.py", 6): (
        "corpus_pack_sequences",
        "corpus_shard_assign",
        "pipeline_corpus_curation",
    ),
    # r6 session 2 NEW module: deterministic shard assignment + sorted-shard
    # writer (consumes operators/prefix.py).
    ("operators/shards.py", 6): ("corpus_shard_assign",),
    ("operators/profile.py", 6): ("profile_events",),
    ("operators/cdc.py", 7): ("cdc_merge_upsert", "stream_cdc_upsert"),
    ("streaming/cdc.py", 6): ("stream_cdc_upsert",),
    ("operators/sampling.py", 5): (
        "sample_hash_fraction",
        "sample_mixture_weights",
        "sample_topk_per_key",
        "sample_resample_mixture",
        "stream_sample_fraction",
    ),
    # r11 diff: the three oracle helpers above — consumers include the
    # cross-module closures composed from _lsh_verified_sql and the
    # stream twin of _incremental_near_sql.  Plus the three sketch blocks
    # converted from rows-only to oracle-gated (VERDICT r10 task 5).
    # r12 diff: the avg_bytes / avg_qty raw-quotient conversions + the
    # sim_cosine_ivf_kmeans block converted from rows-only to oracle-gated
    # (exact query_id/truth_n columns + Spark-side recall-contract boolean,
    # VERDICT r11 task 3) — AST-affected set = those three blocks (the r11
    # consumers re-greened in the r11 prefix and their helpers are
    # byte-untouched this round).
    ("plans/registry_scale.py", 12): (
        "multimodal_media_stats",
        "tpch_pricing_summary",
        "sim_cosine_ivf_kmeans",
    ),
    # r6 diff: only the _chunk_sql() oracle helper changed (null-faithful,
    # ADVICE r5 #2) — mentioned solely by the corpus_chunk_documents block;
    # session 2 ADDS the unigram-LM + packing blocks (never verified).
    # r8: AST-affected block = dedup_cluster_cc (assume_distinct=True call
    # pin); everything else comment-only.
    # r14: the curation builder changed (gated broadcast) and the
    # cluster-cc builder swapped to the fused candidates→verify operator
    # (result-identical; one corpus pass instead of two) — both queries
    # re-verify.
    # r15: the curation builder's text-free kept/pack tail — AST-affected
    # block = that one query.
    # r16: comment-only diff, AST-neutral — empty set.
    ("plans/registry_corpus.py", 16): (),
    ("streaming/neardup.py", 6): ("stream_dedup_incremental_near",),
    ("plans/registry_stream_ext.py", 7): (
        "stream_dedup_incremental_near",
        # r6 session 2 additive block (never verified)
        "stream_cdc_upsert",
    ),
    # r13: the flagship raw-quotient conversion (q_flagship block only;
    # the r12 conditional-rate conversions re-greened in the r12 prefix).
    ("plans/registry.py", 13): ("flagship_weekly_detection_rate",),
    # r13: the streaming detection_rate raw-quotient conversion + the
    # Spark-side disordered-source builder (consumer = its one query).
    ("plans/registry_stream.py", 13): (
        "stream_conditional_rate",
        "stream_lag_reordered",
    ),
    ("operators/analytic.py", 8): (
        "analytic_locf_fill",
        "analytic_ntile",
        "analytic_histogram",
        "analytic_date_spine",
        "analytic_top_bigrams",
        "analytic_edit_distance",
    ),
    ("plans/registry_analytic.py", 8): (
        "analytic_locf_fill",
        "analytic_ntile",
        "analytic_histogram",
        "analytic_date_spine",
        "analytic_top_bigrams",
        "analytic_edit_distance",
    ),
    # r10 diff = the quality_linear_score block only (score un-rounding);
    # the r8 sweep/lshm blocks are byte-untouched and keep their r8-r10
    # rows — listing them here would spuriously stale two healthy rows out
    # of an exactly-full rotation prefix.
    ("plans/registry_quality.py", 15): ("quality_linear_score",),
    # r10 diff = compact_small_files (write-path operator, no registry
    # query routes through it); layout_zorder_key rides its r9 row —
    # _bucket and the zorder key expression are byte-untouched.
    ("operators/layout.py", 10): (),
    ("plans/registry_layout.py", 9): ("layout_zorder_key",),
    # r9 diff = build_line_store/merge_line_counts signatures (id_col
    # dropped) + merge_line_counts_bucketed: consumers = EVERY query
    # routing through those functions, including the r9-new streaming twin
    # and the ingest composite (both also route through build_line_store —
    # they are r9-new so they verify regardless, but the manifest should
    # not rely on that coincidence).
    # r14: _strip_and_reassemble + remove_hot_lines_vs_store changed —
    # call-path consumers are every query routing either function:
    # remove_hot_lines rides _strip_and_reassemble, so corpus_line_dedup
    # joins the r9 set; corpus_hot_lines (line_occurrence_counts only)
    # and corpus_line_store_merge (merge_line_counts only) still route
    # untouched functions but merge_line_counts' consumers stay listed
    # per the r10 forward-route rule.
    ("operators/lines.py", 14): (
        "corpus_line_dedup",
        "corpus_line_dedup_incremental",
        "corpus_line_store_merge",
        "stream_line_dedup",
        "pipeline_incremental_ingest",
        "pipeline_ingest_store_refresh",
        "stream_incremental_ingest",
    ),
    # r10 AST-affected blocks: pipeline_incremental_ingest (its oracle
    # helper now composes the shared _INGEST_DELTA_CTE) and the new
    # pipeline_ingest_store_refresh; the other line queries' blocks are
    # byte-untouched and keep their r9 rows.
    ("plans/registry_lines.py", 11): (
        "pipeline_incremental_ingest",
        "stream_incremental_ingest",
    ),
    ("streaming/ingest.py", 10): ("stream_incremental_ingest",),
    ("streaming/lines.py", 9): ("stream_line_dedup",),
    ("session.py", 16): (),
    # r14: engineer_features' batched scalar pass — consumers = the two
    # queries routing it (the ml_* metric queries use their own builders).
    ("plans/features.py", 14): (
        "pipeline_wastewater_ep1",
        "ml_reference_scenarios_full",
    ),
    ("operators/multimodal.py", 7): (),
    # r12: the metrics-family raw-quotient conversions.
    # r14: the only AST-affected function is _augmented_docs (fan_out
    # drop) — consumers are every query routing the shared augmented
    # fixture, in-module and cross-module.  The r12 metric-conversion
    # queries do not route _augmented_docs and keep their r12/r13 rows
    # (call-path granularity).
    # r16: the q_ngram_jaccard docstring — AST-affected block = that query.
    ("plans/registry_ext.py", 16): ("dedup_ngram_jaccard",),
    ("operators/relational.py", 4): (),
    # r11 diff = recall_at_k only: consumers are the query calling it
    # (sim_recall_at_k) and the sweep (its registry twin _sweep_row changed
    # in kind; listed under plans/registry_quality.py too).  The r8-added
    # lsh-multi functions are byte-untouched — sim_cosine_lsh_multi keeps
    # its r10 row.
    # r14: rhp_sign coefficient-literal change — consumers = the queries
    # routing rhp_sign/rhp_signature (the Arrow-path multi-table queries
    # route rhp_signature_arrow, byte-untouched, and keep their rows;
    # sim_recall_at_k routes recall_at_k over brute+lsh scorers — its lsh
    # leg rides rhp_signature, so it re-verifies too).
    # r15: rhp_sign/rhp_signature only — consumers = every query routing
    # rhp_signature (incl. the embedding-cluster CC pair generator; the
    # multi-table queries route rhp_signature_arrow, byte-untouched).
    # r16: rhp_sign/rhp_signature identifier quoting — same consumer set;
    # later in r16 the name_col references add the brute-force, IVF and
    # multi-probe LSH queries.
    ("operators/similarity.py", 16): (
        "sim_cosine_lsh",
        "dedup_embedding_cosine_lsh",
        "dedup_embedding_clusters",
        "sim_recall_at_k",
        "sim_recall_cost_sweep",
        "sim_cosine_topk",
        "sim_cosine_ivf",
        "sim_cosine_ivf_kmeans",
        "sim_cosine_lsh_multi",
    ),
    # r15: tokenize single-regex — no overlay (full route set; see the
    # module entry).  The old r4 empty overlay (dead-expression removal)
    # is superseded by the round bump.
    # r4 additive: scan_json/scan_orc (+ sinks) are new functions consumed
    # only by the NEW roundtrip queries (never verified before); load_table/
    # scan_csv/scan_parquet are textually unchanged.
    # r4 session 2: load_table gained event-time normalization
    # (_normalize_event_time) — see _MODULE_CHANGED_IN_ROUND.  Consumers =
    # the roundtrip queries plus the pre-r4-green ts readers the r4 judge
    # identified (the r4/r5-greened window/stream family re-verifies through
    # its own module entries).
    # r14: schema-memoization is metadata-only (see the module entry) —
    # empty set.  The r4 ts-reader cohort it replaces re-verified in r5+.
    # r16: partitioned-dir memo skip — metadata-only, empty set.
    ("sources/readers.py", 16): (),
    ("sources/sinks.py", 4): ("scan_json_roundtrip", "scan_orc_roundtrip"),
    # r4 additive: stream_lag_per_key_reordered (+ the TWS variant) are new
    # functions consumed only by the NEW query below (never verified before,
    # so it sorts to the head of the rotation anyway); pre-existing streaming
    # ops are textually unchanged except read_events_stream gaining **options
    # (a no-op for existing zero-option callers).
    ("streaming/ops.py", 5): (
        "stream_lag_reordered",
        "stream_session_windows",
        "stream_dedup_exact",
        "stream_enrich_static",
        "stream_sample_fraction",
        "stream_interval_join",
        "stream_weekly_mean",
        "stream_conditional_rate",
        "stream_lag_per_key",
    ),
}

# A key typo in either hand-maintained dict must fail loudly at import, not
# silently invalidate nothing — the exact failure mode this mechanism exists
# to prevent (r3 ADVICE).  Module names must be real package files, and
# every overlay key must match the module's CURRENT registered round (a
# dead overlay entry from a previous round would silently re-apply an old
# trim — ADVICE r12 #3).
for _module in _MODULE_CHANGED_IN_ROUND:
    assert (Path(__file__).resolve().parent
            / "cdc_wastewater_analysis_ml_spark" / _module).is_file(), _module
for _module, _rnd in _ROUND_AFFECTED:
    assert _MODULE_CHANGED_IN_ROUND.get(_module) == _rnd, (
        f"_ROUND_AFFECTED[({_module!r}, {_rnd})] does not match "
        f"_MODULE_CHANGED_IN_ROUND ({_MODULE_CHANGED_IN_ROUND.get(_module)})"
    )


def _derived_routes() -> dict[str, set[str]] | None:
    """Full forward route map from static analysis; None if unavailable
    (the consumer falls back to staling EVERYTHING for overlay-less
    modules — over-verification is the safe failure direction)."""
    try:
        from tools.staleness import derive_module_routes

        return derive_module_routes(Path(__file__).resolve().parent)
    except Exception:
        return None


_DERIVED_ROUTES = _derived_routes()


def effective_consumers(module: str, rnd: int) -> set[str]:
    """Queries staled by ``module`` changing in round ``rnd``: the explicit
    per-round overlay when one was recorded, else the module's full derived
    route set, else (derivation unavailable) every registry query."""
    subset = _ROUND_AFFECTED.get((module, rnd))
    if subset is not None:
        return set(subset)
    if _DERIVED_ROUTES is not None:
        return set(_DERIVED_ROUTES.get(module, set()))
    return set(registry.QUERIES)


_CHANGED_IN_ROUND: dict[str, int] = {}
for _module, _rnd in _MODULE_CHANGED_IN_ROUND.items():
    for _name in effective_consumers(_module, _rnd):
        # max: a query may route through several changed modules
        _CHANGED_IN_ROUND[_name] = max(_CHANGED_IN_ROUND.get(_name, -1), _rnd)


def _last_green_round() -> dict[str, int]:
    """name -> latest round with a fully-green CORRECTNESS row (from the
    driver-committed CORRECTNESS_r*.json files next to this module)."""
    here = Path(__file__).resolve().parent
    green: dict[str, int] = {}
    for path in here.glob("CORRECTNESS_r*.json"):
        m = re.search(r"r(\d+)", path.name)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            err = row.get("err")
            if err in (None, ""):
                # Hard green: at least one positive *_match signal required
                # (a partially-written row with no match fields must NOT
                # count as verified), and no negative one.
                matches = [v for k, v in row.items() if k.endswith("_match")]
                if not any(v is True for v in matches):
                    continue
                if any(v is False for v in matches):
                    continue
            elif err == "no_oracle":
                # Rows-only query: the driver ran it and got a row count —
                # that IS its strongest available signal; count it so these
                # rotate like the rest instead of pinning the queue head.
                if row.get("spark_rows") is None:
                    continue
            else:
                continue
            green[name] = max(green.get(name, -1), rnd)
    for name, since in _CHANGED_IN_ROUND.items():
        if green.get(name, -1) < since:
            green.pop(name, None)
    return green


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: weekly detection-rate trend
    (scan → binary label → event-time weekly bucket → fused rate agg → sort).
    """
    return registry.QUERIES["flagship_weekly_detection_rate"](
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, least-recently
    driver-verified first (see module docstring)."""
    green = _last_green_round()
    names = list(registry.QUERIES)
    index = {n: i for i, n in enumerate(names)}
    ordered = sorted(names, key=lambda n: (green.get(n, -1), index[n]))
    return {n: registry.QUERIES[n] for n in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; ops without a SQL equivalent are
    omitted (driver records a rows-only check for those)."""
    return {k: v for k, v in registry.ORACLES.items() if v is not None}
