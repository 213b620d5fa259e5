"""Registry part 6: corpus-curation extensions — duplicate-cluster
connected components, train/eval contamination, PII redaction, repetition
quality signals, deterministic sampling/mixture operators.

These are the training-data-pipeline operations layered over the document
corpus (brief: "the operations a large-scale training-data pipeline would
need"), generalizing the reference's cleaning steps (codes.py:96
drop_duplicates; codes.py:28-60 hygiene) to LLM-corpus shapes.  House
oracle rules apply: identical aliases both sides, the floor(x·10⁶+0.5)/10⁶
cross-engine rounding for derived floats, explicit casts so DuckDB's wider
types (BIGINT len/row_number, HUGEINT sums) land on Spark's dtypes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import corpus as C
from ..operators import dedup as D
from ..operators import sampling as SAM
from ..sources import fan_out, load_table
from .registry import register
from .registry_ext import _AUG_OFFSET
from .registry_scale import _lsh_verified_sql

# ---------------------------------------------------------------------------
# Duplicate clustering (connected components over verified near-dup pairs)
# ---------------------------------------------------------------------------


def _cc_closure_sql(pairs_sql: str, out_node: str = "doc_id") -> str:
    # Oracle: exact transitive closure via a recursive CTE over the SAME
    # pair relation the Spark pipeline produces (subquery-wrapped so its
    # WITH chain nests).  UNION (not UNION ALL) dedups reach rows —
    # termination on the cyclic dup graph.
    return f"""
    WITH RECURSIVE
    vpairs AS (SELECT id_a, id_b FROM ({pairs_sql}) v),
    cedges AS (SELECT id_a AS src, id_b AS dst FROM vpairs
               UNION SELECT id_b, id_a FROM vpairs),
    cnodes AS (SELECT DISTINCT src AS node FROM cedges),
    reach(node, dst) AS (
        SELECT node, node FROM cnodes
        UNION
        SELECT r.node, e.dst FROM reach r JOIN cedges e ON e.src = r.dst
    )
    SELECT node AS {out_node},
           CAST(min(dst) AS BIGINT) AS cluster_id,
           (node = min(dst)) AS keep
    FROM reach GROUP BY node
    """


def _cluster_cc_sql() -> str:
    return _cc_closure_sql(_lsh_verified_sql())


@register("dedup_cluster_cc", _cluster_cc_sql())
def q_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dup clusters: banded-LSH candidates → Jaccard verify →
    connected components → keep-one-per-cluster decision.  Completes the
    near-dup pipeline: pairwise verify alone can't answer "which single doc
    survives" when A~B and B~C but A≁C.  Iterative min-label propagation
    (operators/dedup.py:connected_components) — diameter-bounded rounds,
    labels checkpointed per round, convergence via a monotone label-sum
    check, no driver-side graph."""
    from .registry_ext import _augmented_docs

    docs = _augmented_docs(spark, sf_dir)
    # r14 (opt): the FUSED candidates→verify operator, replacing the
    # minhash_lsh_candidates + jaccard_verify_pairs composition this block
    # carried since r4.  The composition materialized TWO independent
    # pipelines from parquet — the banded cache and the verify's own
    # shingle cache each re-scanned, re-fanned-out and re-tokenized the
    # corpus (profiled at sf0.1: two back-to-back ~70 s-executor-time
    # cache-fill blocks inside CC's edge materialization; at 100 TB the
    # second block is a whole extra corpus read).  minhash_lsh_verified
    # stages ONE persisted distinct-shingle relation that feeds both the
    # signature computation and the packed-digest verify — the exact r6
    # conversion dedup_lsh_verified got (VERDICT r5 task 2); this query
    # was missed then.  Semantically identical by the fused operator's
    # contract (min over distinct shingles == min over all shingles; same
    # banding, same threshold, same raw-quotient jaccard) — oracle text
    # unchanged, parity re-verified at 3 SFs.
    verified = D.minhash_lsh_verified(
        docs, "text", "doc_id", num_hashes=8, bands=4, threshold=0.3
    )
    cc = D.connected_components(verified.select("id_a", "id_b"))
    return D.cluster_dedup_decision(cc)


# ---------------------------------------------------------------------------
# Train/eval contamination (n-gram overlap decontamination check)
# ---------------------------------------------------------------------------

_EVAL_TAIL = " eval holdout tail"


def _contamination_sql() -> str:
    def shingles(textexpr: str, n: int = 8) -> str:
        norm = f"regexp_replace(trim(lower({textexpr})), '\\s+', ' ', 'g')"
        toks = f"string_split({norm}, ' ')"
        return (
            f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 1) + 1), "
            f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
        )

    ev_text = f"concat(text, '{_EVAL_TAIL}')"
    return f"""
    WITH base AS (SELECT doc_id, text FROM documents),
    ev AS (
        SELECT DISTINCT md5(s.sh) AS h
        FROM base, unnest({shingles(ev_text)}) AS s(sh)
        WHERE doc_id % 5 = 0
    ),
    tr AS (
        SELECT doc_id, md5(s.sh) AS h
        FROM base, unnest(list_distinct({shingles("text")})) AS s(sh)
    ),
    tot AS (
        SELECT doc_id, len(list_distinct({shingles("text")})) AS n_shingles
        FROM base
    ),
    hits AS (
        SELECT doc_id, count(*) AS n_shared FROM tr JOIN ev USING (h)
        GROUP BY doc_id
    )
    SELECT h.doc_id, h.n_shared, t.n_shingles,
           floor(h.n_shared * 1.0 / t.n_shingles * 1000000 + 0.5) / 1000000
               AS overlap_frac
    FROM hits h JOIN tot t USING (doc_id)
    """


@register("corpus_contamination", _contamination_sql())
def q_corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: which training docs share ≥1 distinct
    word 8-gram with the eval suite.  The eval fixture is a mutated copy of
    every 5th doc (suffix appended) so interior 8-grams survive — exactly
    the "eval set leaked into the crawl" shape.  Digest-keyed equi-join;
    the eval digest set is broadcast-sized by construction."""
    # r14 (opt): no registry-side fan_out — contamination_overlap fans BOTH
    # of its inputs internally, so the outer repartition stacked a redundant
    # full-width exchange of the corpus text under each side's own (the
    # _augmented_docs pattern; plan-only, results partition-invariant).
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_df = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(_EVAL_TAIL)).alias("text")
    )
    out = C.contamination_overlap(docs, eval_df, "text", "doc_id", n=8)
    return out.select(
        "doc_id",
        "n_shared",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        "overlap_frac",
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def _pii_inject_sql() -> str:
    return (
        "concat(text, ' contact user', CAST(doc_id % 100 AS VARCHAR),"
        " '@example.com via 10.0.', CAST(doc_id % 256 AS VARCHAR),"
        " '.7 or 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'),"
        " '-0199')"
    )


def _pii_sql() -> str:
    t = "ptext"
    red = f"regexp_replace({t}, '{C.PII_EMAIL}', '<EMAIL>', 'g')"
    red = f"regexp_replace({red}, '{C.PII_PHONE}', '<PHONE>', 'g')"
    red = f"regexp_replace({red}, '{C.PII_IPV4}', '<IP>', 'g')"
    return f"""
    WITH base AS (SELECT doc_id, {_pii_inject_sql()} AS ptext FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all({t}, '{C.PII_EMAIL}')) AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all({t}, '{C.PII_PHONE}')) AS INTEGER) AS n_phone,
           CAST(len(regexp_extract_all({t}, '{C.PII_IPV4}')) AS INTEGER) AS n_ip,
           md5({red}) AS clean_digest
    FROM base
    """


@register("corpus_pii_redact", _pii_sql())
def q_corpus_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count + redact emails / phones / IPv4s per document.  The
    fixture injects one of each (derived from doc_id) since the synthetic
    corpus contains none; the md5 digest of the redacted text hash-verifies
    the actual replacement output, not just the counts.  Patterns live in
    the Java∩RE2 common syntax so the identical strings run both engines."""
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit("@example.com via 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-0199"),
        ).alias("ptext"),
    )
    out = C.pii_redact(injected, "ptext")
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ip",
        F.md5("redacted").alias("clean_digest"),
    )


# ---------------------------------------------------------------------------
# Repetition quality signals
# ---------------------------------------------------------------------------


def _repetition_sql() -> str:
    def dup_frac(sh: str) -> str:
        return (
            f"floor((len({sh}) - len(list_distinct({sh}))) * 1.0 / len({sh})"
            f" * 1000000 + 0.5) / 1000000"
        )

    norm = "regexp_replace(trim(lower(rtext)), '\\s+', ' ', 'g')"
    toks = f"string_split({norm}, ' ')"

    def shingles(n: int) -> str:
        return (
            f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 1) + 1), "
            f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
        )

    return f"""
    WITH base AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN concat(text, ' ', text)
                    ELSE text END AS rtext
        FROM documents)
    SELECT doc_id,
           CAST(len({toks}) AS BIGINT) AS n_tokens,
           {dup_frac(shingles(2))} AS dup_2gram_frac,
           {dup_frac(shingles(3))} AS dup_3gram_frac
    FROM base
    """


@register("text_repetition_signals", _repetition_sql())
def q_text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetitious-text signals: duplicate 2-/3-gram fractions
    per doc (every 4th doc is doubled in the fixture so the filter has real
    positives).  Pure Catalyst array expressions, single scan, no shuffle."""
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("rtext"),
    )
    out = C.repetition_signals(injected, "rtext", "doc_id")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "dup_2gram_frac",
        "dup_3gram_frac",
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / mixture
# ---------------------------------------------------------------------------


def _hash_pred_sql(key_sql: str, seed, threshold_hex: str) -> str:
    return (
        f"substr(md5(concat('{seed}:', CAST({key_sql} AS VARCHAR))), 1, 8)"
        f" < '{threshold_hex}'"
    )


def _sample_fraction_sql() -> str:
    thr = SAM.fraction_to_hex_threshold(0.2)
    return f"""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
    FROM events
    WHERE {_hash_pred_sql("event_id", 42, thr)}
    GROUP BY event_type
    """


@register("sample_hash_fraction", _sample_fraction_sql())
def q_sample_hash_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% uniform sample (md5 keyed on event_id, seed 42),
    then per-type stats.  Engine-portable and partition-independent — the
    reproducible alternative to df.sample()/rand().  Value sums go through
    integer cents so float-summation order can't break cross-engine hashes."""
    ev = load_table(spark, sf_dir, "events")
    s = SAM.sample_fraction_hash(ev, "event_id", 0.2, seed=42)
    return s.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sum_value_cents"),
    )


_MIX_WEIGHTS = {
    "src0": 1.0,
    "src1": 0.75,
    "src2": 0.5,
    "src3": 0.25,
    "src4": 0.1,
    "src5": 0.05,
}


def _sample_mixture_sql() -> str:
    cases = " ".join(
        f"WHEN '{g}' THEN '{SAM.fraction_to_hex_threshold(w)}'"
        for g, w in _MIX_WEIGHTS.items()
    )
    return f"""
    SELECT source, count(*) AS n
    FROM documents
    WHERE substr(md5(concat('7:', CAST(doc_id AS VARCHAR))), 1, 8)
          < CASE source {cases} END
    GROUP BY source
    """


@register("sample_mixture_weights", _sample_mixture_sql())
def q_sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture re-weighting: per-source keep probabilities applied in
    ONE deterministic filter scan (src0 2×-ish down to src5 rare; src6-9
    dropped) — the "dataset mixture" step of a training pipeline without
    per-source passes."""
    docs = load_table(spark, sf_dir, "documents")
    s = SAM.sample_mixture(docs, "doc_id", "source", _MIX_WEIGHTS, seed=7)
    return s.groupBy("source").agg(F.count("*").alias("n"))


def _sample_topk_sql() -> str:
    return f"""
    SELECT lang, doc_id, CAST(rk AS INTEGER) AS rk FROM (
        SELECT lang, doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY substr(md5(concat('5:', CAST(doc_id AS VARCHAR))), 1, 8),
                            doc_id) AS rk
        FROM documents) t
    WHERE rk <= 3
    """


@register("sample_topk_per_key", _sample_topk_sql())
def q_sample_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-3-per-language deterministic sample (seeded-hash order) — the
    reproducible per-key reservoir.  One shuffle on lang; parallelism =
    #keys."""
    docs = load_table(spark, sf_dir, "documents")
    out = SAM.sample_topk_per_key(docs, ["lang"], "doc_id", 3, seed=5)
    return out.select("lang", "doc_id", "rk")


# ---------------------------------------------------------------------------
# Quality-filter funnel, up-sampling mixture, dataset-card token stats
# ---------------------------------------------------------------------------


def _quality_funnel_sql() -> str:
    from .registry_ext import _TOKENS, _shingles_sql

    return f"""
    WITH t AS (
        SELECT doc_id, text, {_TOKENS} AS toks,
               length(text) AS total,
               length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                   AS punct,
               {_shingles_sql(2)} AS sh2
        FROM documents),
    s AS (
        SELECT doc_id,
               len(toks) AS n_tok,
               floor((len(sh2) - len(list_distinct(sh2))) / len(sh2)
                     * 1000000 + 0.5) / 1000000 AS dup2,
               floor(least(1.0, total / 500.0)
                     * (1.0 - CASE WHEN total > 0
                                   THEN punct * 1.0 / total ELSE 0.0 END)
                     * (1.0 - (CASE WHEN len(toks) > 0
                                    THEN len(list_filter(toks, x ->
                                         list_contains(['the','a','and','of','to'], x)))
                                         * 1.0 / len(toks)
                                    ELSE 0.0 END) / 2.0)
                     * 1000000 + 0.5) / 1000000 AS quality
        FROM t)
    SELECT CASE WHEN n_tok < 25 THEN 'too_short'
                WHEN dup2 > 0.05 THEN 'repetitive'
                WHEN quality < 0.35 THEN 'low_quality'
                ELSE 'kept' END AS reason,
           count(*) AS n_docs
    FROM s GROUP BY 1
    """


@register("corpus_quality_filter", _quality_funnel_sql())
def q_corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel: first-failing-rule attribution over the
    curation signals (token count < 25 → repetition > 0.05 → quality
    < 0.35 → kept), reduced to per-reason counts — the pipeline-observability
    relation a corpus run reports.  Single scan, all signals are Catalyst
    expressions; thresholds compare the floor-rounded values so the rule
    boundary is engine-exact."""
    from ..operators import text as T
    from ..operators.corpus import dup_fraction

    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    n_tok = T.token_count("text")
    dup2 = dup_fraction(T.word_shingles("text", 2))
    quality = F.floor(T.quality_score("text") * 1000000 + F.lit(0.5)) / 1000000
    reason = (
        F.when(n_tok < 25, "too_short")
        .when(dup2 > 0.05, "repetitive")
        .when(quality < 0.35, "low_quality")
        .otherwise("kept")
    )
    return d.select(reason.alias("reason")).groupBy("reason").agg(
        F.count("*").alias("n_docs")
    )


_RESAMPLE_WEIGHTS = {"src0": 2.5, "src1": 1.0, "src2": 0.3, "src3": 2.0}


def _resample_sql() -> str:
    whole_cases = " ".join(
        f"WHEN '{g}' THEN {int(w)}" for g, w in _RESAMPLE_WEIGHTS.items()
    )
    thr_cases = " ".join(
        f"WHEN '{g}' THEN '{SAM.fraction_to_hex_threshold(w - int(w))}'"
        for g, w in _RESAMPLE_WEIGHTS.items()
    )
    return f"""
    WITH n AS (
        SELECT source,
               CASE source {whole_cases} END
               + CASE WHEN substr(md5(concat('9:', CAST(doc_id AS VARCHAR))), 1, 8)
                           < CASE source {thr_cases} END
                      THEN 1 ELSE 0 END AS n_copies
        FROM documents
        WHERE source IN ({", ".join(f"'{g}'" for g in _RESAMPLE_WEIGHTS)}))
    SELECT source, CAST(sum(n_copies) AS BIGINT) AS n_rows
    FROM n WHERE n_copies > 0 GROUP BY source
    """


@register("sample_resample_mixture", _resample_sql())
def q_sample_resample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-mixture re-weighting WITH up-sampling (src0 2.5×, src3 2×,
    src2 0.3×; others dropped): rows replicate JVM-side via
    explode(sequence), fractional parts resolved per row by the hash draw.
    The oracle sums expected copy counts — same multiset cardinality the
    replicated relation materializes."""
    docs = load_table(spark, sf_dir, "documents")
    out = SAM.resample_mixture(docs, "doc_id", "source", _RESAMPLE_WEIGHTS, seed=9)
    return out.groupBy("source").agg(F.count("*").alias("n_rows"))


def _token_stats_sql() -> str:
    from .registry_ext import _TOKENS

    return f"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
           floor(quantile_cont(len(toks), 0.50) * 1000000 + 0.5) / 1000000
               AS p50_tokens,
           floor(quantile_cont(len(toks), 0.90) * 1000000 + 0.5) / 1000000
               AS p90_tokens
    FROM (SELECT lang, {_TOKENS} AS toks FROM documents) t
    GROUP BY lang
    """


@register("corpus_token_stats", _token_stats_sql())
def q_corpus_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card token statistics per language: doc count, total token
    budget, exact p50/p90 token-length quantiles — one shuffle on lang,
    map-side combinable counts/sums plus per-group exact percentiles."""
    from ..operators import text as T

    d = fan_out(load_table(spark, sf_dir, "documents").select("lang", "text"))
    toks = d.select("lang", T.token_count("text").alias("n_tokens"))
    return toks.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        # floor(x·1e6+0.5)/1e6: house cross-engine rounding (half-up round()
        # diverges between engines on boundary doubles — DEVNOTES).
        (F.floor(F.percentile(F.col("n_tokens"), F.lit(0.50)) * 1000000 + F.lit(0.5))
         / 1000000).alias("p50_tokens"),
        (F.floor(F.percentile(F.col("n_tokens"), F.lit(0.90)) * 1000000 + F.lit(0.5))
         / 1000000).alias("p90_tokens"),
    )


def _chunk_sql() -> str:
    from .registry_ext import _TOKENS

    # Null-faithful (ADVICE r5 #2): Spark's posexplode_outer turns a
    # null-text doc into ONE all-NULL chunk row, while DuckDB's NULL-ignoring
    # greatest/least would otherwise fabricate (0, NULL, 64).  extra pins the
    # NULL case to 0 so exactly one row unnests, then every output column is
    # explicitly nulled.
    return f"""
    WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
         s AS (SELECT doc_id, toks, len(toks) AS n,
                      CASE WHEN toks IS NULL THEN 0
                           ELSE CAST(greatest(ceil((len(toks) - 64) * 1.0 / 48), 0)
                                     AS INTEGER) END AS extra
               FROM t)
    SELECT doc_id,
           CASE WHEN toks IS NULL THEN NULL ELSE CAST(i AS INTEGER) END
               AS chunk_id,
           CASE WHEN toks IS NULL THEN NULL
                ELSE array_to_string(list_slice(toks, 1 + i * 48, i * 48 + 64), ' ')
               END AS chunk_text,
           CASE WHEN toks IS NULL THEN NULL
                ELSE CAST(least(64, n - (1 + i * 48) + 1) AS INTEGER)
               END AS n_chunk_tokens
    FROM s, unnest(range(0, extra + 1)) AS u(i)
    """


@register("corpus_chunk_documents", _chunk_sql())
def q_corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, stride 48): the
    pre-tokenization packing step of an LLM pipeline.  Pure Catalyst
    sequence/slice/posexplode — chunking pipelines inside the scan stage,
    no shuffle, no Python."""
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return C.chunk_documents(docs, "text", "doc_id", chunk_tokens=64, stride=48)


def _quantize_sql() -> str:
    # Replays the exact engine arithmetic: float elements widened to double,
    # floor-shift quantizer (engine-identical, unlike round()), per-vector
    # symmetric scale floored at 1e-30.
    idx = "range(1, len(embedding) + 1)"
    return f"""
    WITH s AS (
      SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))) / 127.0,
                      1e-30) AS scale
      FROM embeddings),
    d AS (
      SELECT vec_id, embedding, scale,
             list_transform(embedding,
                 x -> CAST(greatest(-127, least(127,
                          CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                               AS INTEGER))) AS DOUBLE) * scale) AS deq
      FROM s)
    SELECT vec_id,
           floor(scale * 1000000 + 0.5) / 1000000 AS scale,
           floor(list_max(list_transform({idx},
                     i -> abs(CAST(embedding[i] AS DOUBLE) - deq[i])))
                 * 1000000 + 0.5) / 1000000 AS max_abs_err,
           floor(list_sum(list_transform({idx},
                     i -> CAST(embedding[i] AS DOUBLE) * deq[i]))
                 / nullif(sqrt(list_sum(list_transform({idx},
                              i -> CAST(embedding[i] AS DOUBLE)
                                   * CAST(embedding[i] AS DOUBLE))))
                          * sqrt(list_sum(list_transform({idx},
                              i -> deq[i] * deq[i]))), 0.0)
                 * 1000000 + 0.5) / 1000000 AS cos_orig_deq
    FROM d
    """


@register("embedding_quantize_int8", _quantize_sql())
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization fidelity report (scale,
    ∞-norm reconstruction error, original↔reconstruction cosine) — the
    gate a pipeline runs before switching its ANN index to quantized codes
    (4× memory/shuffle cut).  Pure Catalyst array expressions, one scan,
    zero shuffle."""
    from ..operators import quantize as Q

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return Q.quantization_report(emb, "embedding", "vec_id")


def _embedding_cluster_sql() -> str:
    from .registry_ext import _cos_sql, _rhp_sig_sql

    pairs = f"""
    WITH sig AS (SELECT e.vec_id, e.embedding,
                        {_rhp_sig_sql('e', 4)} AS rhp_sig
                 FROM embeddings e),
      scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({_cos_sql('a', 'b')}, 6) AS cos
        FROM sig a JOIN sig b USING (rhp_sig)
        WHERE a.vec_id < b.vec_id)
    SELECT id_a, id_b FROM scored WHERE cos >= 0.35
    """
    return _cc_closure_sql(pairs, out_node="vec_id")


@register("dedup_embedding_clusters", _embedding_cluster_sql())
def q_dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-modality dup clusters: RHP-LSH-bucketed cosine pairs →
    connected components → keep-one-per-cluster.  Same generic CC operator
    as the text path (dedup_cluster_cc) over a different pair generator —
    clustering composes with ANY candidate modality (text shingles,
    embeddings, URL keys)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = D.near_dup_embedding_lsh(emb, "vec_id", "embedding", 0.35, planes=4)
    cc = D.connected_components(
        pairs.select("id_a", "id_b"), out_node="vec_id"
    )
    return D.cluster_dedup_decision(cc, node_col="vec_id")


# ---------------------------------------------------------------------------
# Sequence packing + unigram LM scoring (r6 training-data-pipeline additions)
# ---------------------------------------------------------------------------


def _unigram_logprob_sql() -> str:
    from .registry_ext import _TOKENS

    # Mirrors the engine exactly: per-(doc,token) term frequencies, corpus
    # vocab counts, 1-row total, Σ tf·ln(cnt/total)/Σ tf.  unnest(NULL)
    # yields no rows, matching Spark's explode_outer + isNotNull filter.
    return f"""
    WITH base AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
    dt AS (SELECT doc_id, t.tok AS tok, CAST(count(*) AS BIGINT) AS tf
           FROM base, unnest(toks) AS t(tok) GROUP BY 1, 2),
    vocab AS (SELECT tok, sum(tf) AS cnt FROM dt GROUP BY 1),
    tot AS (SELECT sum(cnt) AS total FROM vocab)
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           floor(sum(tf * ln(cnt * 1.0 / total)) / sum(tf) * 1000000 + 0.5)
               / 1000000 AS avg_logprob
    FROM dt JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """


@register("corpus_unigram_logprob", _unigram_logprob_sql())
def q_corpus_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM document scoring (CCNet-style perplexity proxy):
    rank docs by mean ln p(token) under the corpus's own unigram model —
    the cheap "naturalness" signal run before any model-based quality
    stage.  All linear shuffles; the tf relation is computed once and
    scope-persisted across its two consumers."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return C.unigram_logprob(docs, "text", "doc_id")


_PACK_LEN = 512


def _pack_tail_sql(src: str) -> str:
    """The packing cumsum+explode SQL over source CTE/table ``src`` (must
    expose ``doc_id`` and ``text``) — ONE definition mirrors
    ``pack_token_stream`` for both the standalone packing oracle and the
    curation composite's tail.  Returned WITHOUT a leading WITH: prepend
    ``"WITH "`` or splice after an existing CTE chain with ``", "``."""
    from .registry_ext import _TOKENS

    L = _PACK_LEN
    return f"""
    t AS (SELECT doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n
          FROM {src} WHERE len({_TOKENS}) > 0),
    cum AS (SELECT doc_id, n,
            CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS strt
            FROM t)
    SELECT CAST(p.i AS BIGINT) AS pack_id, doc_id,
           n AS n_doc_tokens,
           CAST(least((p.i + 1) * {L}, strt + n) - greatest(p.i * {L}, strt)
                AS BIGINT) AS n_tokens_in_pack,
           (strt >= p.i * {L}) AS begins_in_pack
    FROM cum, unnest(range(strt // {L}, (strt + n - 1) // {L} + 1)) AS p(i)
    """


def _pack_sequences_sql() -> str:
    return "WITH " + _pack_tail_sql("documents")


@register("corpus_pack_sequences", _pack_sequences_sql())
def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing into 512-token training windows
    (GPT-style zero-padding packing).  The global token offset uses the
    two-phase partition-offset prefix sum (operators/prefix.py) — never a
    single-task global window; integer-exact, so the oracle hash is
    bit-clean."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return C.pack_token_stream(docs, "text", "doc_id", context_len=_PACK_LEN)


def _pack_greedy_sql() -> str:
    from .registry_ext import _TOKENS

    L = _PACK_LEN
    # Linear recursion over per-source row numbers replays the greedy walk
    # exactly: one recursion step advances every source by one document.
    return f"""
    WITH RECURSIVE t AS (
      SELECT source, doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents WHERE len({_TOKENS}) > 0),
    walk(source, rn, doc_id, n, pack_id, fill) AS (
      SELECT source, rn, doc_id, n, CAST(0 AS BIGINT), n FROM t WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.doc_id, d.n,
             CASE WHEN w.fill + d.n > {L} THEN w.pack_id + 1
                  ELSE w.pack_id END,
             CASE WHEN w.fill + d.n > {L} THEN d.n ELSE w.fill + d.n END
      FROM walk w JOIN t d ON d.source = w.source AND d.rn = w.rn + 1)
    SELECT source, doc_id, n AS n_doc_tokens, pack_id, fill AS pack_fill
    FROM walk
    """


@register("corpus_pack_greedy", _pack_greedy_sql())
def q_corpus_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split greedy packing per source shard (documents never split
    across training rows; oversized docs get a lone pack).  Sequential
    only WITHIN a key — applyInPandas gives each source's walk to one
    Arrow-batched task, keys parallelize across the cluster.  The oracle
    replays the identical walk as a linear recursive CTE."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "text"
    )
    return C.greedy_pack_by_key(
        docs, "text", "doc_id", key_col="source", context_len=_PACK_LEN
    )


# ---------------------------------------------------------------------------
# r6 session-2 additions: exact-substring dedup, TF-IDF keywords,
# quality-aware cluster representative, deterministic shard layout
# ---------------------------------------------------------------------------


def _substring_kgram_sql() -> str:
    from .registry_ext import _AUG_CTE, _shingles_sql_d, _TOKENS_D

    return (
        _AUG_CTE
        + f"""
    , sp AS (
        SELECT d.doc_id, md5(s.sh) AS h
        FROM docs d, unnest(list_distinct({_shingles_sql_d(8)})) AS s(sh)
        WHERE len({_TOKENS_D}) >= 8),
    ok AS (SELECT h FROM sp GROUP BY h HAVING count(*) <= 50),
    spk AS (SELECT doc_id, h FROM sp JOIN ok USING (h))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared_spans
    FROM spk a JOIN spk b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """
    )


@register("dedup_substring_kgram", _substring_kgram_sql())
def q_dedup_substring_kgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication: doc pairs sharing ≥1 exact 8-token span
    (the Spark form of suffix-array substring dedup à la Lee et al.) with a
    50-doc hot-span guard.  Complements Jaccard similarity — catches a
    verbatim paragraph embedded in an otherwise-different page."""
    from .registry_ext import _augmented_docs

    docs = _augmented_docs(spark, sf_dir)
    return D.substring_kgram_pairs(
        docs, "text", "doc_id", k=8, max_bucket_size=50
    )


def _tfidf_sql() -> str:
    from .registry_ext import _TOKENS

    return f"""
    WITH dt AS (
        SELECT doc_id, t.tok AS term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, {_TOKENS} AS toks FROM documents) b,
             unnest(toks) AS t(tok)
        GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS dfn FROM dt GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS nd FROM dt),
    scored AS (
        -- rank by the ROUNDED score: ordering must be on values both
        -- engines reproduce exactly (a raw-double rank can flip on a
        -- 1-ulp ln() difference at the top-k cut)
        SELECT doc_id, term, tf,
               floor(tf * ln(nd * 1.0 / dfn) * 1000000 + 0.5) / 1000000
                   AS tfidf
        FROM dt JOIN dfq USING (term) CROSS JOIN n),
    ranked AS (
        SELECT doc_id, term, tf, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rnk
        FROM scored)
    SELECT doc_id, CAST(rnk AS INTEGER) AS rank, term, tf, tfidf
    FROM ranked WHERE rnk <= 3
    """


@register("corpus_tfidf_top_terms", _tfidf_sql())
def q_corpus_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (tfidf = tf·ln(N/df), ties by
    term).  One tokenize pass: the tf relation is computed once and
    scope-persisted across the document-frequency aggregate and the
    scoring join; N is a 1-row scalar broadcast."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return C.tfidf_top_terms(docs, "text", "doc_id", top_k=3)


def _cluster_best_sql() -> str:
    from .registry_ext import _AUG_CTE
    from .registry_scale import _lsh_verified_sql

    closure = _cc_closure_sql(_lsh_verified_sql())
    quality = (
        _AUG_CTE
        + r"""
    , t AS (
      SELECT doc_id, text, length(text) AS total,
             string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                          ' ') AS toks,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                 AS punct
      FROM docs)
    SELECT doc_id,
           floor(least(1.0, total / 500.0)
                 * (1.0 - CASE WHEN total > 0
                               THEN punct * 1.0 / total ELSE 0.0 END)
                 * (1.0 - (CASE WHEN len(toks) > 0
                                THEN len(list_filter(toks, x ->
                                     list_contains(['the','a','and','of','to'], x)))
                                     * 1.0 / len(toks)
                                ELSE 0.0 END) / 2.0)
                 * 1000000 + 0.5) / 1000000 AS quality
    FROM t
    """
    )
    return f"""
    SELECT cc.doc_id, cc.cluster_id, q.quality,
           (row_number() OVER (PARTITION BY cc.cluster_id
                               ORDER BY q.quality DESC, cc.doc_id) = 1)
               AS keep_best
    FROM ({closure}) cc JOIN ({quality}) q ON q.doc_id = cc.doc_id
    """


@register("dedup_cluster_best", _cluster_best_sql())
def q_dedup_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep-one-per-cluster: same dup clusters as
    dedup_cluster_cc, but each cluster keeps its HIGHEST-quality member
    (floor-rounded quality; ties → lowest doc_id) instead of the min-id
    one — the policy a production pipeline wants when near-dup variants
    differ in cleanliness.  Ordering is on the ROUNDED quality so both
    engines rank identical values."""
    from .registry_ext import _augmented_docs
    from ..operators import text as T

    docs = _augmented_docs(spark, sf_dir)
    # Array-free verify + engine-wide 4 MB broadcast caps (r7) — no
    # per-call-site join hint; see pipeline_corpus_curation.
    pairs = D.minhash_lsh_verified(
        docs, "text", "doc_id", num_hashes=8, bands=4, threshold=0.3
    )
    cc = D.connected_components(pairs.select("id_a", "id_b"))
    scores = docs.select(
        "doc_id",
        (F.floor(T.quality_score("text") * 1e6 + F.lit(0.5)) / 1e6).alias(
            "quality"
        ),
    )
    return D.cluster_best_decision(
        cc.select("doc_id", "cluster_id"), scores, score_col="quality"
    )


_N_SHARDS = 8


@register(
    "corpus_shard_assign",
    f"""
    WITH b AS (
        SELECT doc_id,
               substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
        FROM documents),
    s AS (SELECT doc_id, h,
                 CAST(('0x' || h)::BIGINT % {_N_SHARDS} AS INTEGER) AS shard
          FROM b)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
                AS BIGINT) AS pos_in_shard
    FROM s
    """,
)
def q_corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard layout (operators/shards.py): seeded
    md5 draw → shard id (mod 8) + exact position-in-shard via the
    two-phase partition-offset prefix sum — a reproducible global shuffle
    of the corpus into shards, never a single-task window."""
    from ..operators.shards import assign_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return assign_shards(docs, "doc_id", _N_SHARDS, seed=42)


# ---------------------------------------------------------------------------
# End-to-end corpus curation composite (the corpus analogue of EP1's
# pipeline_feature_engineering: the WHOLE curation chain as one lazy plan)
# ---------------------------------------------------------------------------


def _curation_sql() -> str:
    from .registry_ext import _AUG_CTE
    from .registry_scale import _lsh_verified_sql

    # LSH-verified pairs over a CUSTOM base relation: reuse the exact
    # sig/band/verify SQL by swapping the docs CTE (the helper is pinned to
    # the augmented-docs CTE; slice it off and substitute).
    full = _lsh_verified_sql()
    assert full.startswith(_AUG_CTE), "helper layout changed"
    lsh_body = full[len(_AUG_CTE):]
    pairs_sql = "WITH docs AS (SELECT doc_id, text FROM ded)" + lsh_body
    closure = _cc_closure_sql(pairs_sql)

    norm = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"
    toks = f"string_split({norm}, ' ')"
    return f"""
    WITH aug AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + {_AUG_OFFSET}, concat(text, ' near dup tail'), lang
        FROM documents WHERE doc_id % 5 = 0),
    qual AS (
        SELECT doc_id, text FROM aug
        WHERE lang <> 'zh' AND len({toks}) >= 24),
    ded AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY md5({norm})
                                      ORDER BY doc_id) AS rn
            FROM qual) WHERE rn = 1),
    cc AS ({closure}),
    kept AS (
        SELECT d.doc_id, d.text FROM ded d
        LEFT JOIN cc ON cc.doc_id = d.doc_id
        WHERE cc.doc_id IS NULL OR cc.doc_id = cc.cluster_id),
    {_pack_tail_sql("kept")}
    """


@register("pipeline_corpus_curation", _curation_sql())
def q_pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE corpus-curation chain as ONE lazy plan — the corpus
    analogue of the reference's EP1 composite: language+length quality
    gate → exact dedup (keep-min per content fingerprint) → LSH-verified
    near-dup clusters → keep-canonical prune → pack survivors into
    512-token training windows.  Every stage is the already-verified
    operator; the composite proves they compose without materialization
    barriers.  Output is integer-exact pack spans, so the end-to-end
    oracle hash is bit-clean through five stages including the recursive
    -CTE closure.

    Quality membership uses only integer/string predicates (token count,
    lang) — a float-threshold gate could flip membership on an engine ulp
    and cascade through packing.
    """
    from ..operators import text as T

    d = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    mutated = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(_AUG_OFFSET)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup tail")).alias("text"),
        F.col("lang"),
    )
    base = d.unionByName(mutated)

    qual = base.filter(
        (F.col("lang") != "zh") & (T.token_count("text") >= 24)
    ).select("doc_id", "text")

    w = Window.partitionBy(T.fingerprint("text")).orderBy("doc_id")
    # ded feeds ONE consumer, the LSH stage (minhash_lsh_verified): the
    # survivor branch below recomputes the gate → keep-min window over a
    # narrow projection (qual_n/ded_n).  It is deliberately NOT persisted:
    # caching it materializes the full corpus TEXT into executor memory
    # and breaks codegen across the window (measured SLOWER at sf0.1, 6.8
    # vs 5.8 s median, when it still fed two consumers), and at 100 TB an
    # O(corpus-text) cache is exactly what not to pin.
    ded = (
        qual.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    # r7 design note: the r6 per-call-site merge hint was DELETED.  The
    # verify stage joins 64-bit digest arrays hashed map-side (never
    # shingle strings), and the engine-wide RUNTIME_CONFS 4 MB caps on
    # both autoBroadcastJoinThreshold confs forbid compressed-stats
    # mis-broadcasts — the 100× probe showed every automatic size signal
    # Spark reads is compressed while text expands 20-40× in memory.
    pairs = D.minhash_lsh_verified(
        ded, "text", "doc_id", num_hashes=8, bands=4, threshold=0.3
    )
    cc = D.connected_components(pairs.select("id_a", "id_b"))
    dropped = cc.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    # r14 (broadcast audit): this anti-join planned as SortMergeJoin at
    # sf10mf — the corpus-TEXT `ded` relation shuffled on doc_id just to
    # drop cluster non-canonicals, while `dropped` is an ids-only
    # projection of the already-materialized (localCheckpointed) CC
    # relation.  Count it (a cheap scan of the checkpoint) and broadcast
    # under the engine's id-set budget; above the gate (a dup-saturated
    # corpus where most docs sit in clusters) sort-merge is the right
    # plan and stands.
    dropped_side = (
        F.broadcast(dropped)
        if dropped.count() <= D._SEMIJOIN_MAX_IDS
        else dropped
    )

    # r15 (opt): the kept/pack tail is TEXT-FREE.  Packing consumes only
    # (doc_id, token_count) — so the survivor branch recomputes the
    # quality-gate → keep-min window over a NARROW (doc_id, fingerprint,
    # token_count) projection instead of re-deriving `ded` with the full
    # text and re-tokenizing it inside pack_token_stream.  Equivalence:
    # the window key (fingerprint(text)), order (doc_id) and gate
    # (lang, token_count >= 24) are the same expressions over the same
    # rows, so the surviving doc_id set is identical, and __n is the same
    # token_count(text) the packing operator would have recomputed.  The
    # guide-§8 payoff: the second corpus pass still reads the text once
    # (md5 + one tokenize), but the fingerprint-window exchange now
    # carries ~30 B/row instead of the document text, and the third
    # tokenize pass (packing's) is gone.
    qual_n = base.filter(F.col("lang") != "zh").select(
        "doc_id",
        T.fingerprint("text").alias("__fp"),
        T.token_count("text").alias("__n"),
    ).filter(F.col("__n") >= 24)
    wn = Window.partitionBy("__fp").orderBy("doc_id")
    ded_n = (
        qual_n.withColumn("__rn", F.row_number().over(wn))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "__n")
    )
    kept_n = ded_n.join(dropped_side, "doc_id", "left_anti")

    # pairs' shingle/banded pins release when `pairs` drops at return —
    # correct: CC already materialized the edges eagerly above, and nothing
    # downstream reads the shingle caches.
    return C.pack_token_counts(kept_n, "__n", "doc_id", context_len=_PACK_LEN)
