"""Registry part 2: metric queries (SURVEY §2.10) and the large-scale
training-data extension ops (dedup / similarity / text analysis, SURVEY §7
phase 4).

Oracle-parity conventions (beyond registry.py's): SQL mirrors the *expression
structure* of the Spark plan — same normalization, same md5-derived
pseudo-randomness, same left-to-right double summation — so floating-point
results are bit-identical before rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as SIM
from ..operators import text as T
from ..sources import fan_out, load_table
from . import metrics as M
from .registry import register

# ---------------------------------------------------------------------------
# §2.10 metric queries over a deterministic (label, score) relation
# ---------------------------------------------------------------------------

_SCORED_CTE = """
WITH scored AS (
  SELECT event_id,
         CASE WHEN event_id % 13 < 5 THEN 1 ELSE 0 END AS label,
         floor((value / 500.0 +
                CASE WHEN event_id % 13 < 5 THEN 0.3 ELSE 0.0 END) / 1.3
               * 100 + 0.5) / 100
             AS score
  FROM events)
"""


def _scored_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-model output: label from event_id hash, score =
    bounded mix of value and label (so ROC/PR curves are non-degenerate).

    Portable 2-decimal rounding — floor(x*100 + 0.5)/100, the same IEEE op
    sequence in Spark and DuckDB.  round(x, 2) diverges between the engines
    for inputs landing exactly on .xx5 boundaries (several do at sf≥0.1),
    which would shift rows across score buckets and corrupt every cumulative
    metric downstream."""
    ev = load_table(spark, sf_dir, "events")
    label = F.when(F.col("event_id") % 13 < 5, 1).otherwise(0)
    raw = (F.col("value") / 500.0 + F.when(label == 1, 0.3).otherwise(0.0)) / 1.3
    score = F.floor(raw * 100 + 0.5) / 100
    return ev.select("event_id", label.alias("label"), score.alias("score"))


def _with_pred(df: DataFrame) -> DataFrame:
    """threshold_binarize ≙ (pred > 0.5).astype(int) (codes.py:260)."""
    return df.withColumn(
        "pred", F.when(F.col("score") > 0.5, 1).otherwise(0)
    )


@register(
    "metric_accuracy",
    _SCORED_CTE
    + """
    SELECT avg(CASE WHEN (CASE WHEN score > 0.5 THEN 1 ELSE 0 END) = label
                THEN 1.0 ELSE 0.0 END) AS accuracy
    FROM scored
    """,
)
def q_metric_accuracy(spark, sf_dir):
    """mean(pred == label) ≙ accuracy_score (codes.py:268)."""
    out = M.metric_accuracy(_with_pred(_scored_events(spark, sf_dir)), "label", "pred")
    return out.select("accuracy")


@register(
    "metric_calibration_curve",
    _SCORED_CTE
    + """
    SELECT CAST(least(CAST(floor(score * 10) AS INTEGER), 9) AS INTEGER) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           floor(avg(score) * 1000000 + 0.5) / 1000000 AS mean_score,
           floor(avg(CAST(label AS DOUBLE)) * 1000000 + 0.5) / 1000000
               AS frac_pos
    FROM scored GROUP BY 1
    """,
)
def q_metric_calibration_curve(spark, sf_dir):
    """Reliability-diagram bins (decile calibration curve): per score bin,
    count + mean predicted probability + observed positive rate — the
    standard is-the-model-calibrated companion to ROC/PR (sklearn
    calibration_curve semantics with fixed-width bins, last bin closed).
    One map-side-combinable grouped aggregate."""
    sc = _scored_events(spark, sf_dir)
    b = F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9))
    flr6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return sc.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        flr6(F.avg("score")).alias("mean_score"),
        flr6(F.avg(F.col("label").cast("double"))).alias("frac_pos"),
    )


@register(
    "metric_confusion_matrix",
    _SCORED_CTE
    + """
    SELECT label, CASE WHEN score > 0.5 THEN 1 ELSE 0 END AS pred,
           count(*) AS cnt
    FROM scored GROUP BY 1, 2
    """,
)
def q_metric_confusion(spark, sf_dir):
    """(label, pred) cell counts ≙ confusion_matrix (codes.py:296)."""
    return M.metric_confusion_matrix(
        _with_pred(_scored_events(spark, sf_dir)), "label", "pred"
    )


@register(
    "metric_classification_report",
    _SCORED_CTE
    + """
    , cells AS (SELECT label, CASE WHEN score > 0.5 THEN 1 ELSE 0 END AS pred,
                       count(*) AS cnt
                FROM scored GROUP BY 1, 2),
      sup AS (SELECT label AS klass, CAST(sum(cnt) AS BIGINT) AS support
              FROM cells GROUP BY 1),
      prd AS (SELECT pred AS klass, CAST(sum(cnt) AS BIGINT) AS predicted
              FROM cells GROUP BY 1),
      tp AS (SELECT label AS klass, CAST(sum(cnt) AS BIGINT) AS tp
             FROM cells WHERE label = pred GROUP BY 1),
      base AS (SELECT coalesce(s.klass, p.klass) AS klass,
                      coalesce(s.support, 0) AS support,
                      coalesce(p.predicted, 0) AS predicted
               FROM sup s FULL JOIN prd p ON s.klass = p.klass),
      pc AS (SELECT b.klass,
                    CASE WHEN b.predicted > 0
                         THEN coalesce(t.tp, 0) * 1.0 / b.predicted
                         ELSE 0.0 END AS precision,
                    CASE WHEN b.support > 0
                         THEN coalesce(t.tp, 0) * 1.0 / b.support
                         ELSE 0.0 END AS recall,
                    b.support
             FROM base b LEFT JOIN tp t ON b.klass = t.klass),
      pcf AS (SELECT klass, precision, recall,
                     CASE WHEN precision + recall > 0
                          THEN 2 * precision * recall / (precision + recall)
                          ELSE 0.0 END AS f1,
                     support
              FROM pc)
    SELECT CAST(klass AS VARCHAR) AS klass,
           precision, recall, f1,
           CAST(support AS BIGINT) AS support
    FROM pcf
    UNION ALL
    SELECT 'macro avg' AS klass,
           sum(precision * 1.0) / sum(1.0),
           sum(recall * 1.0) / sum(1.0),
           sum(f1 * 1.0) / sum(1.0),
           CAST(sum(support) AS BIGINT)
    FROM pcf
    UNION ALL
    SELECT 'weighted avg' AS klass,
           sum(precision * CAST(support AS DOUBLE))
               / sum(CAST(support AS DOUBLE)),
           sum(recall * CAST(support AS DOUBLE))
               / sum(CAST(support AS DOUBLE)),
           sum(f1 * CAST(support AS DOUBLE))
               / sum(CAST(support AS DOUBLE)),
           CAST(sum(support) AS BIGINT)
    FROM pcf
    """,
)
def q_metric_report(spark, sf_dir):
    """Per-class precision/recall/F1/support plus sklearn's macro/weighted
    average rows ≙ classification_report (codes.py:294)."""
    out = M.metric_classification_report(
        _with_pred(_scored_events(spark, sf_dir)), "label", "pred"
    )
    return out.select("klass", "precision", "recall", "f1", "support")


_CURVE_CTE = (
    _SCORED_CTE
    + """
    , per AS (SELECT score AS threshold, count(*) AS n,
                     CAST(sum(label) AS BIGINT) AS pos
              FROM scored GROUP BY 1),
      cum AS (SELECT threshold,
                     CAST(sum(pos) OVER w AS BIGINT) AS tp,
                     CAST(sum(n - pos) OVER w AS BIGINT) AS fp
              FROM per
              WINDOW w AS (ORDER BY threshold DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      tot AS (SELECT CAST(sum(label) AS BIGINT) AS p,
                     CAST(count(*) - sum(label) AS BIGINT) AS n
              FROM scored),
      curve AS (SELECT threshold, tp, fp,
                       tp * 1.0 / tot.p AS tpr,
                       fp * 1.0 / tot.n AS fpr,
                       tp * 1.0 / (tp + fp) AS precision,
                       tp * 1.0 / tot.p AS recall
                FROM cum, tot)
"""
)


@register(
    "metric_roc_curve",
    _CURVE_CTE
    + """
    SELECT threshold, tp, fp, tpr, fpr
    FROM curve
    """,
)
def q_roc_curve(spark, sf_dir):
    """(FPR, TPR) at every distinct threshold ≙ roc_curve (codes.py:270) —
    grouped agg + cumulative window, no sklearn."""
    curve = M.binary_curve(_scored_events(spark, sf_dir), "label", "score")
    return curve.select("threshold", "tp", "fp", "tpr", "fpr")


@register(
    "metric_pr_curve",
    _CURVE_CTE
    + """
    SELECT threshold, precision, recall
    FROM curve
    """,
)
def q_pr_curve(spark, sf_dir):
    """(precision, recall) per threshold ≙ precision_recall_curve
    (codes.py:288)."""
    curve = M.binary_curve(_scored_events(spark, sf_dir), "label", "score")
    return curve.select("threshold", "precision", "recall")


@register(
    "metric_roc_auc",
    _CURVE_CTE
    + """
    , seg AS (SELECT (fpr - lag(fpr, 1, 0.0) OVER (ORDER BY fpr, tpr))
                   * (tpr + lag(tpr, 1, 0.0) OVER (ORDER BY fpr, tpr)) / 2.0
                   AS area
              FROM curve)
    SELECT round(sum(area), 6) AS roc_auc FROM seg
    """,
)
def q_roc_auc(spark, sf_dir):
    """Trapezoidal ROC-AUC ≙ auc(fpr, tpr) (codes.py:271)."""
    out = M.metric_roc_auc(_scored_events(spark, sf_dir), "label", "score")
    return out.select(F.round("roc_auc", 6).alias("roc_auc"))


@register(
    "metric_average_precision",
    _CURVE_CTE
    + """
    , seg AS (SELECT (recall - lag(recall, 1, 0.0)
                          OVER (ORDER BY threshold DESC)) * precision AS contrib
              FROM curve)
    SELECT round(sum(contrib), 6) AS average_precision FROM seg
    """,
)
def q_average_precision(spark, sf_dir):
    """Step-interpolated AP ≙ average_precision_score (codes.py:269) — the
    sklearn form, NOT MLlib's trapezoidal areaUnderPR (SURVEY §2.10)."""
    out = M.metric_average_precision(_scored_events(spark, sf_dir), "label", "score")
    return out.select(F.round("average_precision", 6).alias("average_precision"))


# ---------------------------------------------------------------------------
# Text analysis (SURVEY §7 phase 4) — SQL building blocks
# ---------------------------------------------------------------------------

_NORM = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"
_TOKENS = f"string_split({_NORM}, ' ')"


def _shingles_sql(n: int = 3) -> str:
    return (
        f"list_transform(range(1, greatest(len({_TOKENS}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({_TOKENS}, i, i + {n - 1}), ' '))"
    )


@register(
    "text_token_count",
    f"SELECT doc_id, len({_TOKENS}) AS n_tokens FROM documents",
)
def q_token_count(spark, sf_dir):
    """Whitespace token count per document."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", T.token_count("text").alias("n_tokens"))


@register(
    "text_quality_score",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKENS} AS toks,
             length(text) AS total,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                 AS punct
      FROM documents)
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
    """,
)
def q_quality_score(spark, sf_dir):
    """Length/punctuation/stopword quality heuristic."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    # floor-portable rounding: quality products land on .5e-6 boundaries at
    # sf>=0.1 where Spark HALF_UP and DuckDB round() disagree on the double
    q = F.floor(T.quality_score("text") * 1000000 + 0.5) / 1000000
    return d.select("doc_id", q.alias("quality"))


def _lang_score_sql(words: tuple[str, ...]) -> str:
    arr = "[" + ",".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({_TOKENS}, x -> list_contains({arr}, x)))"


@register(
    "text_lang_id",
    f"""
    WITH s AS (
      SELECT doc_id,
             {_lang_score_sql(T.LANG_MARKERS['de'])} AS s_de,
             {_lang_score_sql(T.LANG_MARKERS['en'])} AS s_en,
             {_lang_score_sql(T.LANG_MARKERS['es'])} AS s_es,
             {_lang_score_sql(T.LANG_MARKERS['fr'])} AS s_fr
      FROM documents)
    SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM s
    """,
)
def q_lang_id(spark, sf_dir):
    """Marker-token language heuristic, ties → lexicographically first lang."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", T.lang_id("text").alias("lang_pred"))


@register(
    "text_fingerprint",
    f"SELECT doc_id, md5({_NORM}) AS fp FROM documents",
)
def q_fingerprint(spark, sf_dir):
    """Content fingerprint (md5 of normalized text) — the exact-dedup key."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", T.fingerprint("text").alias("fp"))


# ---------------------------------------------------------------------------
# Dedup family (SURVEY §7 phase 4)
# ---------------------------------------------------------------------------

#: Synthetic-id offsets for fixture augmentation (mutated near-dup copies,
#: injected novel docs).  Must clear ANY plausible fixture id space: the r7
#: sf10 probe (500k docs) collided the old +100000 offset with REAL doc_ids,
#: which silently corrupted near-dup inputs at scale (duplicate ids made the
#: exploded-intersection Jaccard's denominator hit zero — caught by ANSI
#: division).  10^10 is beyond any test corpus while int64 keeps 9 orders of
#: headroom.  Keep the SQL and Spark sides in lockstep.
_AUG_OFFSET = 10_000_000_000
_NOVEL_OFFSET = 20_000_000_000

_AUG_CTE = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_AUG_OFFSET} AS doc_id, concat(text, ' near dup tail') AS text
  FROM documents WHERE doc_id % 5 = 0)
"""


def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 (opt): NO fan_out here — every consumer routes the result into an
    # operator that fans out internally (minhash_signatures /
    # minhash_lsh_verified / simhash / ngram_jaccard_pairs /
    # substring_kgram_pairs all start with fan_out(df); edit_distance_verify
    # broadcast-joins the doc texts).  The old outer fan_out stacked a
    # SECOND full-width round-robin exchange of the corpus text under the
    # operator's own one — fan_out can't see through the union (inputFiles
    # = 1 file) so it re-repartitioned an already-fanned relation (profiled
    # at sf0.1: an extra 64-task exchange stage per dedup query carrying
    # the full 1.25 MB text payload; plan: two Exchanges where one
    # suffices).  On a real cluster both fan_outs no-op (many files ≥
    # parallelism), so this is bench-plan hygiene, not a scale claim.
    # Results are partition-layout invariant (house rule, tested).
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(_AUG_OFFSET)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup tail")).alias("text"),
    )
    return d.unionByName(mutated)


_NORM_D = r"regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g')"
_TOKENS_D = f"string_split({_NORM_D}, ' ')"


def _shingles_sql_d(n: int = 3) -> str:
    return (
        f"list_transform(range(1, greatest(len({_TOKENS_D}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({_TOKENS_D}, i, i + {n - 1}), ' '))"
    )


def _minhash_sql(i: int) -> str:
    return (
        f"list_min(list_transform({_shingles_sql_d()}, s -> md5(concat('{i}:', s))))"
        f" AS minhash_{i}"
    )


@register(
    "dedup_minhash_signatures",
    _AUG_CTE
    + "SELECT d.doc_id, "
    + ", ".join(_minhash_sql(i) for i in range(8))
    + " FROM docs d",
)
def q_minhash_signatures(spark, sf_dir):
    """Per-doc 8-hash MinHash signature (md5-seeded, shingle n=3)."""
    return D.minhash_signatures(
        _augmented_docs(spark, sf_dir), "text", "doc_id", num_hashes=8, shingle_n=3
    )


@register(
    "dedup_minhash_lsh",
    _AUG_CTE
    + ", sig AS (SELECT d.doc_id, "
    + ", ".join(_minhash_sql(i) for i in range(8))
    + " FROM docs d), banded AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"concat(minhash_{2 * b}, '|', minhash_{2 * b + 1}) AS band_key FROM sig"
        for b in range(4)
    )
    + """)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    """,
)
def q_minhash_lsh(spark, sf_dir):
    """Near-dup candidate pairs via banded MinHash-LSH (4 bands × 2 hashes):
    the scale-path generalization of drop_duplicates (codes.py:96)."""
    return D.minhash_lsh_candidates(
        _augmented_docs(spark, sf_dir), "text", "doc_id", num_hashes=8, bands=4
    )


@register(
    "dedup_ngram_jaccard",
    _AUG_CTE
    + f"""
    , sh AS (SELECT d.doc_id, unnest(list_distinct({_shingles_sql_d()})) AS sh
             FROM docs d),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
    SELECT id_a, id_b,
           inter * 1.0 / (sa.sz + sb.sz - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    """Exact shingle-set Jaccard ≥ 0.5 pairs (LSH verification stage).

    r11: publishes the RAW IEEE quotient — both operands are exact
    integers, so the single division is bit-identical cross-engine and the
    house 6dp round only added the .5-at-the-7th-digit boundary class
    (see dedup._verify_jaccard_packed).  The operator self-joins on
    64-bit shingle digests by default (VERDICT r10 task 1)."""
    return D.ngram_jaccard_pairs(
        _augmented_docs(spark, sf_dir), "text", "doc_id", shingle_n=3, threshold=0.5
    ).select("id_a", "id_b", "jaccard")


def _simhash_bit_sql(j: int) -> str:
    return (
        f"CASE WHEN list_sum(list_transform({_TOKENS_D}, t -> "
        f"CASE WHEN substr(md5(t), {j + 1}, 1) >= '8' THEN 1 ELSE -1 END)) > 0 "
        f"THEN '1' ELSE '0' END"
    )


@register(
    "dedup_simhash",
    _AUG_CTE
    + "SELECT d.doc_id, concat("
    + ", ".join(_simhash_bit_sql(j) for j in range(32))
    + ") AS simhash FROM docs d",
)
def q_simhash(spark, sf_dir):
    """32-bit SimHash fingerprint (sign-aggregated md5 token bits)."""
    return D.simhash(_augmented_docs(spark, sf_dir), "text", "doc_id", bits=32)


# ---------------------------------------------------------------------------
# Similarity search (SURVEY §7 phase 4)
# ---------------------------------------------------------------------------

_DOT = (
    "list_sum(list_transform(range(1, len({a}.embedding) + 1), "
    "i -> CAST({a}.embedding[i] AS DOUBLE) * CAST({b}.embedding[i] AS DOUBLE)))"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


@register(
    "sim_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({_cos_sql('q', 'c')}, 6) AS cos
        FROM q, embeddings c WHERE q.vec_id <> c.vec_id),
      ranked AS (SELECT *, CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
                     AS INTEGER) AS rank
                 FROM scored)
    SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5
    """,
)
def q_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-5 for queries vec_id < 10 (ANN baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk_bruteforce(
        emb.filter(F.col("vec_id") < 10), emb, "vec_id", "embedding", k=5
    )


def _rhp_bit_sql(alias: str, plane: int) -> str:
    return (
        f"CASE WHEN list_sum(list_transform(range(0, 64), d -> "
        f"CAST({alias}.embedding[d + 1] AS DOUBLE) * "
        f"CASE WHEN substr(md5(concat('p{plane}:', CAST(d AS VARCHAR))), 1, 1)"
        f" >= '8' THEN 1.0 ELSE -1.0 END)) > 0 THEN '1' ELSE '0' END"
    )


def _rhp_sig_sql(alias: str, planes: int = 8) -> str:
    return "concat(" + ", ".join(_rhp_bit_sql(alias, p) for p in range(planes)) + ")"


@register(
    "sim_cosine_lsh",
    f"""
    WITH sig AS (SELECT e.vec_id, e.embedding,
                        {_rhp_sig_sql('e')} AS rhp_sig
                 FROM embeddings e),
      q AS (SELECT * FROM sig WHERE vec_id < 10),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({_cos_sql('q', 'c')}, 6) AS cos
        FROM q JOIN sig c ON q.rhp_sig = c.rhp_sig AND q.vec_id <> c.vec_id),
      ranked AS (SELECT *, CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
                     AS INTEGER) AS rank
                 FROM scored)
    SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5
    """,
)
def q_cosine_lsh(spark, sf_dir):
    """Approximate top-5 within random-hyperplane LSH buckets (8 md5-derived
    planes) — the scale path: equi-join on signature instead of cross join."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk_lsh(
        emb.filter(F.col("vec_id") < 10), emb, "vec_id", "embedding", k=5, planes=8
    )
