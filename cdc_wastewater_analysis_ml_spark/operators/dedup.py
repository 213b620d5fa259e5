"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Scale-first generalizations of the reference's ``drop_duplicates``
(codes.py:96) for a 100 TB documents table:

- exact: hash-groupBy on a content fingerprint — the shuffle carries a 32-char
  key + doc_id, never document bodies.
- MinHash+LSH: shingle → k min-hashes → b bands; candidate pairs emerge from a
  self-join on (band, band_signature) — only docs sharing a band bucket ever
  meet, so the join is linear-ish in practice instead of O(n²).
- SimHash: 32-bit sign-aggregated token fingerprint; near-dup candidates share
  a band of the bit string.
- n-gram Jaccard: exact pairwise similarity, restricted to candidate pairs (or
  used directly at small scale / as the LSH verification stage).

Determinism: every hash is md5 (available and bit-identical in Spark and
DuckDB); "random" bits are the high bit of hex nibbles of md5 output — no RNG,
so results are reproducible across engines and runs.  All pure Catalyst
expressions (explode/groupBy/joins) — no Python UDFs.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.readers import fan_out
from .caching import (
    release_local_checkpoint as _release_local_checkpoint,
    scoped_persist,
    transfer_cache_scope,
)
from .text import fingerprint, name_col, quote_ident, token_count, word_shingles


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact near-zero-cost dedup: min id per content fingerprint."""
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(F.min(name_col(id_col)).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
    with_size: bool = False,
) -> DataFrame:
    """One row per doc: ``minhash_0..k-1`` columns.

    Min-hash h_i(doc) = min over shingles of md5(i || ':' || shingle)
    (lexicographic min over hex strings — identical ordering everywhere).
    Computed with array expressions per row — no explode, no shuffle at all
    until someone aggregates the signatures.

    ``with_size`` (r12) adds ``__n`` = the DISTINCT shingle-set size (the
    verify stage's set size, so downstream size-ratio/orientation math is
    exact) — one extra ``array_distinct`` per row, emitted only on request
    because the minhash itself is distinct-invariant.
    """
    # Materialize the shingle array ONCE per row; the k minhash columns then
    # reference the materialized column.  Inlining word_shingles() into each
    # minhash expression would re-tokenize and re-slice k times per row
    # (measured 8× slower at 5k docs).
    with_shingles = fan_out(df).select(
        name_col(id_col), word_shingles(text_col, shingle_n).alias("__shingles")
    )

    # r15 (opt): the k seeded-min columns are rendered as SQL and parsed in
    # ONE selectExpr gateway call (the rhp_sign lesson) — the Column form
    # paid several py4j round trips per transform lambda, serial driver
    # time per consumer build.  Parsed nodes are identical, so signatures
    # are bit-identical (oracle-pinned).
    sig_exprs = [quote_ident(id_col)]
    if with_size:
        sig_exprs.append("size(array_distinct(__shingles)) AS __n")
    sig_exprs += [
        f"{_seeded_min_sql(i, '__shingles')} AS minhash_{i}"
        for i in range(num_hashes)
    ]
    return with_shingles.selectExpr(*sig_exprs)


def _seeded_min_sql(seed: int, arr: str) -> str:
    """SQL text of one seeded MinHash column over shingle array ``arr`` —
    parses to exactly the nodes the former F.array_min(F.transform(...))
    form built (md5 of '{seed}:' || shingle, lexicographic array_min)."""
    return f"array_min(transform({arr}, s -> md5(concat('{seed}:', s))))"


def _bucket_guard(
    banded: DataFrame,
    id_col: str,
    max_bucket_size: int | None,
    hot_bucket_action: str,
    op_name: str,
) -> DataFrame:
    """Hot-bucket telemetry/cap for banded LSH self-joins (DEVNOTES item 5).

    A bucket of n docs contributes n·(n−1)/2 candidate pairs: an adversarial
    corpus (mass-duplicated boilerplate) concentrates into a few buckets and
    the "linear-ish" join silently goes quadratic.  With a cap set, bucket
    sizes are measured on the (persisted) banded relation — one cheap agg —
    and oversized buckets either ``error`` loudly with the offending stats or
    are ``skip``-ped (the production choice: a bucket that hot is boilerplate
    the exact-dedup pass already collapses; near-dup recall on it is
    worthless).
    """
    if max_bucket_size is None:
        return banded
    if hot_bucket_action not in ("error", "skip"):
        raise ValueError("hot_bucket_action must be 'error' or 'skip'")
    sizes = banded.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("__bucket_n")
    )
    hot = sizes.filter(F.col("__bucket_n") > max_bucket_size)
    if hot_bucket_action == "error":
        stats = hot.agg(
            F.count(F.lit(1)).alias("hot_buckets"),
            F.max("__bucket_n").alias("max_bucket"),
            F.sum(
                F.col("__bucket_n") * (F.col("__bucket_n") - 1) / 2
            ).cast("long").alias("hot_pairs"),
        ).first()
        if stats["hot_buckets"]:
            raise ValueError(
                f"{op_name}: {stats['hot_buckets']} bucket(s) exceed "
                f"max_bucket_size={max_bucket_size} (largest holds "
                f"{stats['max_bucket']} docs -> {stats['hot_pairs']} candidate "
                "pairs from hot buckets alone). Exact-dedup the corpus first, "
                "raise the cap, or use hot_bucket_action='skip'."
            )
        return banded
    # skip: anti-join the oversized buckets out before the self-join — the
    # filter is keyed exactly like the join, no extra shuffle pattern.
    # merge hint: Catalyst's size estimate for an aggregate-after-filter is
    # guesswork, and on an adversarial (mass-duplicated) corpus the hot set
    # is NOT small — a misestimated broadcast build here OOMs exactly when
    # the guard matters most (the substring-kgram guard hit this at the
    # 100× probe).  NB the hint PINS sort-merge — Spark honors explicit
    # join-strategy hints during AQE re-planning, so there is no runtime
    # demotion back to broadcast; the cost is one extra sort of a relation
    # already shuffled on these keys for the self-join, paid only when the
    # cap is enabled.
    return banded.join(
        hot.select("band_id", "band_key").hint("merge"),
        ["band_id", "band_key"],
        "left_anti",
    )


def lsh_bucket_stats(banded: DataFrame) -> DataFrame:
    """Per-band bucket telemetry for a (id, band_id, band_key) relation:
    ``(band_id, n_buckets, max_bucket, candidate_pairs)`` where
    candidate_pairs = Σ n·(n−1)/2 over the band's buckets — the exact
    self-join output volume.  Record this next to every production LSH run:
    a pair count far above #docs means hot buckets, not near-dups."""
    per_bucket = banded.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_bucket.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("candidate_pairs"),
    )


def banded_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    with_size: bool = False,
) -> DataFrame:
    """(id, band_id, band_key) banding relation for MinHash-LSH — exposed so
    telemetry (:func:`lsh_bucket_stats`) and candidate generation share one
    definition.  ``with_size`` (r12) rides the distinct shingle-set size
    ``__n`` along (+8 B/row) so candidate pairs can emerge size-annotated."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, with_size=with_size
    )
    return _bands_from_sig(
        sig, id_col, num_hashes, bands, extra_cols=("__n",) if with_size else ()
    )


def _bands_from_sig(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band_id, band_key[, *extra_cols]) from a ``minhash_0..k-1``
    signature relation (shared by :func:`banded_minhash` and
    :func:`minhash_lsh_verified`).  ``extra_cols`` rides narrow per-doc
    annotations (r12: the shingle count ``__n``, +8 B on the banded
    exchange) through to the candidate join so pairs can emerge
    size-annotated."""
    r = num_hashes // bands
    # r15 (opt): the band structs parse as SQL in one selectExpr gateway
    # call per select (the rhp_sign lesson); named_struct/concat_ws parse
    # to the nodes F.struct/F.concat_ws built, so band keys are unchanged.
    band_structs = [
        f"named_struct('band_id', {b}, 'band_key', concat_ws('|', "
        + ", ".join(f"minhash_{b * r + j}" for j in range(r))
        + "))"
        for b in range(bands)
    ]
    return sig.selectExpr(
        quote_ident(id_col),
        *extra_cols,
        "explode(array(" + ", ".join(band_structs) + ")) AS band",
    ).selectExpr(
        quote_ident(id_col),
        *extra_cols,
        "band.band_id AS band_id",
        "band.band_key AS band_key",
    )


#: Above this many candidate ids the semi-join filter sets stop fitting
#: the engine's 4 MB AQE broadcast budget (ids are 8-byte longs plus row
#: overhead) and AQE would demote the filters to full shuffles of the
#: shingle relation — worse than no filter at all (A/B: +456 MB).
_SEMIJOIN_MAX_IDS = 400_000

#: Below this ESTIMATED input size the corpus-side exchanges the
#: reduction removes are cheaper than its own fixed cost — one extra
#: cache-materialization action alone measured +1.4 s at the 5k-doc bench
#: rung, wiping out a win that doesn't exist at that scale.  The estimate
#: is Catalyst's driver-side sizeInBytes (file-size-derived, no job):
#: small rungs sit ≤ ~1 MB, the 100× probe fixtures ≥ ~50 MB, a real
#: corpus far above — the gate is orders of magnitude away from both
#: sides.
_SEMIJOIN_MIN_INPUT_BYTES = 16 * 1024 * 1024

#: Column-metadata key stamped on generator-produced ``__na``/``__nb`` size
#: annotations: records the shingle width the sizes were computed at, so
#: the verify can reject a generator/verify ``shingle_n`` mismatch
#: instead of silently mis-prefiltering (ADVICE r12).  Metadata rides the
#: StructField through select/alias/distinct, costing nothing on the wire.
_SIZE_META_KEY = "spark_graft.shingle_n"


#: Estimates at/above this are a STAT-LESS artifact, not a size: RDD-backed
#: and other stat-less leaves default ``sizeInBytes`` to
#: ``spark.sql.defaultSizeInBytes`` (Long.Max), and the default (non-CBO)
#: stats visitor only ever SCALES that downward — a Project multiplies the
#: child estimate by the output/child row-width ratio, so a narrow
#: projection of a stat-less leaf lands at Long.Max/width_ratio, orders of
#: magnitude below Long.Max yet still fictitious (r10 review: a
#: 2-column select from a wide RDD-backed frame reads ~2^58, which a
#: Long.Max-only check waves through to the eager path).  2^50 ≈ 1.1 PB
#: still sits 8× above the 100 TB design envelope — no real single-input
#: estimate reaches it — while catching width-scaled sentinels down to a
#: 1/8192 projection ratio.
_STATLESS_SENTINEL_BYTES = 1 << 50


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's optimizer size estimate for ``df`` — driver-side plan
    metadata, runs no job.  Returns -1 where the internal JVM handle is
    unavailable (Spark Connect) OR the estimate is the stat-less
    ``defaultSizeInBytes`` sentinel (RDD-backed / no-stats lineage, r9
    ADVICE — a tiny in-memory corpus must not route to the eager
    big-corpus path on a fictitious Long.Max estimate): callers treat
    both as small/unknown and stay on the lazy conservative plan."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return -1
    return -1 if est >= _STATLESS_SENTINEL_BYTES else est


def _packed_digest_relation(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, __hs array<long>, __n) packed digest relation shared by the
    oriented and unoriented verify plans (one copy, so their bit-identity
    contract cannot drift).

    Null shingles are FILTERED out of the digest array (r12 ADVICE):
    xxhash64 skips null args (returns the seed hash), so an unfiltered
    transform would give every null-text doc ([NULL] from word_shingles)
    the same one-element array and pair them all at jaccard 1.0.  Mapping
    to a NULL element instead would not do either — ``array_intersect``
    MATCHES null elements.  The size column keeps the ORIGINAL array
    length (the distinct shingle-set size), where the null element counts
    toward __n but can never intersect."""
    return sh.select(
        name_col(id_col),
        F.transform(
            F.filter(F.col("__shs"), lambda s: s.isNotNull()),
            lambda s: F.xxhash64(s),
        ).alias("__hs"),
        F.size(F.col("__shs")).alias("__n"),
    )


def _verify_jaccard_packed(
    sh: DataFrame,
    pairs: DataFrame,
    id_col: str,
    threshold: float,
    reduce_a: bool = True,
    reduce_b: bool = True,
) -> DataFrame:
    """Exact Jaccard for candidate pairs over packed shingle DIGESTS: each
    pair joins its two docs' ``array<long>`` digest rows
    (:func:`_packed_digest_relation`) and counts
    ``size(array_intersect(...))`` per pair.  ``sh`` = persisted
    ``(id_col, __shs)`` distinct-shingle relation.

    The shingle strings are hashed to 64-bit ``xxhash64`` map-side, before
    any exchange.  Set sizes and intersection counts — hence the Jaccard
    values — are exact unless two distinct shingles of one pair collide in
    64 bits (≈ m²/2⁶⁵ per pair: ~10⁻¹³ at m=10⁴; the failure mode is one
    Jaccard nudged up, never a wrong join).  Packed rather than exploded
    (r11): an exploded ``(id, digest)`` plan replicates each pair once PER
    SHINGLE through the pair-expansion exchange, where this plan carries
    one row per pair with side A's digest array inline — ~3× fewer bytes
    on the dominant stage at identical results (sf10 dedup_lsh_verified
    5527 → 2203 MB, 81 → 36 s; PROBE_r11).  A mis-broadcast of the wide
    rows on deceptive compressed stats is forbidden by the engine-wide AQE
    broadcast cap (RUNTIME_CONFS, sized for worst-case dictionary
    expansion).

    ``threshold`` must be > 0 (:func:`_check_verify_threshold`): a pair
    with an empty intersection survives the inner joins with jaccard 0 and
    only the threshold filter drops it.

    Per-side semi-join reduction (``reduce_a`` / ``reduce_b``): only docs
    that appear in some candidate pair can contribute to an intersection,
    so each packed side is first left-semi filtered by its side's
    broadcast candidate-id set and the corpus-sized relation never reaches
    an exchange.  ``pairs`` must then be PERSISTED AND MATERIALIZED: the
    filter sets consume it again, and AQE plans them as broadcasts only
    when the candidate sizes are known when the main action starts (A/B at
    ov100: 1116 MB lazy vs 444 MB materialized vs 1234 MB unreduced).  The
    flags are per side because the delta-vs-store shape is asymmetric: the
    ``id_a`` set is bounded by the delta even when the store side is
    saturated.  :func:`_verify_jaccard` owns the gates.
    """
    hs = _packed_digest_relation(sh, id_col)
    a = hs.select(
        name_col(id_col).alias("id_a"),
        F.col("__hs").alias("__ha"),
        F.col("__n").alias("__na"),
    )
    b = hs.select(
        name_col(id_col).alias("id_b"),
        F.col("__hs").alias("__hb"),
        F.col("__n").alias("__nb"),
    )
    # Explicit broadcast of the gated filter sets (r13): the gate bounds
    # each id set at _SEMIJOIN_MAX_IDS, and left to AQE the 32-file
    # fixtures planned SortMergeJoin LeftSemi — each packed side exchanged
    # FULL-SIZE, then filtered, silently zeroing the reduction.
    if reduce_a:
        a = a.join(
            F.broadcast(pairs.select("id_a").distinct()), "id_a", "left_semi"
        )
    if reduce_b:
        b = b.join(
            F.broadcast(pairs.select("id_b").distinct()), "id_b", "left_semi"
        )
    j = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect(F.col("__ha"), F.col("__hb")))
    jac = inter / (F.col("__na") + F.col("__nb") - inter)
    # RAW IEEE quotient, not round(·, 6) (r11, the quality_linear_score
    # rule): both operands are exact integers, so the single division is
    # bit-identical cross-engine, while rounding it only ADDS the
    # .5-at-the-7th-digit boundary class where Spark's HALF_UP and DuckDB
    # can disagree.  The threshold filter compares the raw value too.
    return j.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _size_ratio_prefilter(sized_pairs: DataFrame, threshold: float) -> DataFrame:
    """Drop candidate pairs that PROVABLY cannot reach ``threshold`` from
    their shingle-set sizes alone: |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥
    max(|A|,|B|), so jaccard ≤ min/max — a pair with min/max < t can never
    pass the ``jaccard >= t`` filter.  Result-neutral including in floating
    point: both quotients are single IEEE divisions of exact integers and
    rounding is monotone, so jaccard_fp ≤ ratio_fp whenever the exact
    values are ordered.  ~9% of pairs at t=0.3 on the uniform 8–98 shingle
    sizes of the probe fixtures (DEVNOTES r11), before the verify pays any
    per-shingle byte for them.  Requires ``__na``/``__nb`` on the pair
    relation (size-annotated candidates, r12)."""
    return sized_pairs.filter(
        F.least(F.col("__na"), F.col("__nb"))
        / F.greatest(F.col("__na"), F.col("__nb"))
        >= threshold
    )


def _verify_jaccard_packed_oriented(
    sh: DataFrame,
    sized_pairs: DataFrame,
    id_col: str,
    threshold: float,
    prepart: bool = False,
) -> DataFrame:
    """:func:`_verify_jaccard_packed` with the pair expansion ORIENTED by
    the smaller shingle set (r12, DEVNOTES r11 design (b)): the dominant
    exchange of the packed plan carries side A's digest array once per
    pair (~44% of ``dedup_lsh_verified`` post-packing), so carrying
    min(|A|,|B|) instead of |A| saves E[min]/E[|A|] ≈ 28% of it on the
    probe fixtures' uniform shingle sizes.  Each pair joins its SMALLER
    doc's packed digest row first; the expansion exchange (hash by the
    bigger side's id) then carries the small array.  Jaccard is symmetric
    and ``__n_small + __n_big`` is IEEE-commutative, so values are
    bit-identical to the unoriented plan.

    Requires size-annotated pairs (``id_a``, ``id_b``, ``__na``, ``__nb``
    — from :func:`minhash_lsh_candidates` ``with_sizes=True`` or the fused
    operator).  NO per-side semi-join reduction: orientation scatters each
    original side's ids across both join keys, which breaks exactly the
    asymmetric delta-vs-store reduction (DEVNOTES r11) — so
    :func:`_verify_jaccard` dispatches here only in the both-gates-off
    regime (the small-corpus leg is gates-off by definition)."""
    hs = _packed_digest_relation(sh, id_col)
    pinned = None
    if prepart:
        # r13 "bucketed pre-join layout" (VERDICT r12 task 3): one exchange
        # + cache instead of two exchanges of the array relation — joins 1
        # and 2 read the SAME hash partitioning through the
        # __k_small/__k_big alias projections (alias-aware output
        # partitioning), so EnsureRequirements shuffles only the pair side
        # (sf10mf: 1890.8 → 1625.3 MB at identical checksums).  Requested
        # only by the big-corpus leg: on the small leg the extra exchange +
        # cache would be pure fixed cost below the broadcast floor.
        # Pinned to the returned plan's lifetime.
        n_part = int(
            sh.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        pinned = hs.repartition(n_part, name_col(id_col)).persist()
        hs = pinned
    a_small = F.col("__na") <= F.col("__nb")
    op = sized_pairs.select(
        "id_a",
        "id_b",
        F.when(a_small, F.col("id_a")).otherwise(F.col("id_b")).alias("__k_small"),
        F.when(a_small, F.col("id_b")).otherwise(F.col("id_a")).alias("__k_big"),
    )
    small = hs.select(
        name_col(id_col).alias("__k_small"),
        F.col("__hs").alias("__h_small"),
        F.col("__n").alias("__n_small"),
    )
    big = hs.select(
        name_col(id_col).alias("__k_big"),
        F.col("__hs").alias("__h_big"),
        F.col("__n").alias("__n_big"),
    )
    # Declared join order is load-bearing (CBO reordering is off): join the
    # small side's array first, so the second join's pair-expansion
    # exchange — the plan's dominant stage — carries the SMALL array.
    # __k_small is projection-pruned after join 1.
    j = op.join(small, "__k_small").join(big, "__k_big")
    inter = F.size(F.array_intersect(F.col("__h_small"), F.col("__h_big")))
    jac = inter / (F.col("__n_small") + F.col("__n_big") - inter)
    # Raw integer-quotient publication (r11 rule; see the unoriented plan).
    out = j.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )
    return scoped_persist(out, pinned) if pinned is not None else out


def _check_verify_threshold(threshold: float) -> None:
    """Each :func:`_verify_jaccard` consumer calls this FIRST, before it
    persists any shingle, banded or candidate relation: a later failure
    would leave those caches pinned for the session."""
    if threshold <= 0:
        raise ValueError(
            "threshold must be > 0 (zero-intersection pairs survive the "
            "packed joins with jaccard 0 and must be filtered)"
        )


def _verify_jaccard(
    sh: DataFrame,
    pairs: DataFrame,
    id_col: str,
    threshold: float,
    inputs: tuple[DataFrame, ...],
    sized: bool = False,
    n_docs: int | None = None,
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """The one candidates→verify dispatch, shared by
    :func:`minhash_lsh_verified`, :func:`jaccard_verify_pairs` and
    :func:`dedup_incremental_near`.  ``sh`` = persisted ``(id_col,
    __shs)`` distinct-shingle relation; ``pairs`` = ``(id_a, id_b)``, plus
    ``__na``/``__nb`` iff ``sized``; ``inputs`` = the consumer's input
    frames, whose Catalyst size estimate picks the leg.  Returns
    ``(verified, pins)``; the caller scopes ``pins`` onto the plan it
    returns.

    **Small corpus** (estimated total under ``_SEMIJOIN_MIN_INPUT_BYTES``,
    or any estimate unknown): no eager job, no pin — the reduction's fixed
    costs (a barrier action + distinct sets + broadcasts) exceed the
    exchanges it removes there (+1.4 s at the 5k-doc rung, A/B'd r9).
    Gates-off by definition, so sized pairs take the oriented plan.

    **Big corpus**: ``sh.count()`` (skipped when the caller passes its own
    ``n_docs``) fills the shingle cache before its concurrent verify
    consumers can race it (the r8 lesson: 530 → 121 s at ov100).  The
    pair relation is re-projected and persisted privately — a caller-owned
    ``pairs`` handle is never cached, or later uncached by a scope
    finalizer, behind the caller's back — and ONE agg job over it yields
    both distinct-id counts and doubles as the materialization barrier AQE
    needs to plan the filter semi-joins as broadcasts (PROBE_r09).  Each
    side's reduction is gated on its DISTINCT id count: it must fit the
    ~4 MB broadcast budget (``_SEMIJOIN_MAX_IDS``) and cover at most half
    the shingled docs (filtering removes nothing when most docs are
    candidates).  A pair-COUNT proxy disabled the side-A reduction in the
    asymmetric delta-vs-store case the per-side flags exist for: a small
    delta matching many store docs has a huge pair count but a tiny
    distinct ``id_a`` set.  With both gates off, sized pairs take the
    oriented plan on the pre-partitioned layout.

    Byte-scaling contract (r14, PROBE_PAIRS_r14): the family's shuffle
    bytes are linear in docs (corpus-side exchanges) plus candidate pairs
    (pair-side exchanges), and bytes per candidate FALL with scale
    (closed-vocab sf1mf→sf10mf: 0.514 → 0.262 MB per 1k candidates).
    Every superlinear byte exponent read on this family (seg2 ~1.63) is
    the CANDIDATE density of the closed-vocabulary fixture — band keys
    saturate at fixed vocabulary — while verified output pairs are exactly
    linear (exp 1.000-1.001) and open-vocabulary candidates near-linear
    (exp 1.089, ov1→ov100).  Candidate growth is a data property managed
    upstream (exact-dedup first, ``max_bucket_size``), not by this plan.
    """
    ests = [_estimated_bytes(d) for d in inputs]
    if min(ests) < 0 or sum(ests) < _SEMIJOIN_MIN_INPUT_BYTES:
        if sized:
            out = _verify_jaccard_packed_oriented(sh, pairs, id_col, threshold)
        else:
            out = _verify_jaccard_packed(
                sh, pairs, id_col, threshold, reduce_a=False, reduce_b=False
            )
        return out, ()
    if n_docs is None:
        n_docs = sh.count()
    cols = ["id_a", "id_b", "__na", "__nb"] if sized else ["id_a", "id_b"]
    pairs = pairs.select(*cols).persist()
    counts = pairs.agg(
        F.countDistinct("id_a").alias("na"),
        F.countDistinct("id_b").alias("nb"),
    ).collect()[0]

    def _gate(n_ids: int) -> bool:
        return n_ids <= _SEMIJOIN_MAX_IDS and 2 * n_ids <= n_docs

    reduce_a, reduce_b = _gate(counts["na"]), _gate(counts["nb"])
    if sized and not (reduce_a or reduce_b):
        # Saturated regime: no per-side reduction for orientation to break,
        # so the smaller-side expansion is a pure byte cut (r12).
        out = _verify_jaccard_packed_oriented(
            sh, pairs, id_col, threshold, prepart=True
        )
    else:
        # prepart is NOT used on this gated/unsized leg (r13): an on/off
        # A/B on dedup_incremental_near at sf10mf read byte-identical
        # stage structures with the pin engaged (1033.0 MB either way) —
        # the reduction semi-joins and the caller's matched-id cache
        # already shape the exchanges it would remove.
        out = _verify_jaccard_packed(
            sh,
            pairs.select("id_a", "id_b"),
            id_col,
            threshold,
            reduce_a=reduce_a,
            reduce_b=reduce_b,
        )
    return out, (pairs,)


def minhash_lsh_verified(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.3,
    max_bucket_size: int | None = None,
    hot_bucket_action: str = "error",
) -> DataFrame:
    """Fused candidates→verify near-dup pipeline over ONE shingle pass.

    Semantically identical to ``jaccard_verify_pairs(df,
    minhash_lsh_candidates(df, ...), ...)`` (min over distinct shingles ==
    min over all shingles, so the signatures are unchanged), but the
    composed form extracts the per-doc distinct-shingle sets ONCE: the
    staged (persisted) shingle relation feeds the MinHash signature
    computation AND the verification stage, where the two-operator
    composition tokenizes + shingles the full corpus twice — at 100 TB that
    second text pass is a whole extra read of the corpus.  This is the
    "stage the shingle table, then everything derives from it" pipeline
    layout (measured ~25% faster at sf0.1: 2.7→2.0 s steady-state).

    The candidates emerge size-annotated (r12): each pair carries both
    docs' distinct shingle-set sizes, so a provable size-ratio prefilter
    drops pairs that cannot reach ``threshold`` before any per-shingle
    byte is paid, and :func:`_verify_jaccard` runs the packed digest
    verify oriented by the smaller set.  On a big corpus that dispatch is
    deliberately EAGER (shingle cache count + candidate barrier); on a
    small one the whole operator stays one lazy plan.

    The banded relation is additionally persisted (as in
    :func:`minhash_lsh_candidates`): the self-join reads it twice, and
    without the pin each side would re-run the 8 md5 transforms over the
    cached shingles.  All pins release when the caller drops the result.
    """
    _check_verify_threshold(threshold)
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sh = (
        fan_out(df)
        .select(
            name_col(id_col),
            F.array_distinct(word_shingles(text_col, shingle_n)).alias("__shs"),
        )
        .persist()
    )
    # The shingle COUNT rides the banded relation (+8 B/row on its
    # exchange) so candidates emerge size-annotated.  r15 (opt): the
    # seeded-min columns parse as SQL in one selectExpr gateway call (see
    # minhash_signatures/_seeded_min_sql) — bit-identical nodes.
    sig = sh.selectExpr(
        quote_ident(id_col),
        "size(__shs) AS __n",
        *(
            f"{_seeded_min_sql(i, '__shs')} AS minhash_{i}"
            for i in range(num_hashes)
        ),
    )
    banded = _bands_from_sig(
        sig, id_col, num_hashes, bands, extra_cols=("__n",)
    ).persist()
    guarded = _bucket_guard(
        banded, id_col, max_bucket_size, hot_bucket_action, "minhash_lsh_verified"
    )
    a = guarded.alias("a")
    b = guarded.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
                name_col(id_col, "a") < name_col(id_col, "b"),
            ],
        )
        .select(
            name_col(id_col, "a").alias("id_a"),
            name_col(id_col, "b").alias("id_b"),
            F.col("a.__n").alias("__na"),
            F.col("b.__n").alias("__nb"),
        )
        .distinct()
    )
    cand = _size_ratio_prefilter(cand, threshold)
    out, pins = _verify_jaccard(sh, cand, id_col, threshold, (df,), sized=True)
    return scoped_persist(out, sh, banded, *pins)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    hot_bucket_action: str = "error",
    with_sizes: bool = False,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    ``num_hashes`` minhashes split into ``bands`` bands of r = k/b rows; docs
    agreeing on ALL minhashes of any band become a candidate pair (classic
    banding: P[candidate] = 1-(1-s^r)^b for Jaccard s).  The self-join runs on
    (band_id, band_key) — a high-cardinality composite key, so the shuffle is
    well distributed; pairs are emitted once with id_a < id_b.

    ``max_bucket_size`` guards the adversarial case (mass-duplicated docs →
    one bucket → quadratic pairs): see :func:`_bucket_guard`.  Default off —
    enable it on any corpus that has not been exact-deduped first.

    ``with_sizes`` (r12) annotates each pair with the two docs' DISTINCT
    shingle-set sizes (``__na``/``__nb``, +16 B/pair) by riding ``__n`` on
    the banded relation — :func:`jaccard_verify_pairs` then applies the
    provable size-ratio prefilter and the smaller-side-oriented packed
    verify (DEVNOTES r11 design (b)).  Default off so the published
    candidate schema is unchanged.
    """
    banded = banded_minhash(
        df, text_col, id_col, num_hashes, bands, shingle_n, with_size=with_sizes
    )
    # Self-join against a broadcast side re-executes the whole signature
    # pipeline (no exchange reuse under BroadcastExchange) — persist the
    # banded relation so the md5 work runs once.  At full scale this is the
    # "write signatures to a staging table first" step of a dedup pipeline.
    # scoped_persist releases the cache once the caller drops the result.
    banded = banded.persist()
    guarded = _bucket_guard(
        banded, id_col, max_bucket_size, hot_bucket_action, "minhash_lsh_candidates"
    )
    a = guarded.alias("a")
    b = guarded.alias("b")
    pair_cols = [
        name_col(id_col, "a").alias("id_a"),
        name_col(id_col, "b").alias("id_b"),
    ]
    if with_sizes:
        # Stamp the shingle width into the annotation columns' metadata so
        # jaccard_verify_pairs can assert generator/verify consistency
        # (ADVICE r12: sizes computed at a different shingle_n would make
        # the size-ratio prefilter silently drop true-positive pairs).
        meta = {_SIZE_META_KEY: shingle_n}
        pair_cols += [
            F.col("a.__n").alias("__na", metadata=meta),
            F.col("b.__n").alias("__nb", metadata=meta),
        ]
    out = (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
                name_col(id_col, "a") < name_col(id_col, "b"),
            ],
        )
        .select(*pair_cols)
        .distinct()
    )
    return scoped_persist(out, banded)


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """32-bit SimHash fingerprint as a '0'/'1' string column ``simhash``.

    Bit j of a token's hash = high bit of hex nibble j of md5(token) (hex
    char ≥ '8'), a portable stand-in for real bit extraction.  Document bit j
    = sign of Σ_tokens (±1).  Emitted as a bit-string so banding/Hamming ops
    are plain substring/comparison expressions in any engine.
    """
    if not 1 <= bits <= 32:
        raise ValueError("bits must be 1..32")
    from .text import tokenize

    # md5 each token ONCE, then derive all bit votes from the materialized
    # hash array — the naive form (md5 inside every bit's aggregate) costs
    # bits× more hashing (measured ~8s → ~1s at 5k docs).
    hashed = fan_out(df).select(
        name_col(id_col),
        F.transform(tokenize(text_col), lambda t: F.md5(t)).alias("__tok_md5"),
    )

    # r15 (opt): the concat-of-bit-votes is ONE SQL string parsed JVM-side
    # (the rhp_sign lesson — similarity._rhp_sign_sql): the Column form
    # paid one py4j round trip per client-side node, and each of the
    # ``bits`` aggregate lambdas costs several (cProfile: ~2k round trips
    # ≈ 1 s of serial driver time per build).  The parsed CASE/aggregate
    # fold is node-identical to what F.when/F.aggregate built, so the
    # fingerprint is bit-identical.
    sig = F.expr(
        "concat(" + ",".join(_simhash_vote_sql(j) for j in range(bits)) + ")"
    )
    return hashed.select(name_col(id_col), sig.alias("simhash"))


def _simhash_vote_sql(j: int) -> str:
    """SQL text of bit ``j``'s sign-aggregated vote over ``__tok_md5`` —
    parses to exactly the nodes the former F.aggregate/F.when form built."""
    return (
        f"CASE WHEN aggregate(__tok_md5, 0, (acc, h) -> acc + "
        f"(CASE WHEN substring(h, {j + 1}, 1) >= '8' THEN 1 ELSE -1 END)) > 0 "
        f"THEN '1' ELSE '0' END"
    )


def simhash_band_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
    bands: int = 4,
    max_bucket_size: int | None = None,
    hot_bucket_action: str = "error",
) -> DataFrame:
    """Candidate pairs whose SimHash agrees on ≥1 of ``bands`` bit-bands
    (Hamming-distance screening: distance < bands ⇒ some band matches).
    ``max_bucket_size`` hot-bucket guard as in :func:`minhash_lsh_candidates`."""
    if bits % bands:
        raise ValueError("bits must be divisible by bands")
    r = bits // bands
    sh = simhash(df, text_col, id_col, bits)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.substring("simhash", b * r + 1, r).alias("band_key"),
        )
        for b in range(bands)
    ]
    banded = sh.select(
        name_col(id_col), F.explode(F.array(*band_structs)).alias("band")
    ).select(name_col(id_col), "band.band_id", "band.band_key").persist()
    guarded = _bucket_guard(
        banded, id_col, max_bucket_size, hot_bucket_action, "simhash_band_candidates"
    )
    a, b = guarded.alias("a"), guarded.alias("b")
    out = (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
                name_col(id_col, "a") < name_col(id_col, "b"),
            ],
        )
        .select(
            name_col(id_col, "a").alias("id_a"), name_col(id_col, "b").alias("id_b")
        )
        .distinct()
    )
    return scoped_persist(out, banded)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact pairwise Jaccard over word-shingle sets, pairs ≥ threshold.

    Explode distinct shingles → self-join on shingle → |A∩B| per pair →
    Jaccard via |A|+|B|−|A∩B|.  At scale this runs AFTER an LSH candidate
    filter (the verification stage); standalone it is quadratic in docs that
    share a shingle — which is exactly the set it must inspect anyway.

    The exploded shingle column is narrowed to a 64-bit ``xxhash64``
    digest BEFORE the persist (r11 — the last string-keyed shuffle in the
    dedup family, VERDICT r10 task 1), so the self-join and the size
    aggregate shuffle 8-byte longs instead of 10-40-byte shingle strings.
    Distinct-set sizes and intersection counts — hence every Jaccard
    value — are preserved exactly unless two distinct shingles of one pair
    collide in 64 bits (≈ m²/2⁶⁵ per pair; the failure mode is one Jaccard
    nudged up, never a wrong join).
    """
    # The exploded shingle relation feeds three consumers (both join sides +
    # the size aggregate); persist so shingling runs once.  explode_outer:
    # a plain explode gets an InferFiltersFromGenerate size()>0 filter that
    # re-computes the whole shingle expression during cache materialization
    # (see corpus.contamination_overlap); null-text rows yield a null sh
    # that no equi-join side ever matches.
    sh = fan_out(df).select(
        name_col(id_col),
        F.explode_outer(
            F.array_distinct(word_shingles(text_col, shingle_n))
        ).alias("sh"),
    )
    # NULL-preserving digest: xxhash64 SKIPS null arguments (returns the
    # bare seed hash, not NULL), which would collapse every null-text doc's
    # placeholder row onto one shared join key — a spurious hot bucket
    # joining all null docs pairwise.  The when() keeps null never matching.
    sh = sh.select(
        name_col(id_col),
        F.when(F.col("sh").isNotNull(), F.xxhash64(F.col("sh"))).alias("sh"),
    )
    sh = sh.persist()
    sizes = sh.groupBy(name_col(id_col)).agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            on=[
                F.col("a.sh") == F.col("b.sh"),
                name_col(id_col, "a") < name_col(id_col, "b"),
            ],
        )
        .groupBy(
            name_col(id_col, "a").alias("id_a"), name_col(id_col, "b").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(name_col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(name_col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return scoped_persist(out, sh)


def near_dup_embedding_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a < id_b, cos >= t)``.

    Exact all-pairs form — the correctness baseline.  At corpus scale the
    quadratic candidate set must be pruned first: bucket by random-hyperplane
    signature (:func:`near_dup_embedding_lsh`) or IVF cell, then run this
    scorer within buckets only.
    """
    from .similarity import cosine

    df = fan_out(df)
    a = df.select(name_col(id_col).alias("id_a"), name_col(vec_col).alias("vec_a"))
    b = df.select(name_col(id_col).alias("id_b"), name_col(vec_col).alias("vec_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def near_dup_embedding_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    planes: int = 4,
    dims: int = 64,
) -> DataFrame:
    """Near-dup pairs restricted to same-LSH-bucket candidates — the scale
    path: the self-join becomes an equi-join on the signature, so candidate
    volume drops ~2^planes-fold and the shuffle is keyed by bucket.  Recall
    trades off via ``planes`` (cosine-similar vectors collide with high
    probability under random hyperplanes)."""
    from .similarity import cosine, rhp_signature

    sig = rhp_signature(fan_out(df), id_col, vec_col, planes, dims)
    a = sig.select(
        name_col(id_col).alias("id_a"), name_col(vec_col).alias("vec_a"), "rhp_sig"
    )
    b = sig.select(
        name_col(id_col).alias("id_b"), name_col(vec_col).alias("vec_b"), "rhp_sig"
    )
    return (
        a.join(b, on="rhp_sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.3,
    assume_distinct: bool = False,
) -> DataFrame:
    """Exact Jaccard restricted to a candidate-pair relation ``(id_a, id_b)``
    — the LSH verification stage.

    This is THE scale path for near-dup: :func:`ngram_jaccard_pairs` alone is
    quadratic in docs sharing a hot shingle (measured 15× superlinear on a
    10× corpus with duplicated docs), while candidates→verify touches only
    the candidate edges.  Intersections are counted over packed 64-bit
    shingle digests (:func:`_verify_jaccard_packed`) — identical Jaccard
    values up to a ~2⁻⁶⁵·m² per-pair collision chance — through the shared
    dispatch :func:`_verify_jaccard`: a corpus under Catalyst's 16 MB size
    estimate keeps the whole operator ONE LAZY PLAN; above it the operator
    is deliberately EAGER (shingle cache count + candidate barrier, so AQE
    knows the semi-join filter sizes before the main action).
    ``threshold`` must be > 0.

    If ``pairs`` came from a candidate generator that scoped-persisted its
    banded relation (:func:`minhash_lsh_candidates`), cache ownership is
    transferred onto the returned verify plan — both sides of the candidate
    self-join reuse the cached signatures when THIS result executes, even
    though the caller typically drops the intermediate ``pairs`` handle
    (the round-3 ``dedup_lsh_verified`` regression).

    ``assume_distinct``: duplicate candidate rows would publish duplicate
    verified pairs (r7 ADVICE), so the default de-duplicates the pair
    relation first — one extra same-keyed hash aggregate, no extra
    exchange when the generator already grouped on the pair key.  Callers
    whose candidate relation is distinct BY CONSTRUCTION (everything from
    :func:`minhash_lsh_candidates`, which ends in ``.distinct()``) pass
    ``True`` to skip it.

    Size-annotated pairs (r12): if ``pairs`` carries ``__na``/``__nb``
    (the two docs' DISTINCT shingle-set sizes, as emitted by
    :func:`minhash_lsh_candidates` ``with_sizes=True``), the verify applies
    the provable size-ratio prefilter and — in the both-gates-off regime —
    the smaller-side-oriented expansion.  CONTRACT: the size columns must
    be functionally dependent on the ids and equal the verify-side
    ``size(array_distinct(word_shingles(text, n)))``; inconsistent
    annotations would survive the pair-distinct as duplicate rows and
    mis-prefilter.  Pass generator-produced sizes or none.
    """
    _check_verify_threshold(threshold)
    sized = {"__na", "__nb"} <= set(pairs.columns)
    if sized:
        # ADVICE r12: the sized path used to trust caller-supplied sizes on
        # column presence alone — sizes computed at a DIFFERENT shingle_n
        # would make the size-ratio prefilter silently drop pairs that pass
        # the true jaccard threshold.  Generator-produced annotations
        # (minhash_lsh_candidates with_sizes=True) carry the width in
        # column metadata: a mismatch fails loudly; annotations WITHOUT the
        # stamp are unverifiable and are stripped (the unsized plan is
        # always correct, just unoriented).
        stamped = [
            pairs.schema[c].metadata.get(_SIZE_META_KEY)
            for c in ("__na", "__nb")
        ]
        if any(s is not None and s != shingle_n for s in stamped):
            raise ValueError(
                f"size-annotated pairs were generated at shingle_n="
                f"{[s for s in stamped if s is not None][0]} but verify was "
                f"called with shingle_n={shingle_n}; regenerate candidates "
                "with matching shingle_n (the prefilter would drop true "
                "positives otherwise)"
            )
        if any(s is None for s in stamped):
            import warnings

            warnings.warn(
                "ignoring caller-supplied __na/__nb size annotations "
                f"without the {_SIZE_META_KEY!r} metadata stamp — sizes at "
                "a mismatched shingle_n would silently mis-prefilter; use "
                "minhash_lsh_candidates(with_sizes=True) to keep the "
                "oriented fast path",
                stacklevel=2,
            )
            # Re-home scoped cache pins onto the stripped handle: a bare
            # rebind would leave the pins on the caller's (now-dead)
            # handle and the generator caches could unpersist early.
            pairs = transfer_cache_scope(pairs, pairs.drop("__na", "__nb"))
            sized = False
    pair_cols = ["id_a", "id_b", "__na", "__nb"] if sized else ["id_a", "id_b"]
    if not assume_distinct:
        # Re-home any scoped cache pins onto the rebound handle: the
        # original `pairs` object dies at this rebind, and without the
        # transfer its weakref finalizer would unpersist the generator's
        # banded/shingle caches before the verify plan ever executes.
        pairs = transfer_cache_scope(
            pairs, pairs.select(*pair_cols).distinct()
        )
    if sized:
        pairs = transfer_cache_scope(
            pairs, _size_ratio_prefilter(pairs, threshold)
        )
    # Persist the per-doc shingle arrays: the relation feeds both packed
    # verify sides, and without the pin the expensive shingle projection
    # re-runs per consumer.  Scoped to the returned plan like the
    # transferred candidate-cache pins.
    sh = fan_out(df).select(
        name_col(id_col),
        F.array_distinct(word_shingles(text_col, shingle_n)).alias("__shs"),
    ).persist()
    out, pins = _verify_jaccard(sh, pairs, id_col, threshold, (df,), sized=sized)
    return scoped_persist(transfer_cache_scope(pairs, out), sh, *pins)


def dedup_incremental_exact(
    new_df: DataFrame,
    store_df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental exact dedup: rows of ``new_df`` whose content fingerprint
    does not already exist in ``store_df`` — the daily-batch ingestion shape
    (dedupe the delta against the corpus, never re-scan corpus×corpus).

    Anti-join on the 32-char digest: the shuffle carries (fp, id), never
    document bodies; at 100 TB the store side is a bucketed fingerprint table
    so the anti-join is exchange-free on the store side.
    """
    new_fp = fan_out(new_df).withColumn("__fp", fingerprint(text_col))
    store_fp = fan_out(store_df).select(fingerprint(text_col).alias("__fp")).distinct()
    return new_fp.join(store_fp, "__fp", "left_anti").drop("__fp")


def minhash_lsh_candidates_vs_store(
    new_df: DataFrame,
    store_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    hot_bucket_action: str = "error",
) -> DataFrame:
    """Candidate near-dup pairs of a NEW batch against an existing corpus:
    ``(id_new, id_store)`` sharing ≥1 MinHash band bucket.  (No
    ``with_sizes`` here, unlike the self-join generator: size-annotated
    candidates were A/B'd for this shape and REJECTED — the annotation
    bytes exceeded the prefilter's savings in the gated asymmetric regime;
    see dedup_incremental_near.)

    The incremental analogue of :func:`minhash_lsh_candidates`: instead of a
    corpus self-join, the delta's banded signatures equi-join the store's —
    cost O(|delta| + matching buckets), never corpus × corpus.  At 100 TB
    the store side is a PRECOMPUTED banded-signature staging table (written
    once per corpus build, bucketed by (band_id, band_key) so this join is
    exchange-free on the store side); here it is derived in-plan because the
    fixtures are small.  No ``id <`` constraint — the two relations are
    disjoint id spaces by contract (same-id re-crawls are the EXACT dedup
    pass's job, :func:`dedup_incremental_exact`).

    ``max_bucket_size`` caps the STORE side's bucket sizes (same guard as
    the self-join family, :func:`_bucket_guard`): a hot store bucket makes
    every matching delta doc pay |bucket| candidates, so a boilerplate-
    heavy store turns the "delta-driven" join quadratic-ish — the r7 sf10
    probe measured exactly this on the saturated-vocab fixture
    (dedup_incremental_near exponent 0.89 vs 0.6-0.79 for the self-join
    family; 486 s at 100×).  Default off to preserve exact recall;
    production ingest should set it.

    r8 persist policy: UNLIKE the self-join family, each banded relation
    here feeds the join exactly ONCE, so the r7-era ``persist()`` on both
    sides paid full materialization for zero reuse — and worse, under a
    single action the unmaterialized caches made concurrent AQE stages
    race/block on the block-store (measured on the ov100 fixture as part
    of the 530 s pathology; see dedup_incremental_near).  The store side
    is persisted ONLY when the bucket guard is active (the guard's size
    aggregate is then a genuine second consumer).
    """
    banded_new = banded_minhash(
        new_df, text_col, id_col, num_hashes, bands, shingle_n
    )
    banded_store = banded_minhash(
        store_df, text_col, id_col, num_hashes, bands, shingle_n
    )
    pins: list[DataFrame] = []
    if max_bucket_size is not None:
        banded_store = banded_store.persist()
        pins.append(banded_store)
    guarded_store = _bucket_guard(
        banded_store,
        id_col,
        max_bucket_size,
        hot_bucket_action,
        "minhash_lsh_candidates_vs_store",
    )
    out = (
        banded_new.alias("a")
        .join(
            guarded_store.alias("b"),
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
            ],
        )
        .select(
            name_col(id_col, "a").alias("id_new"),
            name_col(id_col, "b").alias("id_store"),
        )
        .distinct()
    )
    return scoped_persist(out, *pins) if pins else out


def dedup_incremental_near(
    new_df: DataFrame,
    store_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.3,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    hot_bucket_action: str = "error",
    check_disjoint_ids: bool = False,
) -> DataFrame:
    """Incremental NEAR-dup dedup: rows of ``new_df`` whose text is not a
    near-duplicate (shingle Jaccard ≥ ``threshold``) of ANY store document —
    the daily-ingest production shape for a training corpus, completing
    :func:`dedup_incremental_exact` (which only rejects byte-identical
    re-crawls).

    **Contract: the delta and store id spaces must be disjoint** — the
    verify stage unions both sides into ONE shingle relation keyed on
    ``id_col``, so a delta id colliding with a store id would merge two
    documents' shingle sets and corrupt both the intersection and size
    counts (r7 ADVICE).  Same-id re-crawls belong to the EXACT pass
    (:func:`dedup_incremental_exact`), which handles them by content
    fingerprint.  ``check_disjoint_ids=True`` enforces the contract with an
    eager left-semi emptiness probe (one bounded action — keep it on in
    ingest jobs where id provenance is uncertain; off by default so the
    operator stays a single lazy plan).

    candidates→verify, both stages delta-driven: banded-LSH candidates
    against the store (:func:`minhash_lsh_candidates_vs_store`), exact
    Jaccard on candidate pairs only, then one left-anti join removes new
    docs with a confirmed match.  Intra-batch near-dups are out of scope —
    run :func:`minhash_lsh_candidates` + verify within the batch first if
    the delta itself may contain them.
    """
    _check_verify_threshold(threshold)
    if check_disjoint_ids:
        colliding = (
            new_df.select(name_col(id_col))
            .join(store_df.select(name_col(id_col)), id_col, "left_semi")
            .limit(5)
            .collect()
        )
        if colliding:
            raise ValueError(
                "dedup_incremental_near: delta/store id spaces must be "
                f"disjoint, found colliding {id_col}s "
                f"{[r[id_col] for r in colliding]} — route same-id "
                "re-crawls through dedup_incremental_exact instead"
            )
    # Size-annotated candidates MEASURED AND REJECTED here (r12): the
    # sized request (banded +8 B/row on BOTH signature sides, +16 B/pair
    # through the candidate distinct) cost more than the size-ratio
    # prefilter saved in the asymmetric gated regime this operator is FOR —
    # ov100 A/B: 649.9 -> 660.5 MB (+1.6%) and ~+14% steady wall at
    # identical checksums, vs a negligible -4 MB at the saturated sf10 rung
    # where orientation engages.  The self-join family keeps the sized path
    # (it measured strictly positive there); this operator stays unsized so
    # the per-side semi-join reduction's candidates remain minimal.
    cand = minhash_lsh_candidates_vs_store(
        new_df, store_df, text_col, id_col, num_hashes, bands, shingle_n,
        max_bucket_size, hot_bucket_action,
    )
    # The delta/store id spaces are disjoint by contract, so one unioned
    # shingle relation serves both verify sides.
    sh = (
        fan_out(new_df.select(name_col(id_col), name_col(text_col)))
        .unionByName(fan_out(store_df.select(name_col(id_col), name_col(text_col))))
        .select(
            name_col(id_col),
            F.array_distinct(word_shingles(text_col, shingle_n)).alias("__shs"),
        )
        .persist()
    )
    # Materialization barrier (r8), on BOTH legs of the dispatch: the
    # verify reads `sh` from stages that AQE submits concurrently.  Left
    # lazy, those stages race the unmaterialized cache — per-partition
    # block locks serialize the racers while their tasks HOLD executor
    # slots, collapsing parallelism: measured 530 s cold on the ov100
    # fixture (500k-doc store) vs 121 s with the cache materialized under
    # this one barrier action first (PROBE_OPENVOCAB_r08).  The count is
    # one cheap agg over the cache being built anyway; the operator is
    # therefore deliberately EAGER about its shingle cache.
    n_docs = sh.count()
    pairs = cand.select(
        F.col("id_new").alias("id_a"), F.col("id_store").alias("id_b")
    )
    # The per-side reduction gates matter most for this asymmetric shape:
    # side A ids ⊆ the DELTA (a tiny distinct set even when the store is
    # saturated and each delta doc matches many store docs); side B ids
    # are matched STORE docs, gated by the same selectivity +
    # broadcastability test against the union relation.
    verified, pins = _verify_jaccard(
        sh, pairs, id_col, threshold, (new_df, store_df), n_docs=n_docs
    )
    # Pin the matched-id set (r13): Catalyst pushes LeftAnti joins THROUGH
    # a Union in the left side (PushdownLeftSemiAntiJoin), duplicating the
    # right subtree per union branch — and production deltas ARE unions
    # (re-crawls ∪ novel docs; the ingest composite's 4-slice delta).
    # Unpersisted, that re-executed the ENTIRE candidates→verify pipeline
    # once per branch (sf10mf profile: every verify exchange appeared
    # twice, ~2× the committed bytes).  `matched` is ids-only and bounded
    # by |delta| — the cheapest possible barrier against the duplication.
    # r14 (broadcast audit): on the big-corpus leg the final anti-join
    # planned as SortMergeJoin LeftAnti at sf10mf — AQE refused to
    # broadcast the matched-id set (aggregate-over-join estimate) and the
    # full-TEXT delta shuffled on the id key just to drop matched rows.
    # There the set is counted (the count doubles as the pin's
    # materialization barrier) and explicitly broadcast under the same
    # ``_SEMIJOIN_MAX_IDS`` budget as the reduction gates; above the gate
    # the sort-merge shape is the right plan and stands.  The small leg
    # (no pins) runs no such count.
    matched = verified.select(F.col("id_a").alias(id_col)).distinct().persist()
    matched_side = matched
    if pins and matched.count() <= _SEMIJOIN_MAX_IDS:
        matched_side = F.broadcast(matched)
    out = new_df.join(matched_side, id_col, "left_anti")
    return scoped_persist(transfer_cache_scope(cand, out), sh, *pins, matched)


#: Bound on the wait for a CC round's observed label sum.  The metrics
#: normally arrive with the job that computed them; the bound only turns a
#: lost listener event into a fallback instead of a hang.
_OBSERVED_WAIT_S = 10.0


def _observed_value(obs, key: str, timeout_s: float) -> tuple[bool, object]:
    """``(True, obs.get[key])`` once the observed metrics have arrived,
    ``(False, None)`` if they have not within ``timeout_s`` — where
    ``Observation.get`` would block forever."""
    deadline = time.monotonic() + timeout_s
    while True:
        # Waits up to 100 ms in the JVM for the metrics future.
        if obs._jo.getRowOrEmpty().isDefined():
            return True, obs.get[key]
        if time.monotonic() >= deadline:
            return False, None


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    out_node: str = "doc_id",
    out_cluster: str = "cluster_id",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a near-dup
    pair relation, labelling every node with the minimum id reachable from
    it (``cluster_id``).  Completes the dedup story — pairwise verify says
    *A~B, B~C*; clustering is what lets a pipeline keep ONE canonical doc
    per transitive group (keep iff ``doc_id == cluster_id``).

    Algorithm: Pregel-style min-label propagation expressed as DataFrame
    ops — per round, every node takes ``min(own label, neighbours'
    labels)`` (one shuffle join + one map-side-combinable shuffle agg),
    converging in *diameter(G)* rounds.  Near-dup clusters are
    shallow (duplicate families link through shared content, not long
    chains), so the round count is small and data-independent-ish; for
    adversarially deep graphs the two-phase large-star/small-star scheme of
    Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC
    2014) drops to O(log²) rounds with the same per-round plan shape — the
    swap is local to this function.

    Scale mechanics, per the iterative-algorithm house rules:

    - the symmetrized edge relation is computed once and persisted — it is
      re-scanned every round;
    - each round's labels are eagerly ``localCheckpoint``-ed: truncates the
      otherwise exponentially-growing lineage AND caches the only state the
      next round needs (labels are ~(node, long) pairs — tiny next to the
      corpus);
    - convergence is detected WITHOUT a labels-vs-labels join: labels only
      ever decrease, so the label sum is strictly monotone and "sum
      unchanged" ⇔ fixpoint.  The sum rides each round's checkpoint job as
      an ``observe()`` metric (r15) — zero extra jobs per round;
      decimal(38,0) so a 100 TB corpus's id sum cannot overflow.  The
      metric is read with a bounded wait (:func:`_observed_value`); if it
      never arrives, one explicit sum job replaces it.

    Raises ``RuntimeError`` if ``max_iter`` rounds don't converge — an
    unconverged labelling silently under-merges clusters, which is a
    correctness failure, not a degraded answer.
    """
    # Materialize the edge relation ONCE before symmetrizing: the union of e
    # with its own swap is two branches over the same upstream plan, and a
    # near-dup pair generator upstream (LSH candidates → Jaccard verify) is
    # exactly the kind of subplan that must not execute twice.  The pair
    # relation itself is tiny relative to the corpus (ids only), so an eager
    # localCheckpoint is cheap and also frees the caller's cached
    # intermediates for the rest of the iteration.
    #
    # Two-step materialization (r6 judge task 3): an eager localCheckpoint
    # executes the caller's plan on the RDD path, where AQE CANNOT re-plan —
    # static size misestimates on a derived verify join rode straight into a
    # broadcast build and OOMed the 100× curation-composite probe, and the
    # r6 emergency fix (a static merge hint inside the verify operator) paid
    # ~2 s at EVERY scale to avoid it.  Instead, run the caller's plan to a
    # CACHE via a normal Dataset action first — full AQE: broadcast when the
    # runtime sizes are genuinely small, shuffle when they aren't — and only
    # then checkpoint, which now merely copies the cached id pairs.
    e0 = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist()
    e0.count()
    # r15 (opt): the checkpoint that snapshots the cached pairs is LAZY —
    # it truncates lineage identically (LogicalRDD plan either way) but
    # the copy rides the init job below instead of being its own serial
    # job.  e0's cache must therefore survive until that job has run; the
    # unpersist moves below the init _ckpt_with_sum.
    e = e0.localCheckpoint(eager=False)
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    sym = sym.persist()
    # Round 1 fused into initialization: with identity labels, the first
    # propagation is simply min(node, direct neighbours) — one shuffle agg,
    # no join.  The loop below therefore starts at round 2; a diameter-1
    # graph (the common near-dup pair-cluster case) needs exactly one loop
    # round to confirm the fixpoint.
    # Per-round state is eagerly localCheckpoint-ed: persist() alone would
    # cache EXECUTION but leave the logical plan growing — and with the
    # pointer-doubling join below referencing the round's relation twice,
    # the analyzed plan would double per round (exponential Catalyst
    # planning, measured as a 10× wall-clock blowup before this was a
    # checkpoint).  Truncating lineage every round keeps planning O(1).
    # r15 (opt): the convergence sum RIDES the round's checkpoint job via
    # observe() instead of being a separate collect — CollectMetrics is a
    # pass-through node whose aggregate is accumulated while the eager
    # localCheckpoint materializes every partition, so each round (and the
    # init) is ONE job instead of two.  Same expression, same decimal(38,0)
    # overflow headroom, same None-on-empty semantics; the round count is
    # the serial driver tail of every CC consumer, so halving its job
    # count is the §2.6 barrier cut, not a local-mode twiddle.
    from pyspark.sql import Observation

    def _label_sum() -> Column:
        return F.sum(F.col("label").cast("decimal(38,0)")).alias("s")

    def _ckpt_with_sum(df: DataFrame, tag: str):
        obs = Observation(f"cc_label_sum_{tag}")
        ck = df.observe(obs, _label_sum()).localCheckpoint(eager=True)
        arrived, s = _observed_value(obs, "s", _OBSERVED_WAIT_S)
        if not arrived:
            # One extra job over the checkpointed labels: the pre-observe
            # form of the same sum.
            s = ck.agg(_label_sum()).collect()[0]["s"]
        return ck, s

    labels, prev_sum = _ckpt_with_sum(
        sym.groupBy("src")
        .agg(F.least(F.min("dst"), F.col("src")).alias("label"))
        .select(F.col("src").alias("node"), "label"),
        "init",
    )
    # The init job above has materialized e's checkpoint blocks (from the
    # e0 cache, with full AQE — the r6 two-step contract) and sym's cache;
    # only now is the caller-plan cache droppable.
    e0.unpersist(blocking=False)
    # r15 (opt): the pointer-doubling checkpoint below is LAZY, so round
    # k's doubled labels materialize inside round k+1's (eager, observed)
    # step job — one serial job per non-final round instead of two.  Its
    # parent (``stepped``) therefore stays releasable only after that next
    # job has run; ``pending`` carries it one round.
    pending = None
    try:
        for _round in range(max_iter):
            nbr = sym.join(
                labels.withColumnRenamed("node", "dst"), "dst"
            ).select(F.col("src").alias("node"), "label")
            stepped, label_sum = _ckpt_with_sum(
                nbr.unionByName(labels.select("node", "label"))
                .groupBy("node")
                .agg(F.min("label").alias("label")),
                f"r{_round}",
            )
            # Round k's checkpoint has materialized (eager) and its lineage
            # is cut — nothing can ever re-read round k−1's blocks (the
            # lazy-doubled labels just materialized, and THEIR parent, the
            # previous round's pre-doubling state, went with them), so free
            # both NOW instead of pinning every round's state until Python/
            # JVM GC gets around to it (block-manager pressure on long
            # chains / busy clusters — r4 ADVICE).
            _release_local_checkpoint(labels)
            if pending is not None:
                _release_local_checkpoint(pending)
                pending = None
            # Labels only ever decrease (through both the min-step and the
            # compression below), so equal consecutive sums ⇔ fixpoint —
            # checked BEFORE compression, which a converged (or shallow)
            # graph then never pays for.
            if label_sum == prev_sum:
                return stepped.select(
                    F.col("node").alias(out_node),
                    F.col("label").alias(out_cluster),
                )
            prev_sum = label_sum
            # Pointer doubling: label ← label(label).  Every label is itself
            # a node (min over node ids), and label(x) ≤ x, so one extra
            # equi-join per round squares the contraction distance —
            # convergence in O(log diameter) rounds instead of diameter.
            # At cluster scale the round count IS the cost (each round is a
            # global shuffle barrier), so chain-shaped dup graphs (URL
            # redirect chains, transitive near-dup tails) stop being a
            # pathological case.
            hop = stepped.select(
                F.col("node").alias("label"), F.col("label").alias("label2")
            )
            # Lazy checkpoint: lineage is truncated NOW (the returned plan
            # is a LogicalRDD either way, so per-round plan growth stays
            # O(1)), but materialization + persistence happen on first use
            # — inside the next round's step job, where the two references
            # (nbr join + union) share the one checkpoint RDD.
            labels = (
                stepped.join(hop, "label")
                .select("node", F.col("label2").alias("label"))
                .localCheckpoint(eager=False)
            )
            pending = stepped
    finally:
        sym.unpersist()
        # sym is gone; nothing can recompute from the edge snapshot now.
        _release_local_checkpoint(e)
        # Idempotent safety for the init-raises path (the success path
        # already dropped it right after the init job).
        e0.unpersist(blocking=False)
        # Non-convergence escape only (pending is always None at the
        # return): drop the last doubling's parent blocks too.
        if pending is not None:
            _release_local_checkpoint(pending)
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_iter} rounds — "
        "graph diameter exceeds the iteration budget; raise max_iter or "
        "switch to large-star/small-star"
    )


def cluster_dedup_decision(
    cc: DataFrame, node_col: str = "doc_id", cluster_col: str = "cluster_id"
) -> DataFrame:
    """Keep-flag per clustered doc: the cluster's minimum id is canonical."""
    return cc.withColumn("keep", F.col(node_col) == F.col(cluster_col))


def substring_kgram_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Exact-substring duplication detection: pairs of docs sharing at least
    one exact ``k``-token span, with the count of distinct shared spans.

    The practical Spark form of suffix-array substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): a shared
    50-token span in that work ≙ a shared k-token shingle here — exact
    match, not similarity, which is why this complements
    :func:`ngram_jaccard_pairs` (a 5 000-token page that embeds one
    verbatim 100-token paragraph from another page has Jaccard ≈ 0.02 but
    IS contaminated).  Only docs with ≥ k tokens participate (shorter docs
    cannot contain a k-token span; whole-short-doc duplication is
    :func:`dedup_exact`'s job).

    Scale shape: explode DISTINCT k-shingles per doc, digest to a 64-bit
    ``xxhash64`` — the shuffle carries an 8-byte key + id, never text (r11:
    previously a 32-char md5 hex string, 4-5× the key bytes on every
    exchange of the span relation; the digest is join-internal — only
    (id_a, id_b, distinct-span count) is ever published, and the count is
    hash-agnostic modulo the same ~2⁻⁶⁵ per-span collision bound as the
    verify family.  Probe ladder at sf10: 2300.5 → 987.2 MB shuffle (−57%),
    steady wall 49.5 → 32.1 s, sf0.1 23.2 → 9.9 MB, exponent 0.66 → 0.56 —
    PROBE_r11 vs the md5 interim rows; oracle-identical at sf0.01 and
    sf1).  Pairs emerge per shared digest — via a BOUNDED per-bucket
    collect+explode when ``max_bucket_size`` is set (r15: the guard
    already caps every bucket, so the arrays are ≤ that knob by
    construction), via an AQE-splittable self-equi-join when unguarded.
    ``max_bucket_size`` drops spans occurring in more than that many docs
    (boilerplate headers/footers) — the same hot-bucket guard as the LSH
    family, and the knob that bounds the join's worst case at 100 TB.
    """
    spans = (
        fan_out(df)
        .filter(token_count(text_col) >= k)
        .select(
            name_col(id_col),
            F.explode_outer(
                F.array_distinct(word_shingles(text_col, k))
            ).alias("__sh"),
        )
        .filter(F.col("__sh").isNotNull())
        .select(name_col(id_col), F.xxhash64("__sh").alias("__h"))
        .persist()
    )
    if max_bucket_size is not None:
        # Guard via ANTI join against the HOT spans, not an inner join
        # against the allowed ones: the allowlist is O(distinct spans) —
        # linear in the corpus and unbroadcastable at scale (the 100×
        # probe OOMed broadcasting it) — while the hot set is usually
        # tiny (boilerplate).  "Usually" is not a plan guarantee, and
        # Catalyst's static size estimate for an aggregate-after-filter
        # is guesswork (the 100× probe's saturated-vocab fixture grew a
        # 4.3 GiB hot set and the planner still chose broadcast): hint
        # MERGE so the join survives any hot-set size — it shuffles on
        # the same __h the downstream self-join needs anyway.  The hint
        # PINS sort-merge (AQE honors explicit strategy hints; no runtime
        # demotion to broadcast) — the extra sort on an already-__h-keyed
        # exchange is the accepted price for never OOMing.
        hot = (
            spans.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("__h")
            .hint("merge")
        )
        # r15 (opt): with the hot spans anti-joined away, every surviving
        # __h bucket holds ≤ max_bucket_size ids — so pairs come from a
        # BOUNDED per-bucket collect_list + explode² instead of the span
        # self-join.  The groupBy reuses the anti-join's hashpartitioning
        # on __h (zero new exchange), the guarded relation no longer needs
        # its own persist (single consumer), and the self-join's two
        # cache-side sorts disappear — paired A/B at sf0.1: 1.97 → 1.21 s
        # median at identical checksums (sf0.01 + sf0.1).  The count-based
        # guard stays FIRST precisely so the arrays are bounded: a raw
        # collect_list over an unguarded corpus would buffer a boilerplate
        # span's whole doc list in one aggregation state.  The unguarded
        # path below keeps the AQE-splittable self-join for that reason.
        grouped = (
            spans.join(hot, "__h", "left_anti")
            .groupBy("__h")
            .agg(F.collect_list(name_col(id_col)).alias("__ids"))
            .filter(F.size("__ids") >= 2)
        )
        out = (
            grouped.select(F.explode("__ids").alias("id_a"), "__ids")
            .select("id_a", F.explode("__ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_spans"))
        )
        return scoped_persist(out, spans)
    a, b = spans.alias("a"), spans.alias("b")
    out = (
        a.join(
            b,
            on=[
                F.col("a.__h") == F.col("b.__h"),
                name_col(id_col, "a") < name_col(id_col, "b"),
            ],
        )
        .groupBy(
            name_col(id_col, "a").alias("id_a"),
            name_col(id_col, "b").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_spans"))
    )
    return scoped_persist(out, spans)


def cluster_best_decision(
    cc: DataFrame,
    scores: DataFrame,
    node_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "quality",
) -> DataFrame:
    """Quality-aware keep-one-per-cluster: instead of the min-id canonical
    doc (:func:`cluster_dedup_decision`), keep each dup cluster's
    HIGHEST-``score_col`` member (ties → lowest id) — the production
    policy when near-dup variants differ in cleanliness and the pipeline
    should keep the best copy, not the first-crawled one.

    ``scores`` must be rounded/quantized upstream (the ordering must be on
    values both engines reproduce exactly).  The per-cluster window is safe
    at scale: dup clusters are small by construction (bounded by the LSH
    bucket guard), so no window partition is ever large.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col).orderBy(
        F.desc(score_col), F.asc(node_col)
    )
    return (
        cc.join(scores, node_col)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("keep_best", F.col("__rn") == 1)
        .drop("__rn")
    )
