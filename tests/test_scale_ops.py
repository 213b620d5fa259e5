"""Semantic tests for the scale-path operators (as-of/range joins, grouping
sets, approx distinct, embedding near-dup, IVF ANN) — pinned behaviors the
oracle hash alone doesn't isolate."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cdc_wastewater_analysis_ml_spark.operators import aggregates as A
from cdc_wastewater_analysis_ml_spark.operators import dedup as D
from cdc_wastewater_analysis_ml_spark.operators import relational as R
from cdc_wastewater_analysis_ml_spark.operators import similarity as SIM
from cdc_wastewater_analysis_ml_spark.sources import load_table


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_join_asof_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _ts("2024-01-01T10:00:00")),  # before any right row
            (2, "u1", _ts("2024-01-01T12:00:00")),  # exact tie with right ts
            (3, "u1", _ts("2024-01-01T15:00:00")),  # after both right rows
            (4, "u2", _ts("2024-01-01T12:00:00")),  # other key, no right rows
        ],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01T12:00:00"), 10.0),
            ("u1", _ts("2024-01-01T14:00:00"), 20.0),
        ],
        "k string, rts timestamp, v double",
    )
    out = {
        r["id"]: r["v"]
        for r in R.join_asof(left, right, ["k"], "ts", "rts", ["v"]).collect()
    }
    assert out == {1: None, 2: 10.0, 3: 20.0, 4: None}


def test_join_range_window_bounds(spark):
    base = _ts("2024-01-01T12:00:00")
    left = spark.createDataFrame([(1, "u1", base)], "id long, k string, ts timestamp")
    right = spark.createDataFrame(
        [
            ("u1", base - dt.timedelta(minutes=61), 1.0),  # outside (too old)
            ("u1", base - dt.timedelta(minutes=60), 2.0),  # boundary: excluded (>)
            ("u1", base - dt.timedelta(minutes=59), 3.0),  # inside
            ("u1", base, 4.0),  # boundary: included (<=)
            ("u1", base + dt.timedelta(seconds=1), 5.0),  # future: excluded
        ],
        "k string, rts timestamp, v double",
    )
    got = sorted(
        r["v"]
        for r in R.join_range(left, right, "k", "ts", "rts", "INTERVAL 1 HOUR")
        .select(F.col("__r.v").alias("v"))
        .collect()
    )
    assert got == [3.0, 4.0]


def test_rollup_gid_levels(spark, sf_small):
    ev = load_table(spark, sf_small, "events").select(
        "event_type", F.month("ts").alias("month"), "value"
    )
    rows = A.agg_rollup(ev, ["event_type", "month"], "value").collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r["gid"], []).append(r)
    # gid 0 = detail, 1 = per-type subtotal, 3 = grand total; 2 never appears
    assert set(by_gid) == {0, 1, 3}
    assert len(by_gid[3]) == 1
    total = by_gid[3][0]["n"]
    assert total == ev.count()
    assert sum(r["n"] for r in by_gid[1]) == total
    assert sum(r["n"] for r in by_gid[0]) == total
    # cube adds the per-month slice (gid 2)
    cube_gids = {r["gid"] for r in A.agg_cube(ev, ["event_type", "month"], "value").collect()}
    assert cube_gids == {0, 1, 2, 3}


def test_approx_distinct_within_rsd(spark, sf_small):
    ev = load_table(spark, sf_small, "events")
    exact = {
        r["event_type"]: r["distinct_n"]
        for r in A.agg_distinct_count_by_key(ev, "event_type", "user_id").collect()
    }
    approx = {
        r["event_type"]: r["approx_n"]
        for r in A.agg_approx_distinct_by_key(ev, "event_type", "user_id", rsd=0.05).collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(3, 0.15 * n), (k, n, approx[k])


def test_near_dup_lsh_subset_of_exact(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in D.near_dup_embedding_pairs(emb, threshold=0.2).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in D.near_dup_embedding_lsh(emb, threshold=0.2, planes=4).collect()
    }
    # precision 1: every LSH pair is a true pair with the identical score
    assert set(lsh) <= set(exact)
    for pair, cos in lsh.items():
        assert cos == exact[pair]


def test_ivf_scores_match_bruteforce(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    queries = emb.filter(F.col("vec_id") < 5)
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in SIM.cosine_topk_bruteforce(queries, emb, k=50).collect()
    }
    ivf = SIM.cosine_topk_ivf(queries, emb, centroids, k=5, nprobe=2).collect()
    assert len(ivf) > 0
    for r in ivf:
        # every IVF hit is a genuine scored pair with the exact same cosine
        assert brute[(r["query_id"], r["neighbor_id"])] == r["cos"]
    # per-query ranks are 1..n contiguous
    ranks = {}
    for r in ivf:
        ranks.setdefault(r["query_id"], []).append(r["rank"])
    for q, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1))


def test_join_salted_equals_plain_join(spark, sf_small):
    ev = load_table(spark, sf_small, "events")
    left = ev.select("event_id", "user_id", "value")
    right = ev.groupBy("user_id").agg(F.avg("value").alias("user_avg"))
    plain = {
        (r["event_id"], r["user_avg"])
        for r in left.join(right, "user_id").select("event_id", "user_avg").collect()
    }
    salted = {
        (r["event_id"], r["user_avg"])
        for r in R.join_salted(left, right, "user_id", salt=8)
        .select("event_id", "user_avg")
        .collect()
    }
    assert salted == plain


def test_approx_quantiles_close_to_exact(spark, sf_small):
    ev = load_table(spark, sf_small, "events")
    exact = {
        r["event_type"]: (r["p25"], r["p50"], r["p75"])
        for r in A.agg_quantiles_by_key(ev, "event_type", "value").collect()
    }
    approx = {
        r["event_type"]: (r["p25"], r["p50"], r["p75"])
        for r in A.agg_approx_quantiles_by_key(ev, "event_type", "value").collect()
    }
    for k, ex in exact.items():
        for a, e in zip(approx[k], ex):
            assert abs(a - e) <= max(2.0, 0.05 * abs(e)), (k, a, e)


def test_join_asof_forward(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _ts("2024-01-01T10:00:00")),  # next right = 12:00
            (2, "u1", _ts("2024-01-01T12:00:00")),  # exact tie → 12:00
            (3, "u1", _ts("2024-01-01T15:00:00")),  # nothing after
        ],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01T12:00:00"), 10.0),
            ("u1", _ts("2024-01-01T14:00:00"), 20.0),
        ],
        "k string, rts timestamp, v double",
    )
    out = {
        r["id"]: r["v"]
        for r in R.join_asof(
            left, right, ["k"], "ts", "rts", ["v"], direction="forward"
        ).collect()
    }
    assert out == {1: 10.0, 2: 10.0, 3: None}


def test_freqitems_covers_true_heavy_hitters(spark, sf_small):
    ev = load_table(spark, sf_small, "events")
    exact_top = {
        r["event_type"]
        for r in R.topk_categories(ev, "event_type", 3).collect()
    }
    approx = {
        r["event_type"]
        for r in A.topk_approx_freqitems(ev, "event_type", support=0.1).collect()
    }
    # KPS guarantee: every item above the support threshold is in the sketch
    assert exact_top <= approx


def test_ivf_kmeans_recall(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    centroids = SIM.fit_ivf_centroids(emb, "embedding", nlist=8, seed=42)
    queries = emb.filter(F.col("vec_id") < 20)
    brute = {}
    for r in SIM.cosine_topk_bruteforce(queries, emb, k=5).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ivf = {}
    for r in SIM.cosine_topk_ivf(queries, emb, centroids, k=5, nprobe=2).collect():
        ivf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(ivf.get(q, set()) & n) / len(n) for q, n in brute.items()]
    avg_recall = sum(recalls) / len(recalls)
    # nprobe=2 of nlist=8 on label-clustered embeddings: well above chance
    assert avg_recall >= 0.5, avg_recall


def test_pivot_missing_combo_fills_zero(spark):
    df = spark.createDataFrame(
        [(1, "a", 2.0), (1, "a", 3.0), (2, "b", 4.0)], "k long, c string, v double"
    )
    wide = {r["k"]: (r["a"], r["b"]) for r in R.pivot_wide(df, "k", "c", ["a", "b"], "v").collect()}
    assert wide == {1: (5.0, 0.0), 2: (0.0, 4.0)}


def test_unpivot_roundtrip(spark):
    df = spark.createDataFrame([(1, 2.0, 3.0)], "k long, a double, b double")
    long = R.unpivot_long(df, ["k"], ["a", "b"]).collect()
    assert sorted((r["variable"], r["value"]) for r in long) == [("a", 2.0), ("b", 3.0)]


def test_incremental_dedup_edges(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    # whole corpus re-crawled → nothing new
    assert D.dedup_incremental_exact(docs, docs, "text", "doc_id").count() == 0
    # empty batch → empty result
    empty = docs.filter(F.lit(False))
    assert D.dedup_incremental_exact(empty, docs, "text", "doc_id").count() == 0
    # whitespace/case-only changes are NOT new (fingerprint normalizes)
    recase = docs.select("doc_id", F.upper(F.col("text")).alias("text")).limit(20)
    n_new = D.dedup_incremental_exact(recase, docs, "text", "doc_id").count()
    assert n_new == 0


def test_lsh_hot_bucket_guard_adversarial_corpus(spark):
    """An all-duplicates corpus concentrates every doc into ONE bucket per
    band — the quadratic blow-up case the cap exists for (DEVNOTES 5)."""
    from cdc_wastewater_analysis_ml_spark.operators import dedup as D

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated across the corpus every time").alias("text"),
    )
    # error: fails loudly with the offending stats
    with pytest.raises(ValueError, match="exceed max_bucket_size=50"):
        D.minhash_lsh_candidates(
            docs, "text", "doc_id", max_bucket_size=50, hot_bucket_action="error"
        ).count()
    # skip: oversized buckets drop out -> zero candidate pairs, job completes
    skipped = D.minhash_lsh_candidates(
        docs, "text", "doc_id", max_bucket_size=50, hot_bucket_action="skip"
    )
    assert skipped.count() == 0
    # telemetry: one bucket per band holding all 200 docs = 19900 pairs each
    stats = {
        r["band_id"]: r
        for r in D.lsh_bucket_stats(
            D.banded_minhash(docs, "text", "doc_id")
        ).collect()
    }
    assert len(stats) == 4
    for r in stats.values():
        assert r["n_buckets"] == 1
        assert r["max_bucket"] == 200
        assert r["candidate_pairs"] == 200 * 199 // 2


def test_fused_lsh_verified_matches_two_stage_composition(spark, sf_small):
    """minhash_lsh_verified (one staged shingle pass, r6) must return the
    exact pair set + jaccard values of the two-operator composition it
    replaces — the fusion is a plan optimization, never a semantics
    change (min over distinct shingles == min over all shingles)."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    pairs = D.minhash_lsh_candidates(docs, "text", "doc_id")
    composed = D.jaccard_verify_pairs(docs, pairs, "text", "doc_id", threshold=0.3)
    fused = D.minhash_lsh_verified(docs, "text", "doc_id", threshold=0.3)
    assert sorted(map(tuple, composed.collect())) == sorted(
        map(tuple, fused.collect())
    )


def _shingle_sets(docs, n=3):
    """doc_id -> distinct word-shingle list, straight from word_shingles;
    null text yields ``[None]``."""
    return {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id", F.array_distinct(D.word_shingles("text", n)).alias("s")
        ).collect()
    }


def _py_jaccard(sets, pairs, threshold):
    """Pure-Python string-keyed reference verify over ``pairs``: the raw
    IEEE quotient of exact integers (what the engine publishes); a null
    shingle counts toward its set's size but never intersects."""
    out = {}
    for a, b in pairs:
        sa, sb = set(sets[a]), set(sets[b])
        inter = len((sa & sb) - {None})
        jac = inter / (len(sa) + len(sb) - inter)
        if jac >= threshold:
            out[(a, b)] = jac
    return out


def _lsh_candidates(docs):
    return {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_candidates(docs, "text", "doc_id").collect()
    }


def _verified(df):
    return {(r.id_a, r.id_b): r.jaccard for r in df.collect()}


def test_lsh_verified_digest_verify_matches_string_verify(spark, sf_small):
    """The fused operator verifies over 64-bit xxhash64 shingle digests —
    the pair set and every Jaccard value must be bit-identical to a
    string-keyed verify of the same candidates (collisions are ~2^-65 per
    shingle pair; on this fixture there are none, so strict equality is
    the contract).  The reference is the pure-Python verify above."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    digest_keyed = _verified(
        D.minhash_lsh_verified(docs, "text", "doc_id", threshold=0.3)
    )
    string_keyed = _py_jaccard(_shingle_sets(docs), _lsh_candidates(docs), 0.3)
    assert digest_keyed == string_keyed and len(digest_keyed) > 0


def test_lsh_verified_digest_verify_hashes_before_exchange(spark, sf_small):
    """The xxhash64 digesting must fuse into the scan-side stage (map-side,
    before any exchange): if the raw shingle strings ever crossed a shuffle
    boundary the optimization would be buying nothing.  Pin: the optimized
    plan contains xxhash64 and no Exchange appears BELOW it in any path —
    equivalently, every Project carrying xxhash64 sits under an Exchange,
    never above one reading shuffled strings.  We assert the cheap proxy:
    xxhash64 appears in the same whole-stage-codegen subtree as the
    generate (explode), i.e. between Generate and the first Exchange."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    out = D.minhash_lsh_verified(docs, "text", "doc_id", threshold=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    # every xxhash64 projection is computed directly over the generated
    # (exploded) column in the same stage — the string never reaches an
    # exchange: the operator explodes __shs then immediately projects the
    # digest, and Catalyst collapses the two projections.
    # no string shingle column (__s) survives into any Exchange key
    assert "__s#" not in "".join(
        line for line in plan.splitlines() if "Exchange" in line
    )
    # and the digest projection sits BELOW the exchanges, not above them:
    # the tree prints parents first, so a map-side (pre-exchange) xxhash64
    # appears AFTER the first Exchange line; a hoisted post-shuffle digest
    # (strings crossing the wire as payload, defeating the optimization
    # without touching any Exchange KEY) would print before it.
    lines = plan.splitlines()
    first_exchange = next(i for i, l in enumerate(lines) if "Exchange" in l)
    first_hash = next(i for i, l in enumerate(lines) if "xxhash64" in l)
    assert first_hash > first_exchange, plan[:2000]


def test_packed_verify_drops_zero_intersection_pairs(spark):
    """Plan-shape delta the equivalence fixture can't isolate: a candidate
    pair with NO common shingle survives the packed plan's inner joins
    (jaccard 0) where the exploded plan drops it at the digest equi-join —
    the threshold filter must make the outputs identical.  Also pins the
    per-side reduction flags on the packed plan."""
    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee ff"),
            (2, "aa bb cc dd ee gg"),
            (3, "zz yy xx ww vv uu"),
        ],
        "doc_id long, text string",
    )
    sh = docs.select(
        F.col("doc_id"),
        F.array_distinct(
            D.word_shingles("text", 3)
        ).alias("__shs"),
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    ).persist()
    pairs.count()
    for ra in (False, True):
        for rb in (False, True):
            got = {
                (r.id_a, r.id_b): r.jaccard
                for r in D._verify_jaccard_packed(
                    sh, pairs, "doc_id", 0.3, reduce_a=ra, reduce_b=rb
                ).collect()
            }
            assert set(got) == {(1, 2)}, (ra, rb)
            assert got[(1, 2)] == pytest.approx(3 / 5), (ra, rb)
    pairs.unpersist()


def test_approx_quantile_gate_rank_space_on_small_groups(spark, tmp_path):
    """r11 review regression: the within_tol gate must hold on SMALL groups
    where approx_percentile's order-statistic definition puts the sketch
    value a whole inter-element gap away from the interpolated exact
    percentile.  The review's failure case: a 2-row group with values
    [0, 10] — sketch p50 = 0.0, interpolated p50 = 5.0, so the old
    value-space envelope [4.9, 5.1] flagged the sketch's DOCUMENTED
    behavior as a failure; the rank-space gate must say True.  A huge
    skewed group rides along to pin the multi-key path."""
    import datetime as dt

    rows = [(1, dt.datetime(2024, 1, 1), 1, "tiny", 0.0, "{}"),
            (2, dt.datetime(2024, 1, 1), 1, "tiny", 10.0, "{}")]
    rows += [
        (10 + i, dt.datetime(2024, 1, 1), 1, "bulk", float(i % 97), "{}")
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES

    out = {
        r["event_type"]: r
        for r in QUERIES["agg_approx_quantiles"](spark, str(tmp_path)).collect()
    }
    assert out["tiny"]["within_tol"] is True
    assert out["bulk"]["within_tol"] is True
    # The published exact percentiles stay interpolated (R-7): p50 of
    # [0, 10] is 5.0 even though the sketch's order statistic is 0.0.
    assert out["tiny"]["p50"] == pytest.approx(5.0)


def test_freqitems_gate_excludes_exact_support_boundary(spark, tmp_path):
    """r11 review regression: freqItems' no-false-negative guarantee covers
    only frequency STRICTLY ABOVE support, so a category at exactly
    support·n must be excluded from the published truly-frequent set (it
    may legitimately be missing from the sketch's candidates) while
    anything above the line is included."""
    import datetime as dt

    # n = 100: "edge" at exactly 10 rows (= 0.1*n, excluded), "hot" at 60,
    # "warm" at 30 (both included).
    rows = []
    for i, (t, k) in enumerate((("edge", 10), ("hot", 60), ("warm", 30))):
        rows += [
            (1000 * i + j, dt.datetime(2024, 1, 1), 1, t, 1.0, "{}")
            for j in range(k)
        ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES

    out = {
        r["event_type"]: r
        for r in QUERIES["topk_approx_freqitems"](spark, str(tmp_path)).collect()
    }
    assert set(out) == {"hot", "warm"}
    assert out["hot"]["in_candidates"] and out["warm"]["in_candidates"]


def test_ngram_jaccard_digest_matches_string_keys(spark, sf_small):
    """r11 (VERDICT r10 task 1): ngram_jaccard_pairs self-joins on 64-bit
    xxhash64 shingle digests — the last string-keyed shuffle in the dedup
    family.  The pair set and every raw-quotient Jaccard value must be
    bit-identical to a string-keyed all-pairs verify (the pure-Python
    reference; collisions ~2^-65 per shingle pair, none on this
    fixture)."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    digest_keyed = _verified(
        D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.2)
    )
    sets = _shingle_sets(docs)
    ids = sorted(sets)
    all_pairs = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]]
    string_keyed = _py_jaccard(sets, all_pairs, 0.2)
    assert digest_keyed == string_keyed and len(digest_keyed) > 0


def test_ngram_jaccard_digest_null_text_never_pairs(spark):
    """The digest projection must PRESERVE the null placeholder rows that
    explode_outer emits for null/empty-text docs: xxhash64 SKIPS null
    arguments and returns the bare seed hash instead of NULL, so an
    unguarded digest would collapse every null-text doc onto one shared
    join key — a spurious all-pairs bucket among exactly the docs that
    have no shingles at all.  Null-text docs must pair with nothing, and
    real pairs must be unaffected."""
    docs = spark.createDataFrame(
        [
            (1, None),
            (2, None),
            (3, ""),
            (4, "the quick brown fox jumps over the lazy dog"),
            (5, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    rows = D.ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.1
    ).collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(4, 5)}
    assert rows[0].jaccard == 1.0


def test_verify_null_text_never_pairs(spark):
    """r12 ADVICE: the digest verify plans must not pair null-text docs.
    word_shingles(null text) yields ``[NULL]``; xxhash64 SKIPS null args
    and returns the bare seed hash, so an unguarded digest ARRAY (and
    ``array_intersect`` even matches NULL elements) would publish
    jaccard=1.0 for user-supplied pairs of null-text docs where a
    string-keyed verify returns nothing.  LSH registry queries never hit
    this (null docs band-match nothing), but :func:`jaccard_verify_pairs`
    takes CALLER-supplied pairs."""
    docs = spark.createDataFrame(
        [
            (1, None),
            (2, None),
            (3, ""),
            (4, "the quick brown fox jumps over the lazy dog"),
            (5, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    pair_rows = [(1, 2), (1, 3), (2, 3), (4, 5)]
    pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")
    expected = {(4, 5): 1.0}
    assert _py_jaccard(_shingle_sets(docs), pair_rows, 0.1) == expected
    # Operator level.
    got = _verified(
        D.jaccard_verify_pairs(docs, pairs, "text", "doc_id", threshold=0.1)
    )
    assert got == expected, got
    # The unoriented plan directly, every reduction-flag combination.
    sh = docs.select(
        F.col("doc_id"),
        F.array_distinct(D.word_shingles("text", 3)).alias("__shs"),
    ).persist()
    pairs = pairs.persist()
    pairs.count()
    try:
        for ra in (False, True):
            for rb in (False, True):
                got = _verified(
                    D._verify_jaccard_packed(
                        sh, pairs, "doc_id", 0.1, reduce_a=ra, reduce_b=rb
                    )
                )
                assert got == expected, (ra, rb, got)
    finally:
        sh.unpersist()
        pairs.unpersist()


def test_lsh_candidates_with_sizes_annotation_is_exact(spark, sf_small):
    """with_sizes=True must (a) leave the pair SET identical to the default
    schema and (b) annotate each pair with exactly the verify-side distinct
    shingle-set sizes (the prefilter/orientation contract)."""
    from cdc_wastewater_analysis_ml_spark.operators.dedup import word_shingles

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    plain = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_candidates(docs, "text", "doc_id").collect()
    }
    sized_rows = D.minhash_lsh_candidates(
        docs, "text", "doc_id", with_sizes=True
    ).collect()
    assert {(r.id_a, r.id_b) for r in sized_rows} == plain and len(plain) > 0
    sizes = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id",
            F.size(F.array_distinct(word_shingles("text", 3))).alias("n"),
        ).collect()
    }
    for r in sized_rows:
        # Row attribute access rejects dunder names; use item access.
        assert r["__na"] == sizes[r.id_a] and r["__nb"] == sizes[r.id_b], r


def test_oriented_verify_matches_all_plans(spark, sf_small):
    """r12 (DEVNOTES r11 design (b)): the size-annotated oriented verify —
    smaller-side pair expansion + size-ratio prefilter — must be a pure
    plan optimization: the fused operator (oriented), the composed
    operator on sized candidates (oriented) and on unsized candidates
    (unoriented packed plan) return the same pair set with bit-identical
    raw-quotient jaccard values, equal to the pure-Python reference."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")

    def composed(with_sizes):
        pairs = D.minhash_lsh_candidates(
            docs, "text", "doc_id", with_sizes=with_sizes
        )
        return D.jaccard_verify_pairs(
            docs, pairs, "text", "doc_id", threshold=0.3, assume_distinct=True
        )

    fused_df, sized_df, unsized_df = (
        D.minhash_lsh_verified(docs, "text", "doc_id", threshold=0.3),
        composed(True),
        composed(False),
    )

    def oriented(df):
        return "__k_small" in df._jdf.queryExecution().optimizedPlan().toString()

    # Non-vacuous: the three really are the two different plans.
    assert oriented(fused_df) and oriented(sized_df)
    assert not oriented(unsized_df)
    ref = _py_jaccard(_shingle_sets(docs), _lsh_candidates(docs), 0.3)
    fused, sized, unsized = map(_verified, (fused_df, sized_df, unsized_df))
    assert fused == sized == unsized == ref and len(ref) > 0


def test_oriented_verify_null_text_and_asymmetric_sizes(spark):
    """The oriented impl directly: null-text docs never pair (r12 digest
    guard), orientation of a strongly asymmetric pair (|A| >> |B|) returns
    the original (id_a, id_b) orientation with the symmetric jaccard, and
    the size-ratio prefilter only ever drops sub-threshold pairs."""
    from cdc_wastewater_analysis_ml_spark.operators.dedup import (
        _size_ratio_prefilter,
        _verify_jaccard_packed,
        _verify_jaccard_packed_oriented,
        word_shingles,
    )

    big = "the quick brown fox jumps over the lazy dog " * 8  # many shingles
    small = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, big), (4, small), (5, big)],
        "doc_id long, text string",
    )
    sh = docs.select(
        F.col("doc_id"),
        F.array_distinct(word_shingles("text", 3)).alias("__shs"),
    ).persist()
    sizes = {r.doc_id: r.n for r in sh.select("doc_id", F.size("__shs").alias("n")).collect()}
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (4, 5), (3, 5)], "id_a long, id_b long"
    ).select(
        "id_a", "id_b"
    )
    sized = pairs.withColumn(
        "__na", F.udf(lambda i: sizes[i], "int")("id_a")
    ).withColumn("__nb", F.udf(lambda i: sizes[i], "int")("id_b"))
    try:
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in _verify_jaccard_packed_oriented(
                sh, sized, "doc_id", 0.1
            ).collect()
        }
        ref = {
            (r.id_a, r.id_b): r.jaccard
            for r in _verify_jaccard_packed(
                sh, pairs, "doc_id", 0.1, reduce_a=False, reduce_b=False
            ).collect()
        }
        assert got == ref
        assert (1, 2) not in got  # null-text docs never pair
        assert got[(3, 5)] == 1.0  # identical big docs
        # (3, 4) and (4, 5): small's shingles are a subset of big's —
        # jaccard = |small|/|big|, published in ORIGINAL orientation.
        assert got[(3, 4)] == sizes[4] / sizes[3]
        # Prefilter: at a threshold above |small|/|big| the asymmetric
        # pairs are provably sub-threshold and dropped; (3,5) survives.
        ratio = sizes[4] / sizes[3]
        kept = {
            (r.id_a, r.id_b)
            for r in _size_ratio_prefilter(sized, ratio + 0.05).collect()
        }
        assert kept == {(1, 2), (3, 5)}  # equal-size pairs survive
        # and everything the prefilter dropped is below that threshold:
        assert all(v < ratio + 0.05 for k, v in ref.items() if k not in kept)
    finally:
        sh.unpersist()


def test_lsh_verified_semijoin_reduction_matches_unreduced(spark, sf_small):
    """The engaged semi-join reduction (big-corpus leg) must be a pure
    plan optimization: same pairs, same Jaccard values as the unreduced
    packed verify and the pure-Python reference, for both sides and each
    side alone.  Driven through the plan with a persisted, materialized
    candidate relation, per its contract."""
    from cdc_wastewater_analysis_ml_spark.sources import fan_out

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    sh = fan_out(docs).select(
        F.col("doc_id"),
        F.array_distinct(D.word_shingles("text", 3)).alias("__shs"),
    ).persist()
    pairs = D.minhash_lsh_candidates(docs, "text", "doc_id").persist()
    pairs.count()

    def run(ra, rb):
        return _verified(
            D._verify_jaccard_packed(
                sh, pairs, "doc_id", 0.3, reduce_a=ra, reduce_b=rb
            )
        )

    try:
        plain = run(False, False)
        assert plain == _py_jaccard(
            _shingle_sets(docs), _lsh_candidates(docs), 0.3
        )
        assert run(True, True) == plain and len(plain) > 0
        # r10 per-side flags: the asymmetric delta-driven shape
        # (dedup_incremental_near engages side A alone on saturated
        # stores) must be the same pure plan optimization.
        assert run(True, False) == plain
        assert run(False, True) == plain
    finally:
        sh.unpersist()
        pairs.unpersist()


def test_jaccard_verify_pairs_digest_matches_string_verify(spark, sf_small):
    """r10 adoption: jaccard_verify_pairs verifies over packed shingle
    digests — pair set and every Jaccard value must stay bit-identical to
    a string-keyed verify (the pure-Python reference), on the default
    de-duplicating path and on the assume_distinct fast path."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    ref = _py_jaccard(_shingle_sets(docs), _lsh_candidates(docs), 0.3)
    for assume_distinct in (False, True):
        pairs = D.minhash_lsh_candidates(docs, "text", "doc_id")
        got = _verified(
            D.jaccard_verify_pairs(
                docs, pairs, "text", "doc_id", threshold=0.3,
                assume_distinct=assume_distinct,
            )
        )
        assert got == ref and len(got) > 0, assume_distinct


def test_estimated_bytes_connect_fallback():
    """Without the JVM handle (Spark Connect) the size estimate must come
    back -1 — the operator then stays on the lazy conservative plan
    instead of crashing or going eager."""
    from cdc_wastewater_analysis_ml_spark.operators.dedup import (
        _estimated_bytes,
    )

    class _NoJdf:
        def __getattr__(self, name):
            raise AttributeError(name)

    assert _estimated_bytes(_NoJdf()) == -1


def test_estimated_bytes_statless_lineage_reads_unknown(spark):
    """An RDD-backed DataFrame has no stats, so Catalyst reports the
    defaultSizeInBytes sentinel (Long.Max) — _estimated_bytes must map
    that to -1/unknown so a tiny in-memory corpus stays on the lazy
    conservative plan instead of routing to the eager big-corpus path on
    a fictitious estimate (r9 ADVICE).  A parquet-backed frame of the
    same rows keeps its real (small, positive) file-derived estimate."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cdc_wastewater_analysis_ml_spark.operators.dedup import (
        _estimated_bytes,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    rows = [(i, f"doc {i} body") for i in range(10)]
    rdd_backed = spark.createDataFrame(
        spark.sparkContext.parallelize(rows), schema
    )
    assert _estimated_bytes(rdd_backed) == -1

    # r10 review: the default (non-CBO) stats visitor SCALES the sentinel —
    # a Project multiplies the child estimate by the output/child row-width
    # ratio, so a narrow projection of a wide stat-less frame reads
    # Long.Max/width_ratio: far below Long.Max, still pure fiction.  The
    # sentinel cut-off must catch the scaled value too, or the projection
    # routes a tiny in-memory corpus to the eager big-corpus path.
    wide_schema = StructType(
        [StructField("doc_id", LongType())]
        + [StructField(f"pad_{i}", StringType()) for i in range(30)]
    )
    wide_rows = [tuple([i] + ["x" * 50] * 30) for i in range(10)]
    wide_rdd_backed = spark.createDataFrame(
        spark.sparkContext.parallelize(wide_rows), wide_schema
    )
    assert _estimated_bytes(wide_rdd_backed.select("doc_id", "pad_0")) == -1

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(d)
        est = _estimated_bytes(spark.read.parquet(d))
        assert 0 < est < 16 * 1024 * 1024


def test_fused_lsh_verified_hot_bucket_guard(spark):
    """The fused operator carries the same hot-bucket guard contract."""
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate every single time in this corpus").alias("text"),
    )
    with pytest.raises(ValueError, match="exceed max_bucket_size=50"):
        D.minhash_lsh_verified(
            docs, "text", "doc_id", max_bucket_size=50, hot_bucket_action="error"
        ).count()
    skipped = D.minhash_lsh_verified(
        docs, "text", "doc_id", max_bucket_size=50, hot_bucket_action="skip"
    )
    assert skipped.count() == 0


def test_lsh_hot_bucket_guard_off_by_default(spark, sf_small):
    """Without a cap the candidate set is unchanged (guard is opt-in)."""
    from cdc_wastewater_analysis_ml_spark.operators import dedup as D
    from cdc_wastewater_analysis_ml_spark.sources import load_table

    docs = load_table(spark, sf_small, "documents").limit(300)
    base = D.minhash_lsh_candidates(docs, "text", "doc_id")
    capped = D.minhash_lsh_candidates(
        docs, "text", "doc_id", max_bucket_size=10**9, hot_bucket_action="skip"
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, capped.collect()))


def test_incremental_near_dedup_contract(spark):
    """dedup_incremental_near: an exact re-crawl and a lightly-mutated
    re-crawl are both rejected (Jaccard >= threshold vs the store); a novel
    doc survives even when it shares stray vocabulary; and the id spaces are
    respected (the store row itself never appears in the output)."""
    from cdc_wastewater_analysis_ml_spark.operators import dedup as D

    store = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog every day"),
            (2, "pack my box with five dozen liquor jugs tonight"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # exact re-crawl of store doc 1
            (101, "the quick brown fox jumps over the lazy dog every day"),
            # near-dup of store doc 2 (one appended token)
            (102, "pack my box with five dozen liquor jugs tonight please"),
            # novel (shares words, no 3-shingle overlap)
            (103, "a fox considered the box and wandered away instead"),
        ],
        "doc_id long, text string",
    )
    out = sorted(
        r["doc_id"]
        for r in D.dedup_incremental_near(
            batch, store, "text", "doc_id", threshold=0.3
        ).collect()
    )
    assert out == [103], out


def test_incremental_near_registry_recall(spark, sf_small):
    """The driver-gated query's positives: every fresh doc survives, and the
    near-dup half is removed at >= 95% recall (banded LSH may miss a short
    doc whose mutated minhashes all shift — the documented tradeoff)."""
    from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES
    from cdc_wastewater_analysis_ml_spark.sources import load_table

    docs = load_table(spark, sf_small, "documents")
    n_near = docs.filter(F.col("doc_id") % 5 == 0).count()
    n_fresh = docs.filter(F.col("doc_id") % 5 == 1).count()
    from cdc_wastewater_analysis_ml_spark.plans.registry_ext import (
        _NOVEL_OFFSET,
    )

    out = QUERIES["dedup_incremental_near"](spark, sf_small).toPandas()
    assert (out.doc_id >= _NOVEL_OFFSET).sum() == n_fresh  # novel all survive
    survivors_near = (out.doc_id < _NOVEL_OFFSET).sum()
    assert survivors_near <= 0.05 * n_near, (survivors_near, n_near)


def test_funnel_conversion_requires_ordered_steps(spark):
    """The funnel must demand view -> click -> purchase IN ORDER, not mere
    event presence: a user with all three types in the wrong order does not
    convert.  Crafted users: A ordered (full funnel), B click-before-view
    (view only), C purchase-before-click (view+click), D purchase only
    (neither)."""
    import datetime as dt

    from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES
    import cdc_wastewater_analysis_ml_spark.plans.registry_scale as RS
    from cdc_wastewater_analysis_ml_spark.sources import readers

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    seq = {
        1: ["view", "click", "purchase"],          # A: full funnel
        2: ["click", "view", "purchase"],          # B: no click after view
        3: ["view", "purchase", "click"],          # C: no purchase after click
        4: ["purchase"],                            # D: view-less
    }
    eid = 0
    for uid, types in seq.items():
        for i, typ in enumerate(types):
            rows.append((eid, t0 + dt.timedelta(minutes=i), uid, typ, 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    import unittest.mock as mock

    with mock.patch.object(RS, "load_table", lambda *_a, **_k: ev):
        out = QUERIES["agg_funnel_conversion"](spark, "ignored").collect()[0]
    assert (
        out["n_users"],
        out["n_view"],
        out["n_view_click"],
        out["n_full_funnel"],
    ) == (4, 3, 2, 1)

    # B's purchase follows its post-view click?  B: click(0) view(1)
    # purchase(2) — t1=1, click>=1? none (click at 0) → correctly excluded
    # from n_view_click even though all three types are present.


def test_vs_store_hot_bucket_guard(spark):
    """r7 (probe-motivated): a boilerplate-heavy STORE makes every matching
    delta doc pay |bucket| candidates — the vs-store generator takes the
    same hot-bucket cap as the self-join family, applied to the store side."""
    from cdc_wastewater_analysis_ml_spark.operators import dedup as D

    store = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "the same boilerplate text repeated across the corpus every time"
        ).alias("text"),
    )
    delta = spark.range(5).select(
        (F.col("id") + 10_000_000_000).alias("doc_id"),
        F.lit(
            "the same boilerplate text repeated across the corpus every time"
        ).alias("text"),
    )
    with pytest.raises(ValueError, match="exceed max_bucket_size=50"):
        D.minhash_lsh_candidates_vs_store(
            delta, store, "text", "doc_id",
            max_bucket_size=50, hot_bucket_action="error",
        ).count()
    # skip: the hot store bucket drops out -> no candidates, and the
    # end-to-end incremental dedup then KEEPS the delta (recall tradeoff
    # belongs to exact dedup, which collapses boilerplate anyway)
    skipped = D.minhash_lsh_candidates_vs_store(
        delta, store, "text", "doc_id",
        max_bucket_size=50, hot_bucket_action="skip",
    )
    assert skipped.count() == 0
    out = D.dedup_incremental_near(
        delta, store, "text", "doc_id",
        max_bucket_size=50, hot_bucket_action="skip",
    )
    assert out.count() == 5
    # default (no cap): all 5 delta docs match the store and are removed
    assert D.dedup_incremental_near(delta, store, "text", "doc_id").count() == 0


def test_adaptive_verify_gates_on_distinct_ids_per_side(spark, monkeypatch):
    """Pin the r10 gate DECISION, not just result equivalence (which holds
    for any flag combination, so the equivalence tests above cannot catch
    a gate regression): the big-corpus leg of _verify_jaccard must gate
    each side on its DISTINCT candidate-id count.  The asymmetric
    delta-vs-store shape is the case the old pair-COUNT proxy got wrong —
    one delta doc matching 60 of 100 store docs has 60 pairs (proxy:
    2*60 > 0.5*100 -> both sides off) but a 1-element id_a set, so side A
    must engage while the unselective side B (60 ids > half the docs)
    stays off."""
    captured = {}
    real = D._verify_jaccard_packed

    def spy(sh, pairs, id_col, threshold, *, reduce_a, reduce_b):
        captured["flags"] = (reduce_a, reduce_b)
        return real(sh, pairs, id_col, threshold,
                    reduce_a=reduce_a, reduce_b=reduce_b)

    monkeypatch.setattr(D, "_verify_jaccard_packed", spy)
    monkeypatch.setattr(D, "_SEMIJOIN_MIN_INPUT_BYTES", 0)
    sh = spark.createDataFrame(
        [(i, [f"s{i}", "common"]) for i in range(100)],
        "doc_id long, __shs array<string>",
    )

    def gates(pair_rows):
        pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")
        # spark.range carries a real size estimate (the local list frames
        # are stat-less, which the dispatch treats as small).
        out, pins = D._verify_jaccard(
            sh, pairs, "doc_id", 0.1, (spark.range(100),), n_docs=100
        )
        assert len(pins) == 1  # the big leg's private pair cache
        pins[0].unpersist()
        return captured.pop("flags")

    # Asymmetric: 1 distinct id_a, 60 distinct id_b over 100 docs.
    assert gates([(0, b) for b in range(1, 61)]) == (True, False)
    # Selective symmetric: 10 ids per side -> both engage.
    assert gates([(a, a + 1) for a in range(0, 20, 2)]) == (True, True)
    # Saturated symmetric: 60 ids per side (> half the docs) -> both off.
    assert gates([(a, a + 1) for a in range(1, 61)]) == (False, False)


def test_big_corpus_leg_matches_small_leg_per_consumer(
    spark, sf_small, monkeypatch
):
    """Every verify consumer end to end on BOTH legs of the one dispatch:
    with the size gate forced to 0 the fixture takes the big-corpus leg
    (shingle-cache count, candidate barrier, gated reductions or the
    pre-partitioned oriented plan), and each consumer must return exactly
    what its small leg returns and what the pure-Python reference says."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    store = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") + 10**9).alias("doc_id"), "text"
    )
    sets = _shingle_sets(docs)
    sets.update(_shingle_sets(delta))
    ref = _py_jaccard(sets, _lsh_candidates(docs), 0.3)
    vs_store = [
        (r.id_new, r.id_store)
        for r in D.minhash_lsh_candidates_vs_store(
            delta, store, "text", "doc_id"
        ).collect()
    ]
    matched = {a for a, _ in _py_jaccard(sets, vs_store, 0.3)}
    delta_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    assert ref and matched  # non-vacuous on this fixture

    def consumers():
        yield "minhash_lsh_verified", _verified(
            D.minhash_lsh_verified(docs, "text", "doc_id", threshold=0.3)
        )
        for with_sizes in (True, False):
            pairs = D.minhash_lsh_candidates(
                docs, "text", "doc_id", with_sizes=with_sizes
            )
            yield f"jaccard_verify_pairs sized={with_sizes}", _verified(
                D.jaccard_verify_pairs(
                    docs, pairs, "text", "doc_id", threshold=0.3,
                    assume_distinct=True,
                )
            )
        yield "dedup_incremental_near", {
            r.doc_id
            for r in D.dedup_incremental_near(
                delta, store, "text", "doc_id", threshold=0.3
            ).select("doc_id").collect()
        }

    expected = {
        "minhash_lsh_verified": ref,
        "jaccard_verify_pairs sized=True": ref,
        "jaccard_verify_pairs sized=False": ref,
        "dedup_incremental_near": delta_ids - matched,
    }
    legs = []
    real = D._verify_jaccard

    def spy(*args, **kwargs):
        out, pins = real(*args, **kwargs)
        legs.append(bool(pins))
        return out, pins

    monkeypatch.setattr(D, "_verify_jaccard", spy)
    small = dict(consumers())
    assert legs == [False] * 4
    monkeypatch.setattr(D, "_SEMIJOIN_MIN_INPUT_BYTES", 0)
    big = dict(consumers())
    assert legs[4:] == [True] * 4
    for name, want in expected.items():
        assert small[name] == want, name
        assert big[name] == want, name


def test_sized_verify_shingle_n_contract(spark, sf_small):
    """ADVICE r12: the sized verify must not trust __na/__nb on column
    presence alone.  Generator-stamped annotations at a MISMATCHED
    shingle_n raise; annotations WITHOUT the metadata stamp are stripped
    (warned) and the result equals the unsized plan; the matching stamped
    path stays live."""
    import warnings

    import pytest as _pytest

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    sized = D.minhash_lsh_candidates(docs, "text", "doc_id", with_sizes=True)

    # (a) generator/verify width mismatch fails loudly.
    with _pytest.raises(ValueError, match="shingle_n"):
        D.jaccard_verify_pairs(
            docs, sized, "text", "doc_id", shingle_n=4, assume_distinct=True
        )

    # (b) matching width: live and identical to the unsized reference.
    ref = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_verify_pairs(
            docs,
            sized.drop("__na", "__nb"),
            "text",
            "doc_id",
            assume_distinct=True,
        ).collect()
    }
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_verify_pairs(
            docs, sized, "text", "doc_id", assume_distinct=True
        ).collect()
    }
    assert got == ref and len(ref) > 0

    # (c) unstamped caller columns: warned, stripped, unsized result.
    bare = sized.withColumn("__na", F.col("__na") + 0).withColumn(
        "__nb", F.col("__nb") + 0
    )  # arithmetic drops the alias metadata stamp
    assert bare.schema["__na"].metadata.get("spark_graft.shingle_n") is None
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        stripped = {
            (r.id_a, r.id_b): r.jaccard
            for r in D.jaccard_verify_pairs(
                docs, bare, "text", "doc_id", assume_distinct=True
            ).collect()
        }
    assert any("metadata stamp" in str(x.message) for x in w)
    assert stripped == ref


def test_oriented_prepart_layout_plan_and_equivalence(spark, sf_small):
    """r13 (VERDICT r12 task 3, lever B): with prepart=True the oriented
    verify must (a) return exactly the prepart=False result, and (b) plan
    ONE repartition exchange of the packed digest relation feeding BOTH
    expansion joins through the cache's alias-propagated partitioning —
    never a second array-relation exchange (the layout's whole point)."""
    from cdc_wastewater_analysis_ml_spark.operators.text import word_shingles

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    sized = D._size_ratio_prefilter(
        D.minhash_lsh_candidates(docs, "text", "doc_id", with_sizes=True), 0.3
    )
    sh = docs.select(
        F.col("doc_id"),
        F.array_distinct(word_shingles("text", 3)).alias("__shs"),
    ).persist()
    try:
        ref = {
            (r.id_a, r.id_b): r.jaccard
            for r in D._verify_jaccard_packed_oriented(
                sh, sized, "doc_id", 0.3, prepart=False
            ).collect()
        }
        out_df = D._verify_jaccard_packed_oriented(
            sh, sized, "doc_id", 0.3, prepart=True
        )
        got = {(r.id_a, r.id_b): r.jaccard for r in out_df.collect()}
        assert got == ref and len(ref) > 0
        plan = out_df._jdf.queryExecution().executedPlan().toString()
        # The layout signature: the packed digest relation is pinned in a
        # cache whose cached plan is an id-hash repartition (the ONE
        # array-relation exchange; both joins then read the cache).  At
        # test scale the joins themselves broadcast, so the byte-level
        # exchange-elision guarantee is pinned by the committed sf10 A/B
        # (DEVNOTES r13: 1890.8 -> 1625.3 MB at identical checksums), not
        # by this plan string; prepart=False must build NO such cache.
        assert "InMemoryTableScan" in plan, plan
        assert "Exchange hashpartitioning(doc_id" in plan, plan
        ref_plan = (
            D._verify_jaccard_packed_oriented(
                sh, sized, "doc_id", 0.3, prepart=False
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange hashpartitioning(doc_id" not in ref_plan, ref_plan
    finally:
        sh.unpersist()


def test_incremental_near_union_delta_single_verify(spark, sf_small):
    """r13: Catalyst pushes LeftAnti joins through a Union on the left
    side, duplicating the right subtree per branch — with the matched-id
    relation unpersisted that re-executed the whole candidates→verify
    pipeline per delta branch (sf10mf: 1853→1033 MB after the pin).  Pin:
    the anti-join's right side is a cache scan (one verify execution), and
    a unioned delta returns exactly the same rows as the equivalent
    single-relation delta."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    store = docs.filter(F.col("doc_id") % 2 == 0)
    d1 = docs.filter(F.col("doc_id") % 4 == 1).select(
        (F.col("doc_id") + 10**9).alias("doc_id"), "text"
    )
    d2 = docs.filter(F.col("doc_id") % 4 == 3).select(
        (F.col("doc_id") + 2 * 10**9).alias("doc_id"), "text"
    )
    out_union = D.dedup_incremental_near(
        d1.unionByName(d2), store, "text", "doc_id"
    )
    rows_union = {r.doc_id for r in out_union.select("doc_id").collect()}
    plan = out_union._jdf.queryExecution().executedPlan().toString()
    # Both pushed-down anti-join branches must read the SAME pinned
    # matched-id cache, not re-derive the verify pipeline.
    assert "InMemoryTableScan" in plan, plan
    single = d1.unionByName(d2).localCheckpoint(eager=True)
    out_single = D.dedup_incremental_near(single, store, "text", "doc_id")
    rows_single = {r.doc_id for r in out_single.select("doc_id").collect()}
    assert rows_union == rows_single and rows_union
