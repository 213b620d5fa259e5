"""Unit tests for the corpus-curation operators (operators/corpus.py,
operators/sampling.py, dedup.connected_components) — crafted inputs with
hand-checkable answers; registry parity at sf0.001 is covered separately by
test_registry_parity.py."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from cdc_wastewater_analysis_ml_spark.operators import corpus as C
from cdc_wastewater_analysis_ml_spark.operators import sampling as SAM
from cdc_wastewater_analysis_ml_spark.operators import text as T
from cdc_wastewater_analysis_ml_spark.operators.dedup import (
    cluster_dedup_decision,
    connected_components,
)

# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------


def _cc_dict(edges_df):
    cc = connected_components(edges_df)
    return {r["doc_id"]: r["cluster_id"] for r in cc.collect()}


def test_cc_chain_and_isolated_cluster(spark):
    # chain 1-2-3-4 plus pair (10, 11): transitivity must merge the chain
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = _cc_dict(edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_cycle_and_reversed_edges(spark):
    # cycle + edges given high->low: symmetrization must not matter
    edges = spark.createDataFrame(
        [(5, 3), (3, 7), (7, 5), (9, 8)], ["id_a", "id_b"]
    )
    got = _cc_dict(edges)
    assert got == {3: 3, 5: 3, 7: 3, 8: 8, 9: 8}


def test_cc_long_chain_needs_iterations(spark):
    # diameter 9: exercises multiple propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20, 30)], ["id_a", "id_b"]
    )
    got = _cc_dict(edges)
    assert set(got.values()) == {20}
    assert len(got) == 11


def test_cc_empty_edges(spark):
    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(edges).count() == 0


def test_cc_max_iter_raises(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(8)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, max_iter=2)


def test_cc_adversarial_diameter_converges_in_log_rounds(spark):
    """1000-node path graph (diameter 999): pointer doubling must converge
    in O(log d) rounds — max_iter=15 ≪ 999 proves the claim (plain
    min-propagation would need ~999 rounds and raise)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], ["id_a", "id_b"]
    )
    cc = connected_components(edges, max_iter=15)
    rows = cc.collect()
    assert len(rows) == 1000
    assert {r["cluster_id"] for r in rows} == {0}


def test_cc_releases_round_checkpoints(spark):
    """Every round's localCheckpoint blocks must be freed once the next
    round materializes (r4 ADVICE): after a multi-round run, block-manager
    storage may hold only the RETURNED relation's own checkpoint — not one
    entry per round."""
    import gc

    gc.collect()
    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    # diameter-60 chain → several rounds → would pin ~2 blocks/round unfreed
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["id_a", "id_b"]
    )
    out = connected_components(edges)
    assert out.count() == 61
    # The release path unpersists NON-blocking (async block removal): on a
    # loaded machine the storage list can lag the unpersist call, so poll
    # with a short retry instead of asserting immediately (ADVICE r5 #4).
    import time

    deadline = time.monotonic() + 10.0
    while True:
        after = len(jsc.getRDDStorageInfo())
        if after - before <= 1 or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    assert after - before <= 1, (
        f"round checkpoints leaked: {before} -> {after} storage entries"
    )


def test_cluster_dedup_decision_keeps_min(spark):
    edges = spark.createDataFrame([(2, 1), (2, 3)], ["id_a", "id_b"])
    rows = cluster_dedup_decision(connected_components(edges)).collect()
    keep = {r["doc_id"]: r["keep"] for r in rows}
    assert keep == {1: True, 2: False, 3: False}


# ---------------------------------------------------------------------------
# contamination
# ---------------------------------------------------------------------------


def test_contamination_overlap_counts(spark):
    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens → 3 distinct 8-grams
    train = spark.createDataFrame(
        [(1, words), (2, "completely different tokens only here")],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame([(9, words + " tail")], ["doc_id", "text"])
    out = C.contamination_overlap(train, eval_df, "text", "doc_id", n=8)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert list(rows) == [1]  # doc 2 shares nothing
    assert rows[1]["n_shared"] == 3  # all three of doc 1's 8-grams survive
    assert rows[1]["n_shingles"] == 3
    assert rows[1]["overlap_frac"] == 1.0


def test_contamination_null_text_never_matches(spark):
    """r12 digest narrowing: the xxhash64 join key must keep md5(null)'s
    never-joins invariant — unguarded, every null/short-text train doc
    ([NULL] shingle from explode_outer) would share the bare seed hash
    with a null eval shingle and report spurious contamination."""
    words = " ".join(f"w{i}" for i in range(10))
    train = spark.createDataFrame(
        [(1, None), (2, ""), (3, "too short"), (4, words)],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(9, None), (10, ""), (11, words)], "doc_id long, text string"
    )
    out = C.contamination_overlap(train, eval_df, "text", "doc_id", n=8)
    rows = {r["doc_id"]: r for r in out.collect()}
    # The NULL-text doc (1) and the no-overlap doc (3) never appear.  The
    # EMPTY-text doc (2) legitimately matches eval doc 10's empty shingle —
    # "" is a real string, equi-joinable under md5 and xxhash64 alike (the
    # invariant is null-never-matches, not empty-never-matches).
    assert set(rows) == {2, 4}
    assert rows[4]["n_shared"] == 3
    assert rows[2]["n_shared"] == 1 and rows[2]["n_shingles"] == 1


# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------


def test_chunk_documents_overlapping_windows(spark):
    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text), (2, "short doc")], ["doc_id", "text"]
    )
    out = C.chunk_documents(df, "text", "doc_id", chunk_tokens=4, stride=3)
    rows = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in out.collect()
    }
    # doc 1: 10 tokens, starts 1/4/7 → full windows with 1-token overlap
    assert rows[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert rows[(1, 1)] == ("t3 t4 t5 t6", 4)
    assert rows[(1, 2)] == ("t6 t7 t8 t9", 4)
    # doc 2: fits in one window
    assert rows[(2, 0)] == ("short doc", 2)
    assert len(rows) == 4


def test_chunk_documents_short_tail(spark):
    text = " ".join(f"t{i}" for i in range(9))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = C.chunk_documents(df, "text", "doc_id", chunk_tokens=4, stride=3)
    rows = {r["chunk_id"]: r for r in out.collect()}
    assert len(rows) == 3
    assert rows[2]["chunk_text"] == "t6 t7 t8"
    assert rows[2]["n_chunk_tokens"] == 3
    with pytest.raises(ValueError, match="positive"):
        C.chunk_documents(df, "text", "doc_id", chunk_tokens=0)
    # stride > chunk_tokens would skip tokens between windows (and yields
    # empty tail chunks with negative n_chunk_tokens) — rejected up front.
    with pytest.raises(ValueError, match="stride"):
        C.chunk_documents(df, "text", "doc_id", chunk_tokens=4, stride=6)


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def test_pii_redact_counts_and_text(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d-e@f.org call 555-123-4567 at 10.0.0.1"),
            (2, "no pii here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in C.pii_redact(df, "text").collect()}
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_ip"]) == (2, 1, 1)
    assert rows[1]["redacted"] == (
        "mail <EMAIL> and <EMAIL> call <PHONE> at <IP>"
    )
    assert (rows[2]["n_email"], rows[2]["n_phone"], rows[2]["n_ip"]) == (0, 0, 0)
    assert rows[2]["redacted"] == "no pii here"


def test_pii_ip_host_address_redacts_as_ip(spark):
    # user@10.0.0.1 is NOT an email per the pattern (TLD must be alphabetic),
    # so the IP stage redacts the host part instead — pin that semantics
    df = spark.createDataFrame([(1, "x user@10.0.0.1 y")], ["doc_id", "text"])
    r = C.pii_redact(df, "text").collect()[0]
    assert r["redacted"] == "x user@<IP> y"
    assert (r["n_email"], r["n_ip"]) == (0, 1)


# ---------------------------------------------------------------------------
# repetition signals
# ---------------------------------------------------------------------------


def test_repetition_signals_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b a b a b")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in C.repetition_signals(df, "text", "doc_id").collect()}
    assert rows[1]["dup_2gram_frac"] == 0.0
    # doc 2 2-grams: ab ba ab ba ab → 5 total, 2 distinct → 3/5
    assert rows[2]["dup_2gram_frac"] == 0.6
    # doc 2 3-grams: aba bab aba bab → 4 total, 2 distinct → 0.5
    assert rows[2]["dup_3gram_frac"] == 0.5
    assert rows[2]["n_tokens"] == 6


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------


def test_sample_fraction_is_deterministic_and_seed_sensitive(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = SAM.sample_fraction_hash(df, "k", 0.25, seed=1)
    b = SAM.sample_fraction_hash(df, "k", 0.25, seed=1)
    c = SAM.sample_fraction_hash(df, "k", 0.25, seed=2)
    sa = {r["k"] for r in a.collect()}
    assert sa == {r["k"] for r in b.collect()}
    assert sa != {r["k"] for r in c.collect()}
    # md5 uniformity: 25% ± a few points at n=2000
    assert 0.18 < len(sa) / 2000 < 0.32
    # repartitioning must not change membership (vs df.sample which would)
    sa2 = {r["k"] for r in SAM.sample_fraction_hash(df.repartition(13), "k", 0.25, seed=1).collect()}
    assert sa2 == sa


def test_sample_fraction_extremes(spark):
    df = spark.range(0, 100).withColumnRenamed("id", "k")
    assert SAM.sample_fraction_hash(df, "k", 0.0, seed=1).count() == 0
    assert SAM.sample_fraction_hash(df, "k", 1.0, seed=1).count() == 100
    with pytest.raises(ValueError):
        SAM.fraction_to_hex_threshold(1.5)


def test_sample_fraction_one_keeps_the_ffffffff_draw():
    """fraction == 1.0 must keep EVERY row, including one whose 8-hex draw
    is exactly 'ffffffff' — the clamped ⌊p·16⁸⌋−1 threshold silently
    dropped it (~1 row per 4.3B at corpus scale; r4 ADVICE).  'g' sorts
    after every hex digit in both Spark and DuckDB."""
    thr = SAM.fraction_to_hex_threshold(1.0)
    assert "ffffffff" < thr  # lexicographic, the predicate the filter runs
    # just-below-1 fractions still clamp inside the hex span
    assert SAM.fraction_to_hex_threshold(1.0 - 1e-12) == "ffffffff"


def test_sample_mixture_drops_unlisted_groups(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(400)], ["k", "g"]
    )
    out = SAM.sample_mixture(df, "k", "g", {"a": 1.0}, seed=3)
    got = out.groupBy("g").count().collect()
    assert {r["g"] for r in got} == {"a"}
    assert got[0]["count"] == 200  # w=1.0 keeps all (16⁻⁸ slack aside)
    with pytest.raises(ValueError, match="weights"):
        SAM.sample_mixture(df, "k", "g", {"a": 2.0}, seed=3)


def test_sample_topk_per_key_exact_k_and_stable(spark):
    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(90)], ["doc_id", "lang"]
    )
    out = SAM.sample_topk_per_key(df, ["lang"], "doc_id", 4, seed=11)
    rows = out.collect()
    per_key = {}
    for r in rows:
        per_key.setdefault(r["lang"], set()).add(r["doc_id"])
    assert all(len(v) == 4 for v in per_key.values()) and len(per_key) == 3
    again = SAM.sample_topk_per_key(df.repartition(7), ["lang"], "doc_id", 4, seed=11)
    per_key2 = {}
    for r in again.collect():
        per_key2.setdefault(r["lang"], set()).add(r["doc_id"])
    assert per_key2 == per_key


def test_resample_mixture_copy_counts(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(300)], ["k", "g"]
    )
    out = SAM.resample_mixture(df, "k", "g", {"a": 2.0, "b": 0.5}, seed=1)
    rows = out.collect()
    per_g = {}
    for r in rows:
        per_g.setdefault(r["g"], []).append(r["copy_id"])
    # integer weight: every 'a' row exactly twice, copy ids 1 and 2
    assert len(per_g["a"]) == 300 and sorted(set(per_g["a"])) == [1, 2]
    # fractional weight: 'b' keeps roughly half, single copies
    assert 45 < len(per_g["b"]) < 105 and set(per_g["b"]) == {1}
    # deterministic
    again = SAM.resample_mixture(df, "k", "g", {"a": 2.0, "b": 0.5}, seed=1)
    assert sorted((r["k"], r["copy_id"]) for r in again.collect()) == sorted(
        (r["k"], r["copy_id"]) for r in rows
    )
    with pytest.raises(ValueError, match=">= 0"):
        SAM.resample_mixture(df, "k", "g", {"a": -1.0}, seed=1)


def test_resample_mixture_fractional_above_one(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
        "g", F.lit("a")
    )
    out = SAM.resample_mixture(df, "k", "g", {"a": 1.5}, seed=2)
    n = out.count()
    assert 1350 < n < 1650  # ≈ 1.5×


def _winnow_py(text: str, k: int = 5, window: int = 4) -> set[str]:
    """Winnowing as the operator defines it, in plain Python: Spark's
    ``trim`` strips spaces only, and ``\\s`` in Java regex is ASCII
    whitespace."""
    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower().strip(" "))
    hashes = [
        hashlib.md5(norm[i:i + k].encode()).hexdigest()[:16]
        for i in range(max(len(norm) - k + 1, 1))
    ]
    return {
        min(hashes[i:i + window]) for i in range(max(len(hashes) - window + 1, 1))
    }


def test_winnow_fingerprints_match_pure_python(spark):
    docs = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "  Tabs\tand\n\nnewlines   between WORDS "),
        (3, "abc"),
        (4, ""),
        (5, None),
        (6, "a QUICK brown fox jumps twice"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict[int, list] = {}
    for r in T.winnow_fingerprints(df, "text", "doc_id").collect():
        got.setdefault(r.doc_id, []).append(r.fp)
    assert got.pop(5) == [None]
    assert all(len(fps) == len(set(fps)) for fps in got.values()), got
    assert {d: set(fps) for d, fps in got.items()} == {
        d: _winnow_py(t) for d, t in docs if t is not None
    }
    # A shared substring of ≥ k + window − 1 = 8 characters shares a print.
    assert set(got[1]) & set(got[6])

