"""Text-analysis operators for large-scale training-data pipelines.

All built from JVM-side expressions (split/regexp/md5/aggregate) — no Python
UDFs — so they pipeline inside whole-stage codegen over a 100 TB documents
table.  Every op is deterministic and has an exact SQL oracle.

These generalize the reference's single-table column transforms
(codes.py:28-51) to the documents substrate (TESTDATA.md).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_text(c: Column | str) -> Column:
    """Lowercase + collapse internal whitespace + trim: the canonical form
    used by fingerprinting and shingling."""
    c = name_col(c) if isinstance(c, str) else c
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def quote_ident(name: str) -> str:
    """``name`` as a SQL identifier for rendered expression strings: every
    backtick doubled, the whole wrapped in backticks — so any column name
    (spaces, dots, backticks) parses as exactly one column reference.  Every
    site that renders a column name into SQL text quotes through here."""
    return "`" + name.replace("`", "``") + "`"


def name_col(name: str, qualifier: str = "") -> Column:
    """The column NAMED ``name`` (optionally of relation alias
    ``qualifier``).  Bare ``F.col`` parses its argument, so a name holding
    a backtick fails and one holding a dot reads as a struct field; the
    quoted form resolves to exactly the same attribute for a plain name."""
    ident = quote_ident(name)
    return F.col(f"{qualifier}.{ident}" if qualifier else ident)


def tokenize(c: Column | str) -> Column:
    """Whitespace tokenization → array<string> (empty-safe).

    Single-regex form (r15): ``split(trim(lower(x)), '\\s+')`` is
    value-identical to splitting :func:`normalize_text` on single spaces —
    after a trim there are no leading/trailing separators, and ``\\s+``
    consumes exactly the runs the collapse pass rewrote — but runs ONE
    regex over the text instead of a full regexp_replace rewrite followed
    by a split (~20% off every tokenize pass; bit-identity verified on all
    fixture SFs incl. the augmented corpus and the empty/whitespace/null
    edge cases).  ``normalize_text`` itself still exists for consumers
    that need the collapsed STRING (fingerprints, char n-grams).

    r15 (opt): the string-argument path parses as ONE SQL expression
    JVM-side (the rhp_sign lesson — each client-built Column node costs a
    py4j round trip of serial driver time per consumer build); the parsed
    nodes are identical to the Column form, which stays for Column
    arguments.
    """
    if isinstance(c, str):
        return F.expr(_tokenize_sql(quote_ident(c)))
    return F.split(F.trim(F.lower(c)), r"\s+")


def _tokenize_sql(col_sql: str) -> str:
    """SQL text of :func:`tokenize` over column expression ``col_sql`` —
    parses to exactly the nodes the Column form builds (the ``'\\\\s+'``
    SQL literal unescapes to the same ``\\s+`` regex)."""
    return f"split(trim(lower({col_sql})), '\\\\s+')"


def token_count(c: Column | str) -> Column:
    """Whitespace token count (the cheap "token budget" proxy)."""
    return F.size(tokenize(c))


def char_ngrams(c: Column | str, n: int) -> Column:
    """Character n-grams of the normalized text → array<string>."""
    norm = normalize_text(c)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(n - 1), F.lit(1))),
        lambda i: norm.substr(i, F.lit(n)),
    )


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined) → array<string>.

    Built with sequence+transform+slice — pure Catalyst expressions; a doc
    with fewer than ``n`` tokens yields one shingle (the whole text).

    r15 (opt): the string-argument path parses as ONE SQL expression
    JVM-side (see :func:`tokenize`) — node-identical to the Column form
    (referencing the same Python ``toks`` Column twice duplicates the
    subtree in the plan exactly like the repeated SQL text does).
    """
    if isinstance(c, str):
        toks = _tokenize_sql(quote_ident(c))
        return F.expr(
            f"transform(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
            f"i -> array_join(slice({toks}, i, {n}), ' '))"
        )
    toks = tokenize(c)
    count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )


def punct_ratio(c: Column | str) -> Column:
    """Fraction of characters that are punctuation ``.,!?;:`` (0 for empty)."""
    c = name_col(c) if isinstance(c, str) else c
    total = F.length(c)
    stripped = F.length(F.regexp_replace(c, r"[.,!?;:]", ""))
    return F.when(total > 0, (total - stripped) / total).otherwise(F.lit(0.0))


def stopword_ratio(c: Column | str, stopwords: Sequence[str] = ("the", "a", "and", "of", "to")) -> Column:
    """Fraction of tokens that are stopwords (0 for empty docs)."""
    toks = tokenize(c)
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_hits = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc + F.when(F.array_contains(sw, t), 1).otherwise(0),
    )
    return F.when(F.size(toks) > 0, n_hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(c: Column | str, target_len: int = 500) -> Column:
    """Heuristic document quality in [0, 1]:
    ``min(1, len/target) × (1 − punct_ratio) × (1 − stopword_ratio/2)``.

    The reference's quality gates are the defensive range checks at
    codes.py:89-93; this is their text-pipeline generalization (length /
    punctuation / stopword signals, SURVEY §7 phase 4).
    """
    c = name_col(c) if isinstance(c, str) else c
    length_part = F.least(F.lit(1.0), F.length(c) / F.lit(float(target_len)))
    return length_part * (1.0 - punct_ratio(c)) * (1.0 - stopword_ratio(c) / 2.0)


#: Marker tokens per language for the n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "a", "and", "is", "of"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}


def lang_id(c: Column | str, markers: dict[str, tuple[str, ...]] | None = None) -> Column:
    """Marker-token language heuristic with deterministic tiebreak.

    Scores each candidate language by counting its marker tokens; picks the
    max score, ties broken by language code ascending; all-zero → 'und'
    (undetermined).  Pure expression tree — no UDF.
    """
    markers = markers or LANG_MARKERS
    toks = tokenize(c)

    def score(words: tuple[str, ...]) -> Column:
        sw = F.array(*[F.lit(wd) for wd in words])
        return F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc + F.when(F.array_contains(sw, t), 1).otherwise(0),
        )

    # struct(score DESC via negation, lang ASC) → array_min picks the winner
    entries = [
        F.struct((-score(words)).alias("neg"), F.lit(lang).alias("lang"))
        for lang, words in sorted(markers.items())
    ]
    best = F.array_min(F.array(*entries))
    return F.when(best["neg"] < 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(c: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of the normalized text.

    The exact-dedup key (scale path: group/bucket by fingerprint instead of
    shuffling full document bodies)."""
    return F.md5(normalize_text(c))


#: GPT-2-style pre-tokenizer shape, restricted to constructs whose semantics
#: are identical in Java regex (Spark) and RE2 (DuckDB): letter runs, digit
#: runs, punctuation runs, each with an optional leading space.
BPE_TOKEN_REGEX = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def token_count_bpe(c: Column | str) -> Column:
    """Sub-word-ish token count via the BPE pre-tokenizer regex — the better
    "token budget" estimator for LLM-pipeline accounting (whitespace count
    undercounts punctuation-heavy text).  Pure regexp_extract_all: JVM-side,
    codegen-eligible, no vocabulary needed."""
    c = name_col(c) if isinstance(c, str) else c
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_REGEX), 0))


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003): hash
    every character k-gram of the normalized text, then keep the minimum
    hash of each sliding window of ``window`` consecutive k-grams.  One
    ``(id_col, fp)`` row per distinct fingerprint of a document; a null
    text gives one null ``fp``.

    Guarantees any shared substring of length ≥ k + window − 1 contributes a
    shared fingerprint — the local-similarity dedup primitive (plagiarism /
    near-dup detection) that a single whole-document hash cannot provide.
    Pure array expressions; the fingerprint set is ~|text|/window hashes, so
    the shuffle carries a bounded digest instead of document bodies.

    The normalized text and the hash array are projected columns, not
    expressions referenced from the lambdas: a higher-order function's
    lambda is interpreted per element and shares no subexpression, so
    inlined, every window recomputed the whole md5 array and every k-gram
    the regex normalization (quadratic per document: 50 documents took
    79 s inlined and 3 s staged on 4 cores).  Each staged column is referenced twice, so
    ``CollapseProject`` keeps the projections apart."""
    norm = df.select(
        name_col(id_col).alias(id_col), normalize_text(text_col).alias("__norm")
    )
    n_grams = F.greatest(F.length("__norm") - F.lit(k - 1), F.lit(1))
    hashed = norm.select(
        name_col(id_col),
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.substring(F.md5(F.substring(F.col("__norm"), i, k)), 1, 16),
        ).alias("__h"),
    )
    n_windows = F.greatest(F.size("__h") - F.lit(window - 1), F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.array_min(F.slice(F.col("__h"), i, window)),
    )
    # explode_outer: suppress the InferFiltersFromGenerate size()>0 filter,
    # which re-computes the whole winnowing expression per row (same
    # mechanism as corpus.contamination_overlap); the fingerprint array is
    # never empty for non-null text, and a null-text row's null fp is the
    # outer variant's only delta.
    return hashed.select(
        name_col(id_col), F.explode_outer(F.array_distinct(mins)).alias("fp")
    )
