"""Text-analysis Column factories (beyond-reference surface).

All built on native ``pyspark.sql.functions`` (JVM-side, whole-stage
codegen) — no Python UDFs in any hot path. Tokenization is a plain
lowercase whitespace split so the DuckDB oracle can reproduce it
byte-for-byte (``regexp_split_to_array(lower(text), '\\s+')``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and frozen so the oracle SQL can inline
# them. Sourced from the most frequent function words of each language.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "du", "que", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "im"],
}

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols —
# a cheap deterministic proxy for subword token counting.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens."""
    return F.split(F.lower(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_token_count(text: Column) -> Column:
    """Regex-based subword-ish token count (public BPE heuristics use a
    similar pre-tokenization regex; no external tokenizer libs here).
    regexp_count, not size(regexp_extract_all) (optimization r12): the
    same regex pass and the same non-overlapping count, without
    materializing an array of every matched substring per row (the PII
    scrubber's existing form). Oracles keep len(regexp_extract_all) —
    identical by definition."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN)).cast("long")


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token-array column (distinct not
    applied). Built with sequence+transform (all JVM-side): for token
    array t of size s (1-based), shingle i = concat_ws(' ', t[i], …,
    t[i+n-1]) for i ∈ [1, s-n+1]. Docs shorter than n tokens yield an
    empty array — guarded explicitly because Spark's ``sequence(1, 0)``
    counts DOWN instead of returning empty.

    PERF: pass a *materialized column reference* (``F.col``), not the
    ``tokens(text)`` expression — an expression here is re-evaluated for
    every lambda element (O(tokens²) per doc, ~3× slower end-to-end at
    sf0.1); a bound column is split once per row.
    """
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles straight from text. Convenience form for
    small inputs/tests; hot paths should materialize ``tokens(text)``
    into a column first and use :func:`shingles_of_tokens`."""
    return shingles_of_tokens(tokens(text), n)
