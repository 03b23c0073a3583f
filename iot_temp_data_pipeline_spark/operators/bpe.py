"""BPE tokenizer-vocabulary training (beyond-reference surface): the
byte-pair-encoding merge-learning loop every LLM tokenizer pipeline
runs (Sennrich et al. 2016), re-expressed as pure DataFrame algebra.

Scale shape — the key property of classic BPE training is that after
ONE corpus pass, all work is proportional to the VOCABULARY, not the
corpus:

- corpus pass: explode tokens → groupBy(word) count. One shuffle,
  map-side combined; at 100 TB this is the only job that touches the
  data, and it is embarrassingly parallel.
- per merge round, over the distinct-word table only: adjacent symbol
  pairs (per-row array transform, no shuffle) → weighted count
  (map-side combined groupBy) → argmax pair (TakeOrdered) collected as
  ONE driver row and inlined into the next round's merge fold (a
  per-row projection, no shuffle). The 1-row collect is the standard
  iteration-digest pattern (same as k-means' convergence check): it
  keeps each round's plan a LINEAR extension of the previous one.
  Referencing the best row as a DataFrame instead would embed
  syms_{r-1} twice per round (once under the argmax, once under the
  fold) — an exponentially growing logical plan that Catalyst must
  re-analyze whole (measured: heap exhaustion at 9 rounds).

Merge semantics are the canonical greedy left-to-right single pass:
fold the symbol array keeping the merged string as the accumulator; if
the accumulator's LAST symbol is pair_a and the next symbol is pair_b,
append with no separator (fusing them), else append space-separated.
Because the accumulator re-checks its (possibly just-merged) last
symbol, chains like "a a a" and "a b a b" merge exactly as the
reference BPE algorithm does. Ties in pair counts break by (count
DESC, pair lexicographic) so every round is deterministic, and the
DuckDB oracle re-derives the full merge table independently from the
same corpus — integer counts only, no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources.catalog import local_table

BPE_ROUNDS = 8

_PAIRS_EXPR = (
    "transform(sequence(1, size(sym) - 1), "
    "i -> struct(element_at(sym, i) AS pa, element_at(sym, i + 1) AS pb))"
)
_EMPTY_PAIRS = "CAST(array() AS ARRAY<STRUCT<pa: STRING, pb: STRING>>)"


def _fold_merge(pa: str, pb: str) -> F.Column:
    """Greedy left-to-right merge fold for the literal pair (pa, pb):
    acc is the space-joined merged prefix; fusing = append pb with no
    separator. Built from Column literals (no SQL-string splicing, so
    arbitrary symbols need no escaping)."""
    return F.aggregate(
        F.slice(F.col("sym"), F.lit(2), F.greatest(F.size("sym") - 1, F.lit(0))),
        F.element_at(F.col("sym"), 1),
        lambda acc, x: F.when(
            (F.element_at(F.split(acc, " "), -1) == F.lit(pa)) & (x == F.lit(pb)),
            F.concat(acc, x),
        ).otherwise(F.concat(acc, F.lit(" "), x)),
    )


def word_frequencies(docs: DataFrame) -> DataFrame:
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _bpe_train(
    docs: DataFrame, n_merges: int
) -> tuple[DataFrame, DataFrame]:
    """Run the merge-learning loop; returns (merge table, final
    per-word symbol table with all ``n_merges`` merges applied)."""
    # Persist round 0 too: without it, round 2's chain re-runs the
    # corpus-wide word_frequencies shuffle a second time (shuffle
    # output is not reused across separate actions) — breaking the
    # one-corpus-pass contract above.
    syms = (
        word_frequencies(docs)
        .select(
            "word",
            "freq",
            F.expr(
                "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
            ).alias("sym"),
        )
        .persist()
    )
    live: list[DataFrame] = [syms]
    records: list[tuple] = []
    for r in range(1, n_merges + 1):
        pairs_arr = (
            F.when(F.size("sym") > 1, F.expr(_PAIRS_EXPR))
            .otherwise(F.expr(_EMPTY_PAIRS))
        )
        pairs = (
            syms.select(F.explode(pairs_arr).alias("p"), "freq")
            .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(F.col("cnt").desc(), "pa", "pb").limit(1).collect()
        # This collect materialized the newest table's cache, so every
        # OLDER table (needed only to build it) can release its
        # storage — live cache stays at one round, not n_merges.
        while len(live) > 1:
            live.pop(0).unpersist()
        if not top:  # degenerate corpus: nothing left to merge
            break
        best = top[0]
        records.append(
            (r, best["pa"], best["pb"], best["pa"] + best["pb"], best["cnt"])
        )
        # Persist each round's symbol table: both this round's argmax
        # job and the next round's chain read it; the cut keeps every
        # chain segment executed exactly once.
        syms = syms.select(
            "word",
            "freq",
            F.split(_fold_merge(best["pa"], best["pb"]), " ").alias("sym"),
        ).persist()
        live.append(syms)
    merges = local_table(
        docs.sparkSession,
        records, "round long, pa string, pb string, merged string, cnt long"
    )
    # Release everything except the final table, which the encode
    # consumer reads (a caller that discards it should unpersist it).
    for df in live[:-1]:
        df.unpersist()
    return merges, syms


def bpe_merge_table(docs: DataFrame, n_merges: int = BPE_ROUNDS) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns one row per round:
    (round, pa, pb, merged, cnt) — the merge table a tokenizer ships."""
    merges, syms = _bpe_train(docs, n_merges)
    syms.unpersist()  # merge table alone never reads the final symbols
    return merges


def bpe_encode_stats(docs: DataFrame, n_merges: int = BPE_ROUNDS) -> DataFrame:
    """Apply the learned vocabulary back to the corpus: per language,
    total chars vs total BPE symbols and the compression ratio — the
    fertility metric tokenizer teams track per language. The encode
    join is word → symbol-count against the (vocabulary-sized) final
    symbol table, broadcastable at any corpus scale."""
    _, syms = _bpe_train(docs, n_merges)
    per_word = syms.select("word", F.size("sym").cast("long").alias("n_syms"))
    return (
        docs.select("lang", F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .join(F.broadcast(per_word), "word")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("n_syms").alias("n_symbols"),
        )
        .withColumn(
            "chars_per_symbol",
            F.col("n_chars").cast("double") / F.col("n_symbols").cast("double"),
        )
    )


def _bpe_ctes(source: str, n_merges: int) -> list[str]:
    ctes = [
        f"""bpe_words AS (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
              FROM {source}) t
        WHERE length(word) > 0 GROUP BY 1
    )""",
        """bpe_syms_0 AS (
        SELECT word, freq,
            list_transform(generate_series(1, length(word)),
                           i -> substr(word, i, 1)) AS sym
        FROM bpe_words
    )""",
    ]
    for r in range(1, n_merges + 1):
        prev = r - 1
        ctes.append(
            f"""bpe_pairs_{r} AS (
        SELECT p.pa, p.pb, SUM(freq) AS cnt
        FROM (SELECT freq, unnest(list_transform(generate_series(1, len(sym) - 1),
                i -> {{'pa': sym[i], 'pb': sym[i + 1]}})) AS p
              FROM bpe_syms_{prev}) t
        GROUP BY 1, 2
    )""",
        )
        ctes.append(
            f"""bpe_best_{r} AS (
        SELECT pa, pb, cnt FROM bpe_pairs_{r}
        ORDER BY cnt DESC, pa, pb LIMIT 1
    )""",
        )
        ctes.append(
            f"""bpe_syms_{r} AS (
        SELECT word, freq, string_split(
            list_reduce(sym, (acc, x) -> CASE
                WHEN (string_split(acc, ' '))[-1] = b.pa AND x = b.pb
                THEN acc || x ELSE acc || ' ' || x END), ' ') AS sym
        FROM bpe_syms_{prev} CROSS JOIN bpe_best_{r} b
    )""",
        )
    return ctes


def bpe_merge_table_sql(
    source: str = "documents", n_merges: int = BPE_ROUNDS
) -> str:
    """DuckDB twin: independently re-derives the whole merge table via
    one unrolled CTE chain per round (same argmax ties, same greedy
    fold via list_reduce)."""
    ctes = _bpe_ctes(source, n_merges)
    selects = " UNION ALL ".join(
        f"SELECT {r} AS round, pa, pb, pa || pb AS merged, cnt FROM bpe_best_{r}"
        for r in range(1, n_merges + 1)
    )
    return f"""(
    WITH {', '.join(ctes)}
    {selects}
) bpe"""


def bpe_encode_stats_sql(
    source: str = "documents", n_merges: int = BPE_ROUNDS
) -> str:
    ctes = _bpe_ctes(source, n_merges)
    return f"""(
    WITH {', '.join(ctes)},
    bpe_enc AS (
        SELECT lang, word
        FROM (SELECT lang, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
              FROM {source}) t
        WHERE length(word) > 0
    )
    SELECT e.lang,
        COUNT(*) AS n_words,
        SUM(length(e.word)) AS n_chars,
        SUM(len(s.sym)) AS n_symbols,
        CAST(SUM(length(e.word)) AS DOUBLE)
            / CAST(SUM(len(s.sym)) AS DOUBLE) AS chars_per_symbol
    FROM bpe_enc e JOIN bpe_syms_{n_merges} s ON e.word = s.word
    GROUP BY e.lang
) bpenc"""
