"""Text-analysis operators for training-data pipelines (beyond-reference
surface): per-document statistics, quality scoring, heuristic language
ID, BPE-ish token counting, and bottom-k document fingerprints.

Everything is native expressions over arrays (split / filter / transform
/ aggregate) — whole-stage codegen, zero Python in the hot path. Ratios
divide exact integer counts, so scores are bit-identical with the
oracle. Per-doc stats are a single narrow projection (no shuffle); the
fingerprint operator shuffles once on doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash32, portable_hash32_sql
from ..functions.text import BPE_TOKEN_PATTERN, STOPWORDS, shingles_of_tokens, tokens
from ..sources.catalog import local_table

FINGERPRINT_K = 8
FINGERPRINT_SEED = 7

# quality-score weights (length / word-shape / stopword-signal)
QUALITY_TOKEN_RANGE = (20, 2000)
QUALITY_WORDLEN_RANGE = (2.0, 12.0)
QUALITY_STOPWORD_MIN = 0.02


def _stopword_hits(toks: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def _sql_stopword_hits(lang: str) -> str:
    quoted = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(tk, t -> t IN ({quoted})))"


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document statistics + quality score + predicted language.

    predicted_lang = argmax of stopword hits over the four frozen lists
    (ties broken en > es > fr > de; all-zero → 'und'). The fixture's
    `lang` labels are synthetic and uncorrelated with the text — the
    point here is the deterministic pipeline, not benchmark accuracy.
    """
    # Materialize the token array once per row — every stat below reads
    # the bound column instead of re-splitting the text.
    docs = docs.withColumn("tk", tokens(F.col("text")))
    toks = F.col("tk")
    n_tokens = F.size(toks).cast("long")
    char_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    hits = {lang: _stopword_hits(toks, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    predicted = (
        F.when(best == 0, "und")
        .when(hits["en"] == best, "en")
        .when(hits["es"] == best, "es")
        .when(hits["fr"] == best, "fr")
        .otherwise("de")
    )
    avg_word_len = char_sum.cast("double") / n_tokens.cast("double")
    stop_ratio = hits["en"].cast("double") / n_tokens.cast("double")
    lo_t, hi_t = QUALITY_TOKEN_RANGE
    lo_w, hi_w = QUALITY_WORDLEN_RANGE
    quality = F.round(
        F.when((n_tokens >= lo_t) & (n_tokens <= hi_t), 0.4).otherwise(0.0)
        + F.when(
            (avg_word_len >= lo_w) & (avg_word_len <= hi_w), 0.3
        ).otherwise(0.0)
        + F.when(stop_ratio >= QUALITY_STOPWORD_MIN, 0.3).otherwise(0.0),
        1,
    )
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        # regexp_count, not size(regexp_extract_all) (optimization
        # r12): same regex pass, same non-overlapping match count, but
        # no per-row array of every matched substring — strictly less
        # allocation on the corpus's hottest pure-map row. A/B under
        # ambient load read a tie (min 0.585 → 0.506 s, medians inside
        # the noise band); adopted on the strict-subset-of-work
        # argument. The oracle keeps len(regexp_extract_all(...)) —
        # the counts are identical by definition.
        F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_PATTERN))
        .cast("long")
        .alias("n_bpe_tokens"),
        avg_word_len.alias("avg_word_len"),
        hits["en"].alias("stopword_hits_en"),
        stop_ratio.alias("stopword_ratio_en"),
        quality.alias("quality_score"),
        predicted.alias("predicted_lang"),
    )


def text_stats_sql(source: str = "documents") -> str:
    hits = {lang: _sql_stopword_hits(lang) for lang in STOPWORDS}
    best = f"greatest({hits['en']}, {hits['es']}, {hits['fr']}, {hits['de']})"
    lo_t, hi_t = QUALITY_TOKEN_RANGE
    lo_w, hi_w = QUALITY_WORDLEN_RANGE
    return f"""(
    SELECT doc_id, lang, source,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(tk) AS BIGINT) AS n_tokens,
        CAST(len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}')) AS BIGINT)
            AS n_bpe_tokens,
        CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
            / CAST(len(tk) AS DOUBLE) AS avg_word_len,
        CAST({hits['en']} AS BIGINT) AS stopword_hits_en,
        CAST({hits['en']} AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS stopword_ratio_en,
        ROUND(CAST(
            (CASE WHEN len(tk) BETWEEN {lo_t} AND {hi_t} THEN 0.4 ELSE 0 END)
          + (CASE WHEN CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
                       / CAST(len(tk) AS DOUBLE) BETWEEN {lo_w} AND {hi_w}
                  THEN 0.3 ELSE 0 END)
          + (CASE WHEN CAST({hits['en']} AS DOUBLE) / CAST(len(tk) AS DOUBLE)
                       >= {QUALITY_STOPWORD_MIN}
                  THEN 0.3 ELSE 0 END)
        AS DOUBLE), 1) AS quality_score,
        CASE WHEN {best} = 0 THEN 'und'
             WHEN {hits['en']} = {best} THEN 'en'
             WHEN {hits['es']} = {best} THEN 'es'
             WHEN {hits['fr']} = {best} THEN 'fr'
             ELSE 'de'
        END AS predicted_lang
    FROM (
        SELECT doc_id, lang, source, text,
            regexp_split_to_array(lower(text), '\\s+') AS tk
        FROM {source}
    ) t
) s"""


LOW_ENTROPY_MILLIBITS = 2000  # repetitive-text gate (floor-log2 scale)


ENTROPY_EXPLODE_MIN_DOCS = 20_000


def char_entropy(docs: DataFrame, strategy: str = "auto") -> DataFrame:
    """Per-document character-distribution entropy in exact floor-log2
    bits — the cheapest degenerate-text detector (key-mash, repeated
    separators, base64 blobs all sit at distribution extremes). Uses
    the repo's libm-free log discipline (unigram_surprisal precedent):
    with bitlen(c) = length of c's binary representation,

        total_floorbits = L·bitlen(L) − Σ_chars c_i·bitlen(c_i)

    — every term an exact integer, so cross-engine parity is bit-exact
    with no float summation anywhere (true Shannon entropy's
    Σ c·log2(c) term replaced by its power-of-two-granular floor,
    preserving the ordering quality gates threshold on).

    ``strategy`` picks the physical form (bit-identical outputs; the
    r7 100× probe motivated the split):

    - "lambda": one narrow projection of array expressions — zero
      shuffles, but the per-row count-by-filter is O(distinct·length)
      in INTERPRETED HigherOrderFunction evaluation. Wins on small
      inputs where any exchange dominates.
    - "explode": chars explode → (doc, char) hash aggregate (map-side
      combined: each doc lives in one partition, so pre-shuffle rows
      collapse to doc × alphabet) → per-doc aggregate. O(length) work
      per row inside whole-stage codegen; the scale shape (the 100×
      probe measured the lambda form at 65× wall vs this form's
      near-linear cost model).
    - "auto": cost-based on the corpus row count (the same plan-time
      statistic style as the ANN strategy picks).

    Output: (doc_id, n_chars, n_distinct_chars, total_floorbits,
    mean_millifloorbits, is_low_entropy)."""
    # The per-row work is the heaviest map stage in the text family, so
    # a narrow input (the one-row-group fixture reads as a single
    # partition -> one core) serializes it. Spread ONLY when the scan
    # is under-partitioned — at production scale a corpus scan already
    # has thousands of splits and this is a no-op branch.
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    d = docs.filter(F.length("text") > 0)
    if strategy == "auto":
        strategy = (
            "explode" if d.count() >= ENTROPY_EXPLODE_MIN_DOCS else "lambda"
        )
    if strategy == "explode":
        scored = _char_entropy_explode(d)
    else:
        scored = _char_entropy_lambda(d)
    return scored.select(
        "*",
        F.expr("div(1000 * total_floorbits, n_chars)").alias(
            "mean_millifloorbits"
        ),
    ).select(
        "*",
        (F.col("mean_millifloorbits") < LOW_ENTROPY_MILLIBITS).alias(
            "is_low_entropy"
        ),
    )


def _char_entropy_lambda(d: DataFrame) -> DataFrame:
    # split(text, '') is the native codegen char explode (exactly the
    # characters, no empties for non-empty input — pinned by unit test);
    # a transform(sequence(...), i -> substring(...)) HOF builds the
    # same array ~10x slower (interpreted per element, measured at the
    # 100x probe)
    chars = F.split("text", "")
    d = d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        chars.alias("cs"),
    )
    counts = F.expr(
        "transform(array_sort(array_distinct(cs)),"
        " d -> size(filter(cs, c -> c = d)))"
    )
    bitlen_sum = F.expr(
        "aggregate(transform(array_sort(array_distinct(cs)),"
        " d -> size(filter(cs, c -> c = d))),"
        " CAST(0 AS BIGINT),"
        " (acc, c) -> acc + CAST(c AS BIGINT)"
        " * length(conv(CAST(c AS STRING), 10, 2)))"
    )
    bitlen_n = F.length(F.conv(F.col("n_chars").cast("string"), 10, 2)).cast(
        "long"
    )
    return d.select(
        "doc_id",
        "n_chars",
        F.size(counts).cast("long").alias("n_distinct_chars"),
        (F.col("n_chars") * bitlen_n - bitlen_sum).alias("total_floorbits"),
    )


def _char_entropy_explode(d: DataFrame) -> DataFrame:
    bl = lambda c: F.length(F.conv(c.cast("string"), 10, 2)).cast("long")  # noqa: E731
    per_char = (
        d.select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            F.explode(F.split("text", "")).alias("ch"),
        )
        .groupBy("doc_id", "n_chars", "ch")
        .agg(F.count("*").alias("c"))
    )
    return per_char.groupBy("doc_id", "n_chars").agg(
        F.count("*").cast("long").alias("n_distinct_chars"),
        (
            F.first(F.col("n_chars") * bl(F.col("n_chars")))
            - F.sum(F.col("c") * bl(F.col("c")))
        ).alias("total_floorbits"),
    )


def char_entropy_sql(source: str = "documents") -> str:
    """DuckDB twin of :func:`char_entropy` (bin() = Spark conv(_,10,2))."""
    return f"""(
    WITH ce_chars AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
            list_transform(generate_series(1, length(text)),
                           i -> substring(text, i, 1)) AS cs
        FROM {source} WHERE length(text) > 0
    ),
    ce_counts AS (
        SELECT doc_id, n_chars,
            list_transform(list_sort(list_distinct(cs)),
                d -> len(list_filter(cs, c -> c = d))) AS cnts
        FROM ce_chars
    ),
    ce_scored AS (
        SELECT doc_id, n_chars,
            CAST(len(cnts) AS BIGINT) AS n_distinct_chars,
            n_chars * length(bin(n_chars))
                - list_sum(list_transform(cnts,
                      c -> CAST(c AS BIGINT) * length(bin(CAST(c AS BIGINT)))))
                AS total_floorbits
        FROM ce_counts
    )
    SELECT doc_id, n_chars, n_distinct_chars,
        CAST(total_floorbits AS BIGINT) AS total_floorbits,
        (1000 * total_floorbits) // n_chars AS mean_millifloorbits,
        (1000 * total_floorbits) // n_chars < {LOW_ENTROPY_MILLIBITS}
            AS is_low_entropy
    FROM ce_scored
) ce"""


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Label × prediction contingency counts (per-lang aggregation over
    the per-doc language ID)."""
    stats = text_stats(docs)
    return stats.groupBy("lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )


def lang_confusion_sql(source: str = "documents") -> str:
    return f"""(
    SELECT lang, predicted_lang, COUNT(*) AS n_docs
    FROM {text_stats_sql(source)}
    GROUP BY lang, predicted_lang
) s2"""


def bottomk_fingerprints(docs: DataFrame, k: int = FINGERPRINT_K) -> DataFrame:
    """Bottom-k sketch document fingerprint: the k smallest portable
    hashes of the doc's distinct 3-gram shingles (a MinHash-family
    sketch; equal-fingerprint overlap estimates containment). Output is
    exploded (doc_id, fp_rank, fp_hash) — array ordering pitfalls
    avoided."""
    sh = (
        docs.select("doc_id", tokens(F.col("text")).alias("tk"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingles_of_tokens(F.col("tk")))).alias("shingle"),
        )
        .select(
            "doc_id",
            portable_hash32(F.col("shingle"), seed=FINGERPRINT_SEED).alias("fp_hash"),
        )
    )
    distinct_hashes = sh.distinct()
    w = Window.partitionBy("doc_id").orderBy("fp_hash")
    return (
        distinct_hashes.withColumn("fp_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fp_rank") <= k)
        .select("doc_id", "fp_rank", "fp_hash")
    )


def bottomk_fingerprints_sql(source: str = "documents", k: int = FINGERPRINT_K) -> str:
    h = portable_hash32_sql("shingle", seed=FINGERPRINT_SEED)
    return f"""(
    SELECT doc_id, CAST(fp_rank AS BIGINT) AS fp_rank, fp_hash
    FROM (
        SELECT doc_id, fp_hash,
            ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fp_hash) AS fp_rank
        FROM (
            SELECT DISTINCT doc_id, {h} AS fp_hash
            FROM (
                SELECT doc_id, unnest(list_distinct(
                    list_transform(
                        generate_series(1, greatest(len(tk) - 2, 0)),
                        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                )) AS shingle
                FROM (
                    SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
                    FROM {source}
                ) tt
            ) sh
        ) hs
    ) ranked
    WHERE fp_rank <= {k}
) s"""


# ------------------------------------------------------- winnowing (MOSS)

WINNOW_W = 4  # winnowing window over consecutive 3-gram hashes
WINNOW_SEED = 31
# key packing: selected = min(hash · 2^30 + (2^30−1−pos)) — lexicographic
# (hash ASC, pos DESC), i.e. robust winnowing's rightmost-minimum tie
# rule, in ONE integer both engines compare identically. hash < 2^32 and
# pos < 2^30 keep the key under 2^62.
_WINNOW_POS_MOD = 1 << 30
WINNOW_MAX_FP_DF = 40   # MOSS drops boilerplate fingerprints (shared widely)
WINNOW_MIN_SHARED = 5   # report pairs sharing ≥ this many fingerprints


def winnowing_fingerprints(docs: DataFrame, w: int = WINNOW_W) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Kleinberg/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS algorithm): hash every 3-gram position, slide a
    ``w``-hash window, keep each window's minimum hash (ties →
    rightmost occurrence, the paper's "robust winnowing" rule), and
    emit the distinct selected (position, hash) pairs. Guarantees:
    any shared substring of ≥ w+2 tokens yields a shared fingerprint,
    and density is ~2/(w+1) — positional, unlike the bottom-k sketch
    (which keeps globally-smallest hashes and loses locality).

    Plan shape (r10): the sliding min is computed INSIDE the token
    array per document — transform over positions with an array_min
    over each w-slice of a pre-bound key array — so the whole build is
    a ZERO-exchange projection chain (scan → explode of the per-doc
    distinct selections). Winnowing is doc-local by definition: the
    earlier posexplode → hash-partition-by-doc_id → window-min form
    paid a corpus-sized shuffle AND an in-partition sort purely to
    regroup rows the source row already held together. The per-doc
    distinct is array_distinct (sel_key packs doc-local positions, so
    distinctness never crosses documents). O(w) comparisons per
    position replace the window's O(log n) sort share — w is 4, and
    sliding-window extrema never reach Spark's window operator's
    pathologies. Each select binds its array as a real column so the
    next lambda references a bound value (the shingles_of_tokens PERF
    note: expression arguments re-evaluate per lambda element).

    Docs with fewer than w hash positions emit nothing (full windows
    only) — sub-window docs are below the guarantee threshold by
    definition."""
    m = _WINNOW_POS_MOD
    # Key packing is only injective while pos < 2^30 (module constant
    # note above); beyond that the (2^30−1−pos) term goes negative and
    # silently corrupts both fields AND the rightmost-min tie rule. Fail
    # loudly instead (ADVICE r9 — the ivf_cell_assignments degenerate-
    # input discipline): the guard gates the key-array construction, so
    # column pruning can't drop it, and costs one branch per DOCUMENT.
    keys = F.when(
        F.size(F.col("sh")) < m,
        F.transform(
            F.col("sh"),
            lambda s, i: portable_hash32(s, seed=WINNOW_SEED) * m
            + (F.lit(m - 1) - i),
        ),
    ).otherwise(
        F.raise_error(
            F.lit(
                "winnowing key packing requires pos < 2^30 "
                "(document has too many shingle positions)"
            )
        ).cast("array<bigint>")
    )
    # 0-based window-end positions p ∈ [w−1, n−1] → 1-based slice start
    # p−w+2, length w. sequence() counts DOWN for start > stop, so gate
    # short docs to an empty array explicitly (the shingles_of_tokens
    # guard).
    sel = F.array_distinct(
        F.transform(
            F.when(
                F.size(F.col("keys")) >= w,
                F.sequence(F.lit(w - 1), F.size(F.col("keys")) - 1),
            ).otherwise(F.array().cast("array<int>")),
            # least() over w element_at's, not array_min(slice(...)):
            # HOF lambdas run interpreted (no whole-stage codegen), so
            # per-element allocations are the cost that matters — this
            # form reads w scalars with zero per-window array copies.
            lambda p: F.least(
                *[F.element_at(F.col("keys"), p + 1 - j) for j in range(w)]
            ),
        )
    )
    return (
        docs.select("doc_id", tokens(F.col("text")).alias("tk"))
        .select("doc_id", shingles_of_tokens(F.col("tk")).alias("sh"))
        .select("doc_id", keys.alias("keys"))
        .select("doc_id", F.explode(sel).alias("sel_key"))
        .select(
            "doc_id",
            F.expr(f"sel_key div {_WINNOW_POS_MOD}").alias("fp_hash"),
            (
                F.lit(_WINNOW_POS_MOD - 1) - F.col("sel_key") % _WINNOW_POS_MOD
            ).cast("long").alias("fp_pos"),
        )
    )


def winnowing_fingerprints_sql(source: str = "documents", w: int = WINNOW_W) -> str:
    h = portable_hash32_sql("shingle", seed=WINNOW_SEED)
    m = _WINNOW_POS_MOD
    return f"""(
    SELECT doc_id, sel_key // {m} AS fp_hash,
        CAST({m - 1} - (sel_key % {m}) AS BIGINT) AS fp_pos
    FROM (
        SELECT DISTINCT doc_id, sel_key
        FROM (
            SELECT doc_id, pos, MIN(h * {m} + ({m - 1} - pos)) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS sel_key
            FROM (
                SELECT doc_id, i - 1 AS pos, {h} AS h
                FROM (
                    SELECT doc_id, i,
                        tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
                    FROM (
                        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
                        FROM {source}
                    ) tt,
                    unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS u(i)
                ) sh
            ) hashed
        ) sel
        WHERE pos >= {w - 1}
    ) dedup
) s"""


def cached_winnowing_fps(spark, sf_dir: str, w: int = WINNOW_W) -> DataFrame:
    """Session-cached winnowing fingerprint table (doc_id, fp_hash) of
    the duplicate-injected dedup corpus — MOSS materializes the
    fingerprint index once and answers every overlap query from it;
    same build-once/serve-many lifecycle as cached_jaccard_pairs /
    cached_repeated_spans. The fingerprint BUILD stays bench-measured
    via the doc_fingerprints_winnowing query, which bypasses this
    cache."""
    from ..operators.dedup import dedup_corpus
    from ..sources.catalog import get_or_build

    return get_or_build(
        spark, "winnow_fps", sf_dir,
        lambda: winnowing_fingerprints(dedup_corpus(spark, sf_dir), w)
        .select("doc_id", "fp_hash")
        .distinct()
        .localCheckpoint(eager=True),
        w,
    )


def winnowing_pair_index(
    fp: DataFrame,
    max_fp_df: int = WINNOW_MAX_FP_DF,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """The MOSS pair index: (doc_a, doc_b, shared_fps) for document
    pairs sharing ≥ ``min_shared`` winnowing fingerprints, built from a
    (doc_id, fp_hash) fingerprint table.

    Shape (the LSH band-bucket decomposition, minhash_lsh_pairs): ONE
    groupBy(fp_hash) collects each fingerprint's sorted doc list; the
    boilerplate prune is a size() ≤ ``max_fp_df`` filter on that same
    aggregate (MOSS drops widely-shared fingerprints — and it bounds
    in-bucket fan-out at C(max_fp_df, 2), never corpus²); in-bucket
    i<j pairs are emitted array-side as (doc_a, doc_b) structs, then
    one count aggregate. (A packed-int64 pair key
    measured ~0.07 s faster locally but requires doc_id < 2³¹ — the
    100× probe's key-shifted ids already exceed that, so the struct
    key is the scale-correct form.)

    MEASURED AND REJECTED (VERDICT r10 #3, the span-build precedent):
    a count-first bucket prune — groupBy(fp_hash) COUNT, filter to
    [2, max_fp_df], semi-join before the collect_list exchange — read
    16.82 s / 13.8× at the 100× probe vs this single-pass form's
    10.37 s / 9.9× (r10). The probe's token-suffixed replicas keep
    duplication LOW, so the prune's pre-exchange drop only removes
    singleton-bucket rows while adding a second full fp pass whose
    partial-count shuffle is ~|distinct fp_hash| ≈ ~|fp| rows (hashes
    spread across partitions, so map-side combine collapses almost
    nothing). The prune only wins when duplication multiplies bucket
    sizes past max_fp_df — a corpus regime the boilerplate cap already
    makes rare by construction. The single-pass form is the bound: all
    four stage terms (fp exchange, collect_list, C(size,2) pair
    emission, pair-count exchange) scale linearly with corpus size for
    an EXACT pair table; see SCALE.md round-11 for the arithmetic."""
    pair_arr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda a, i: F.transform(
                F.slice(
                    F.col("ds"),
                    i + 2,
                    F.greatest(F.size("ds") - i - 1, F.lit(0)),
                ),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    return (
        fp.groupBy("fp_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_fp_df))
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def cached_winnowing_pairs(spark, sf_dir: str, w: int = WINNOW_W) -> DataFrame:
    """Session-cached MOSS pair index over the dedup corpus — the
    second artifact of the fingerprint family's build/serve split (the
    cached_repeated_spans precedent): the pair-index BUILD stays
    bench-measured via the dedup_winnowing_pair_index registry row,
    which bypasses this cache; the overlap report and the detector
    quality eval serve from it. Bounded by pairs sharing ≥ min_shared
    fingerprints — report-sized, far below corpus²."""
    from ..sources.catalog import get_or_build

    return get_or_build(
        spark, "winnow_pairs", sf_dir,
        lambda: winnowing_pair_index(
            cached_winnowing_fps(spark, sf_dir, w)
        ).localCheckpoint(eager=True),
        w,
    )


def winnowing_overlap_pairs(
    docs: DataFrame | None = None,
    w: int = WINNOW_W,
    max_fp_df: int = WINNOW_MAX_FP_DF,
    min_shared: int = WINNOW_MIN_SHARED,
    fp: DataFrame | None = None,
    pairs: DataFrame | None = None,
    count_hint=None,
) -> DataFrame:
    """MOSS-style overlap report: document pairs sharing ≥
    ``min_shared`` winnowing fingerprints, with per-side fingerprint
    counts and the containment-style overlap permille
    (1000·shared ÷ min(|A|,|B|), exact integer division).

    Fingerprints occurring in more than ``max_fp_df`` documents are
    dropped before pairing — the paper's boilerplate suppression, and
    the same candidate-blowup control as doc_shingles' df prune: the
    self-join fans out per fingerprint bucket, never corpus². The df
    annotation rides the SAME hash-partition-by-fp_hash exchange the
    self-join needs (one exchange, the doc_shingles trick).

    The fingerprint set and the pair index are both session artifacts
    (pass ``fp`` = ``cached_winnowing_fps`` and ``pairs`` =
    ``cached_winnowing_pairs`` to reuse them — the substring family's
    build/serve split): the report itself is then two |docs|-sized
    count-joins (broadcast below the caller's ``count_hint`` threshold)
    plus a projection. With only ``fp``, the pair
    index is built inline via :func:`winnowing_pair_index`."""
    if fp is None:
        if docs is None:
            raise ValueError("winnowing_overlap_pairs needs docs or fp")
        fp = (
            winnowing_fingerprints(docs, w)
            .select("doc_id", "fp_hash")
            .distinct()
            .localCheckpoint()
        )
    if pairs is None:
        pairs = winnowing_pair_index(fp, max_fp_df, min_shared)
    elif (max_fp_df, min_shared) != (WINNOW_MAX_FP_DF, WINNOW_MIN_SHARED):
        # a prebuilt pair table bakes in ITS build parameters — silently
        # ignoring different ones here would return pairs below the
        # requested threshold (review r10; fail loudly instead)
        raise ValueError(
            "winnowing_overlap_pairs: max_fp_df/min_shared are fixed by "
            "the prebuilt `pairs` table — rebuild the index with the "
            "desired parameters instead of passing overrides here"
        )
    # Cost-based hint on the per-doc count joins (ADVICE r10 — the
    # winnowing_incremental_overlap / tfidf _query_side_hint
    # discipline): ca/cb are |docs|-sized, so an UNCONDITIONAL
    # broadcast violates the operator's scale contract at large corpus
    # sizes. Callers pass the corpus-statistic-backed hint; default is
    # identity (AQE decides — the pairs side is report-bounded, so AQE
    # broadcasts IT when genuinely small).
    hint = count_hint if count_hint is not None else (lambda df: df)
    counts = fp.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    ca, cb = counts.alias("ca"), counts.alias("cb")
    return (
        pairs.join(hint(ca), F.col("doc_a") == F.col("ca.doc_id"))
        .join(hint(cb), F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            F.col("ca.n_fp").alias("fps_a"),
            F.col("cb.n_fp").alias("fps_b"),
            F.expr(
                "div(1000 * shared_fps, least(ca.n_fp, cb.n_fp))"
            ).alias("overlap_permille"),
        )
    )


def winnowing_pair_index_sql(
    source: str = "documents",
    w: int = WINNOW_W,
    max_fp_df: int = WINNOW_MAX_FP_DF,
    min_shared: int = WINNOW_MIN_SHARED,
) -> str:
    return f"""(
    WITH wpi_fp AS (
        SELECT DISTINCT doc_id, fp_hash
        FROM {winnowing_fingerprints_sql(source, w)}
    ),
    wpi_df AS (
        SELECT doc_id, fp_hash FROM (
            SELECT doc_id, fp_hash,
                COUNT(*) OVER (PARTITION BY fp_hash) AS df
            FROM wpi_fp
        ) x WHERE df <= {max_fp_df}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
    FROM wpi_df a JOIN wpi_df b
      ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {min_shared}
) s"""


# Incremental (delta-crawl) winnowing: the split and verdict constants.
WINNOW_INC_MOD = 3          # doc_id % 3 == 0 → this crawl's increment
WINNOW_DUP_PERMILLE = 500   # ≥ half the smaller side's fps → duplicate


def winnowing_incremental_overlap(
    fp: DataFrame,
    inc_mod: int = WINNOW_INC_MOD,
    max_fp_df: int = WINNOW_MAX_FP_DF,
    min_shared: int = WINNOW_MIN_SHARED,
    dup_permille: int = WINNOW_DUP_PERMILLE,
    count_hint=None,
) -> DataFrame:
    """Delta-crawl winnowing overlap: probe THIS INCREMENT's documents
    (doc_id % inc_mod == 0) against the FROZEN history fingerprint
    index (every other doc) — the operator a crawl pipeline runs daily
    instead of re-fingerprint-pairing the whole corpus
    (the dedup_incremental_delta / streaming_novelty_curve precedent:
    increment×history joins, never self-joins).

    Per increment document (one row per doc holding ≥1 fingerprint):
    n_fp, n_hist_matches (history docs sharing ≥ ``min_shared``
    fingerprints), best_shared (the strongest match's shared count),
    best_overlap_permille (max over matches of 1000·shared ÷
    min(|inc|, |hist|), exact integer), and verdict ∈
    {'dup', 'novel'} at the ``dup_permille`` cut.

    Scale shape: history's fingerprint table is the frozen artifact
    (cached_winnowing_fps here; a written index refreshed per snapshot
    at 100 TB) with its boilerplate prune (df ≤ ``max_fp_df``) applied
    INDEX-SIDE as a count window riding the same fp_hash exchange the
    probe join needs; the increment side joins into that partitioning,
    so per-crawl cost is increment-proportional fan-out over bounded
    buckets — never |history|² and never a self-join."""
    inc = fp.filter(F.col("doc_id") % inc_mod == 0)
    hist = fp.filter(F.col("doc_id") % inc_mod != 0)
    hist_pruned = (
        hist.withColumn(
            "df", F.count("*").over(Window.partitionBy("fp_hash"))
        )
        .filter(F.col("df") <= max_fp_df)
        .select(F.col("doc_id").alias("hist_id"), "fp_hash")
    )
    inc_counts = inc.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    hist_counts = hist.groupBy("doc_id").agg(
        F.count("*").alias("n_fp_h")
    ).withColumnRenamed("doc_id", "hist_id")
    # Cost-based broadcast hint on the count joins (review r10, the
    # tfidf _query_side_hint discipline): hist_counts is |history|-doc-
    # sized and inc_counts |increment|-sized — an UNCONDITIONAL
    # broadcast contradicts this operator's scale contract, but below
    # the doc-count threshold the hint saves two shuffle stages
    # (measured 0.46 → 0.82 s at sf0.1 without it). Callers pass the
    # corpus-statistic-backed hint; default is no hint (AQE decides —
    # the matches side is report-bounded, so AQE broadcasts IT when
    # genuinely small).
    hint = count_hint if count_hint is not None else (lambda df: df)
    best = (
        inc.join(hist_pruned, "fp_hash")
        .groupBy("doc_id", "hist_id")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
        .join(hint(hist_counts), "hist_id")
        .join(hint(inc_counts), "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hist_matches"),
            F.max("shared_fps").alias("best_shared"),
            F.max(
                F.expr("div(1000 * shared_fps, least(n_fp, n_fp_h))")
            ).alias("best_overlap_permille"),
        )
    )
    return (
        inc_counts.join(hint(best), "doc_id", "left")
        .select(
            "doc_id",
            "n_fp",
            F.coalesce("n_hist_matches", F.lit(0)).alias("n_hist_matches"),
            F.coalesce("best_shared", F.lit(0)).alias("best_shared"),
            F.coalesce("best_overlap_permille", F.lit(0)).alias(
                "best_overlap_permille"
            ),
            F.when(
                F.coalesce("best_overlap_permille", F.lit(0)) >= dup_permille,
                F.lit("dup"),
            )
            .otherwise(F.lit("novel"))
            .alias("verdict"),
        )
    )


def winnowing_incremental_overlap_sql(
    source: str = "documents",
    w: int = WINNOW_W,
    inc_mod: int = WINNOW_INC_MOD,
    max_fp_df: int = WINNOW_MAX_FP_DF,
    min_shared: int = WINNOW_MIN_SHARED,
    dup_permille: int = WINNOW_DUP_PERMILLE,
) -> str:
    return f"""(
    WITH wi_fp AS (
        SELECT DISTINCT doc_id, fp_hash
        FROM {winnowing_fingerprints_sql(source, w)}
    ),
    wi_inc AS (SELECT * FROM wi_fp WHERE doc_id % {inc_mod} = 0),
    wi_hist AS (SELECT * FROM wi_fp WHERE doc_id % {inc_mod} != 0),
    wi_hist_pruned AS (
        SELECT doc_id AS hist_id, fp_hash FROM (
            SELECT doc_id, fp_hash,
                COUNT(*) OVER (PARTITION BY fp_hash) AS df
            FROM wi_hist
        ) x WHERE df <= {max_fp_df}
    ),
    wi_inc_counts AS (
        SELECT doc_id, COUNT(*) AS n_fp FROM wi_inc GROUP BY doc_id
    ),
    wi_hist_counts AS (
        SELECT doc_id, COUNT(*) AS n_fp_h FROM wi_hist GROUP BY doc_id
    ),
    wi_matches AS (
        SELECT i.doc_id, p.hist_id, COUNT(*) AS shared_fps
        FROM wi_inc i JOIN wi_hist_pruned p ON i.fp_hash = p.fp_hash
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_shared}
    ),
    wi_best AS (
        SELECT m.doc_id,
            COUNT(*) AS n_hist_matches,
            MAX(m.shared_fps) AS best_shared,
            MAX((1000 * m.shared_fps)
                // LEAST(ic.n_fp, hc.n_fp_h)) AS best_overlap_permille
        FROM wi_matches m
        JOIN wi_inc_counts ic ON m.doc_id = ic.doc_id
        JOIN wi_hist_counts hc ON m.hist_id = hc.doc_id
        GROUP BY m.doc_id
    )
    SELECT ic.doc_id, ic.n_fp,
        COALESCE(b.n_hist_matches, 0) AS n_hist_matches,
        COALESCE(b.best_shared, 0) AS best_shared,
        COALESCE(b.best_overlap_permille, 0) AS best_overlap_permille,
        CASE WHEN COALESCE(b.best_overlap_permille, 0) >= {dup_permille}
             THEN 'dup' ELSE 'novel' END AS verdict
    FROM wi_inc_counts ic
    LEFT JOIN wi_best b ON ic.doc_id = b.doc_id
) s"""


def winnowing_overlap_pairs_sql(
    source: str = "documents",
    w: int = WINNOW_W,
    max_fp_df: int = WINNOW_MAX_FP_DF,
    min_shared: int = WINNOW_MIN_SHARED,
) -> str:
    return f"""(
    WITH wfp AS (
        SELECT DISTINCT doc_id, fp_hash
        FROM {winnowing_fingerprints_sql(source, w)}
    ),
    wdf AS (
        SELECT doc_id, fp_hash FROM (
            SELECT doc_id, fp_hash,
                COUNT(*) OVER (PARTITION BY fp_hash) AS df
            FROM wfp
        ) x WHERE df <= {max_fp_df}
    ),
    wcnt AS (
        SELECT doc_id, COUNT(*) AS n_fp FROM wfp GROUP BY doc_id
    ),
    wpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
        FROM wdf a JOIN wdf b
          ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_shared}
    )
    SELECT doc_a, doc_b, shared_fps,
        ca.n_fp AS fps_a, cb.n_fp AS fps_b,
        (1000 * shared_fps) // LEAST(ca.n_fp, cb.n_fp) AS overlap_permille
    FROM wpairs
    JOIN wcnt ca ON doc_a = ca.doc_id
    JOIN wcnt cb ON doc_b = cb.doc_id
) s"""


# ------------------------------------------------------------ PII redaction

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


def redact_pii(docs: DataFrame) -> DataFrame:
    """Email/phone redaction — the scrub pass every LLM training corpus
    runs before tokenization. Pure native regexp ops (count then
    replace), one projection, no shuffle; patterns are RE2-safe so the
    DuckDB oracle applies the identical regexes. Returns per-doc
    redaction counts + the md5 of the redacted text (proving the
    replacement itself, not just the counts, matches)."""
    t = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


def redact_pii_sql(relation: str = "pii_docs") -> str:
    return f"""(
    SELECT doc_id,
        CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT)
            AS n_emails,
        CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT)
            AS n_phones,
        md5(regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                           '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_hash
    FROM {relation}
) s"""


# --------------------------------------------- dictionary keyword tagging

# Frozen single-token dictionary (term -> topic category) so the oracle
# can inline it as a VALUES list. Single-token terms make FlashText /
# Aho-Corasick dictionary tagging collapse to a token equi-join — the
# Spark-native shape; multi-token phrases would join on shingles the
# same way (functions/text.py shingles_of_tokens).
KEYWORD_DICT = {
    "storage": ["scan", "table", "row", "column", "part"],
    "compute": ["join", "hash", "agg", "sort", "merge", "filter", "group"],
    "streaming": ["stream", "batch", "window"],
    "tuning": ["slow", "fast", "small", "big"],
}


def keyword_tagging(docs: DataFrame) -> DataFrame:
    """Dictionary-based topic tagging (the FlashText-style keyword pass
    a training-data pipeline uses for domain labeling / filtering):
    every corpus token is matched against a broadcast (term, category)
    dictionary, then rolled up to per-(lang, category) coverage.

    Plan shape / scale contract: the dictionary is O(terms) and
    BROADCAST — the 100 TB corpus side never shuffles for the match
    (explode is map-side, the join is BroadcastHashJoin). Both
    aggregations carry partial map-side combine, so shuffle rows cap at
    docs x categories (first agg) then langs x categories (second) —
    never at token granularity. Coverage ratio is integer permille
    (1000·tagged div lang_docs), keeping cross-engine parity exact.

    Output per (lang, category): (lang, category, tagged_docs,
    total_hits, tagged_permille)."""
    spark = docs.sparkSession
    dim = local_table(
        spark,
        [(t, c) for c, ts in sorted(KEYWORD_DICT.items()) for t in ts],
        "term string, category string",
    )
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    per_doc = (
        toks.join(F.broadcast(dim), "term")
        .groupBy("doc_id", "lang", "category")
        .agg(F.count("*").alias("hits"))
    )
    lang_docs = docs.groupBy("lang").agg(F.count("*").alias("lang_docs"))
    return (
        per_doc.groupBy("lang", "category")
        .agg(
            F.count("*").alias("tagged_docs"),
            F.sum("hits").alias("total_hits"),
        )
        .join(F.broadcast(lang_docs), "lang")
        .withColumn(
            "tagged_permille", F.expr("(tagged_docs * 1000) div lang_docs")
        )
        .select("lang", "category", "tagged_docs", "total_hits", "tagged_permille")
        .orderBy("lang", "category")
    )


def keyword_tagging_sql(source: str = "documents") -> str:
    """DuckDB twin of :func:`keyword_tagging` (same frozen dictionary)."""
    values = ", ".join(
        f"('{t}', '{c}')" for c, ts in sorted(KEYWORD_DICT.items()) for t in ts
    )
    return f"""(
    WITH kw_dict AS (SELECT * FROM (VALUES {values}) d(term, category)),
    kw_toks AS (
        SELECT doc_id, lang,
            unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
        FROM {source}
    ),
    kw_doc AS (
        SELECT doc_id, lang, category, COUNT(*) AS hits
        FROM kw_toks JOIN kw_dict USING (term)
        GROUP BY 1, 2, 3
    ),
    kw_lang AS (SELECT lang, COUNT(*) AS lang_docs FROM {source} GROUP BY 1)
    SELECT d.lang, d.category, COUNT(*) AS tagged_docs,
        SUM(d.hits) AS total_hits,
        (COUNT(*) * 1000) // l.lang_docs AS tagged_permille
    FROM kw_doc d JOIN kw_lang l USING (lang)
    GROUP BY d.lang, d.category, l.lang_docs
    ORDER BY 1, 2
) kw"""


# ------------------------------------------- unigram LM surprisal bits

def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """Corpus-LM quality scoring — the libm-free analog of the KenLM
    perplexity filters production corpora use: each token's surprisal
    under the corpus's own unigram model, in floor-log2 bits
    (floor(log2 N) - floor(log2 tc), both exact via binary bit length),
    rolled up per language. High mean surprisal = rare-token-heavy
    text (OCR noise, boilerplate soup); low = stopword soup. Exact
    log2 would need libm (ln) — cross-engine risk the integer HLL/DSIR
    entries also avoid — and floor-bits preserves the decision
    ordering at the power-of-two granularity quality gates bin by
    anyway.

    Plan shape (the TF-IDF single-exchange trick): tokens aggregate
    ONCE by (term, lang) with map-side combine — the only data-sized
    shuffle, bounded by vocab x langs; the global vocabulary and the
    grand total re-aggregate FROM that table, so the corpus never
    shuffles twice and the vocabulary is never broadcast (heavy-tailed
    vocabularies don't fit an executor at 100 TB; the join key is the
    partitioning both sides already share).

    Output per lang: (lang, n_docs, n_tokens, total_bits,
    mean_centibits)."""
    from ..functions.stats import bit_length_col as bitlen

    tl = (
        docs.select("lang", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term", "lang")
        .agg(F.count("*").alias("k"))
    )
    vocab = tl.groupBy("term").agg(F.sum("k").alias("tc"))
    total = vocab.agg(F.sum("tc").alias("n_total"))
    scored = (
        tl.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "k",
            ((bitlen(F.col("n_total")) - bitlen(F.col("tc"))) * F.col("k")).alias(
                "bits"
            ),
        )
        .groupBy("lang")
        .agg(
            F.sum("k").alias("n_tokens"),
            F.sum("bits").alias("total_bits"),
        )
    )
    n_docs = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    return (
        scored.join(F.broadcast(n_docs), "lang")
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "total_bits",
            F.expr("(total_bits * 100) div n_tokens").alias("mean_centibits"),
        )
        .orderBy("lang")
    )


def unigram_surprisal_sql(source: str = "documents") -> str:
    """DuckDB twin of :func:`unigram_surprisal`."""
    return f"""(
    WITH us_tl AS (
        SELECT term, lang, COUNT(*) AS k FROM (
            SELECT lang,
                unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
            FROM {source}
        ) GROUP BY 1, 2
    ),
    us_vocab AS (SELECT term, SUM(k) AS tc FROM us_tl GROUP BY 1),
    us_total AS (SELECT SUM(tc) AS n_total FROM us_vocab),
    us_scored AS (
        SELECT t.lang, SUM(t.k) AS n_tokens,
            SUM((length(bin((SELECT n_total FROM us_total)))
                 - length(bin(v.tc))) * t.k) AS total_bits
        FROM us_tl t JOIN us_vocab v USING (term)
        GROUP BY 1
    ),
    us_docs AS (SELECT lang, COUNT(*) AS n_docs FROM {source} GROUP BY 1)
    SELECT s.lang, d.n_docs, s.n_tokens, s.total_bits,
        (s.total_bits * 100) // s.n_tokens AS mean_centibits
    FROM us_scored s JOIN us_docs d USING (lang)
    ORDER BY s.lang
) us"""


def bigram_surprisal_per_doc(docs: DataFrame) -> DataFrame:
    """Per-DOCUMENT bigram-LM quality score — the CCNet-style
    perplexity gate (Wenzek et al. 2020 filter corpora by per-doc LM
    perplexity; the per-lang unigram_surprisal above is the corpus
    diagnostic, this is the per-doc FILTER signal): each bigram's
    conditional surprisal under the corpus's own bigram model, in
    floor-log2 bits — bitlen(c(w1·)) − bitlen(c(w1 w2)), both exact
    via binary bit length (the libm-free discipline; c(w1·) counts w1
    as a bigram CONTEXT, so p = c2/c1 ≤ 1 and bits ≥ 0). High mean =
    incoherent token soup; low = repetitive boilerplate.

    Plan shape: the exploded bigram rows are PERSISTED (they feed both
    the model build and the scoring pass — unpersisted, Spark
    re-evaluates the explode per consumer; and the token array is
    bound as a real column first per the shingles_of_tokens PERF note,
    which alone was a measured 7.1 s → 1.7 s at sf0.1). The bigram
    model (c2) is ONE map-side-combined groupBy(bg); the context
    counts (c1) are a window over c2 partitioned by the context token
    — vocab-sized, never a corpus exchange, no c2-side self-join —
    and the per-(bigram) bits table BROADCASTS onto the raw bigram
    stream (bigram-vocab-sized; at 100 TB vocabulary a broadcast no
    longer fits and this flips to a bucketed shuffle join on the
    model table — the tfidf postings posture). Scoring itself is then
    a zero-shuffle map + one per-doc aggregate. Docs with < 2 tokens
    have no bigrams and emit nothing (below any LM gate's scope).
    Output: (doc_id, lang, n_bigrams, total_bits, mean_centibits)."""
    # STRUCT bigram keys, not concat_ws strings (optimization r11):
    # the (w1, w2) struct groups/joins identically to the "w1 w2"
    # string (tokens are whitespace-split, so the space separator was
    # injective) but skips a per-bigram string allocation on the
    # corpus-sized explode and lets the context window read bg.w1
    # without re-splitting — A/B measured 0.955 → 0.814 s min-of-3 at
    # sf0.1, hash-identical output. The streamed model-partials twin
    # keeps string keys (its sink schema); bigram_bits_from_counts
    # serves both via the dtype branch.
    tk = F.col("tk")
    idx = F.when(
        F.size(tk) >= 2, F.sequence(F.lit(1), F.size(tk) - 1)
    ).otherwise(F.array().cast("array<int>"))
    bg_rows = (
        docs.select("doc_id", "lang", tokens(F.col("text")).alias("tk"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at(tk, i).alias("w1"),
                        F.element_at(tk, i + 1).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        .persist()
    )
    c2 = bg_rows.groupBy("bg").agg(F.count("*").alias("c2"))
    bits = bigram_bits_from_counts(c2).select("bg", "bits")
    # Broadcast only the NONZERO bits rows (bits = 0 ⇔ bitlen(c1) ==
    # bitlen(c2), which covers every singleton bigram with a
    # near-singleton context — the bulk of a heavy-tailed vocabulary)
    # and LEFT-join with coalesce: same totals, a several-× smaller
    # broadcast build.
    return (
        bg_rows.join(F.broadcast(bits.filter(F.col("bits") > 0)), "bg", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.coalesce(F.col("bits"), F.lit(0))).alias("total_bits"),
        )
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "total_bits",
            F.expr("div(100 * total_bits, n_bigrams)").alias("mean_centibits"),
        )
    )


def bigram_bits_from_counts(c2: DataFrame) -> DataFrame:
    """(bg, c2, bits) from a merged (bg, c2) bigram-count model: the
    conditional floor-log2 bits derivation — context counts are a
    window over the VOCAB-sized model keyed by the context token,
    never a corpus exchange. Shared by the batch gate above and its
    streamed-partials twin (plans/streaming_specs), so the two can
    never diverge on the bit scheme (review r10). The bg key may be a
    "w1 w2" string (the streamed sink schema, the refresh artifacts)
    or a (w1, w2) struct (the batch gate's allocation-free form,
    optimization r11) — the context extractor branches on dtype, the
    bit arithmetic is one definition either way."""
    from ..functions.stats import bit_length_col

    bg_type = dict(c2.dtypes)["bg"]
    w1win = Window.partitionBy(
        F.col("bg.w1")
        if bg_type.startswith("struct")
        else F.split(F.col("bg"), " ").getItem(0)
    )
    return c2.select(
        "bg",
        "c2",
        (
            bit_length_col(F.sum("c2").over(w1win)) - bit_length_col(F.col("c2"))
        ).alias("bits"),
    )


def bigram_surprisal_per_doc_sql(source: str = "documents") -> str:
    """DuckDB twin of :func:`bigram_surprisal_per_doc`."""
    return f"""(
    WITH bs_doc_bg AS (
        SELECT doc_id, lang, bg, COUNT(*) AS k FROM (
            SELECT doc_id, lang,
                unnest(list_transform(
                    generate_series(1, greatest(len(tk) - 1, 0)),
                    i -> tk[i] || ' ' || tk[i+1])) AS bg
            FROM (
                SELECT doc_id, lang,
                    regexp_split_to_array(lower(text), '\\s+') AS tk
                FROM {source}
            ) t
        ) GROUP BY 1, 2, 3
    ),
    bs_c2 AS (SELECT bg, SUM(k) AS c2 FROM bs_doc_bg GROUP BY 1),
    bs_c1 AS (
        SELECT string_split(bg, ' ')[1] AS w1, SUM(c2) AS c1
        FROM bs_c2 GROUP BY 1
    ),
    bs_bits AS (
        SELECT c2.bg,
            length(bin(c1.c1)) - length(bin(c2.c2)) AS bits
        FROM bs_c2 c2
        JOIN bs_c1 c1 ON string_split(c2.bg, ' ')[1] = c1.w1
    )
    SELECT d.doc_id, d.lang,
        SUM(d.k) AS n_bigrams,
        SUM(b.bits * d.k) AS total_bits,
        (100 * SUM(b.bits * d.k)) // SUM(d.k) AS mean_centibits
    FROM bs_doc_bg d JOIN bs_bits b USING (bg)
    GROUP BY 1, 2
) bs"""


# ------------------------- add-one-smoothed trigram LM (VERDICT r10 #5)

def trigram_surprisal_per_doc(
    docs: DataFrame, model_docs: DataFrame
) -> DataFrame:
    """Per-document surprisal under an ADD-ONE-SMOOTHED trigram model —
    the smoothed-LM upgrade of :func:`bigram_surprisal_per_doc`
    (VERDICT r10 #5). CCNet's quality gate (Wenzek et al. 2020) scores
    NEW text under a smoothed reference n-gram LM; the raw-count bigram
    form can only score text against a model that contains every one of
    its n-grams (self-scoring) or exclude OOV n-grams from the mean
    (the refresh gate's ``n_oov`` story). Smoothing closes that gap:
    EVERY trigram of the scored side gets a finite surprisal, unseen
    ones included, so the mean is over all of them.

    Exact-integer smoothing (the floor-log2 discipline, so the DuckDB
    twin is bit-exact — the reason add-one is chosen over Kneser-Ney /
    absolute discounting, whose fractional discounts would ride floats):

        p(w3 | w1 w2) = (c3 + 1) / (c12 + V)
        bits          = bitlen(c12 + V) − bitlen(c3 + 1)

    with c3 the model's trigram count, c12 = Σ c3 over the context
    (w1 w2), and V the model's distinct-unigram vocabulary size. The
    three cases collapse into ONE expression via coalesce: seen trigram
    (c3, c12 from the model), unseen trigram in a seen context (c3→0),
    unseen context (c3→0, c12→0 — p = 1/V, the uniform prior). bits ≥ 0
    always, since c12 + V ≥ c3 + 1.

    Plan shape: the trigram model (c3) is one map-side-combined
    groupBy over the MODEL side; context totals are a second
    vocab-sized aggregate of c3 (never a corpus exchange); V is a
    1-row aggregate cross-joined broadcast (the anomaly-pipeline J1
    pattern). Scoring joins the two vocab-bounded model tables onto the
    scored side's trigram stream — broadcast locally; at a 100 TB
    vocabulary both flip to bucketed shuffle joins on the model tables
    (the tfidf postings posture) — then one per-doc aggregate. Docs
    with < 3 tokens emit nothing (no trigram is in any LM gate's
    scope). Output: (doc_id, n_trigrams, n_unseen, total_bits,
    mean_centibits)."""
    from ..functions.stats import bit_length_col

    # NOT persisted, measured (review r11): md_tok feeds two
    # aggregates (trigram counts + vocab size), but caching the fat
    # token arrays measured 0.84 → 1.16 s min-of-3 at sf0.1 —
    # re-tokenizing from the columnar scan is cheaper than
    # materializing arrays, the OPPOSITE of the
    # bigram_surprisal_per_doc case (whose persisted frame feeds the
    # corpus-sized SCORING join, not two small aggregates).
    # STRUCT trigram keys (optimization r11, the bigram gate's
    # allocation-free form): (w1, w2, w3) structs group/join exactly
    # like the "w1 w2 w3" concat string (whitespace-split tokens make
    # the separator injective) but skip a per-trigram string build on
    # both explodes, and the context key is a sub-struct read — no
    # split/slice/array_join re-parse per scored row. Interleaved A/B
    # (6 runs each, one session) measured median 1.173 → 1.056 s /
    # min 1.024 → 0.964 s at sf0.1, hash-identical output. The
    # streamed model-partials twin keeps string keys (its sink schema);
    # its trigram_bits_from_counts path is unchanged.
    tk = F.col("tk")

    def tri_structs(col):
        idx = F.when(
            F.size(col) >= 3, F.sequence(F.lit(1), F.size(col) - 2)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(col, i).alias("w1"),
                F.element_at(col, i + 1).alias("w2"),
                F.element_at(col, i + 2).alias("w3"),
            ),
        )

    md_tok = model_docs.select(tokens(F.col("text")).alias("tk"))
    c3 = (
        md_tok.select(F.explode(tri_structs(tk)).alias("tg"))
        .groupBy("tg")
        .agg(F.count("*").alias("c3"))
    )
    ctx_of = lambda c: F.struct(  # noqa: E731
        c.getField("w1").alias("w1"), c.getField("w2").alias("w2")
    )
    ctx = c3.groupBy(ctx_of(F.col("tg")).alias("ctx")).agg(
        F.sum("c3").alias("c12")
    )
    vsz = md_tok.select(F.explode("tk").alias("w")).agg(
        F.count_distinct("w").alias("v")
    )
    sc = docs.select("doc_id", tokens(F.col("text")).alias("tk")).select(
        "doc_id", F.explode(tri_structs(tk)).alias("tg")
    )
    return (
        sc.join(F.broadcast(c3), "tg", "left")
        .join(
            F.broadcast(ctx), ctx_of(F.col("tg")) == F.col("ctx"), "left"
        )
        .crossJoin(F.broadcast(vsz))
        .select(
            "doc_id",
            F.col("c3").isNull().cast("long").alias("unseen"),
            (
                bit_length_col(F.coalesce("c12", F.lit(0)) + F.col("v"))
                - bit_length_col(F.coalesce("c3", F.lit(0)) + F.lit(1))
            ).alias("bits"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.sum("unseen").alias("n_unseen"),
            F.sum("bits").alias("total_bits"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_unseen",
            "total_bits",
            F.expr("div(100 * total_bits, n_trigrams)").alias(
                "mean_centibits"
            ),
        )
    )


def trigram_bits_from_counts(c3: DataFrame, vsz: DataFrame) -> DataFrame:
    """(tg, c3, bits) from a merged (tg, c3) trigram-count model plus a
    1-row vocab-size frame: the add-one-smoothed conditional bits of
    the model's own trigrams — bitlen(c12 + V) − bitlen(c3 + 1), with
    c12 a window over the VOCAB-sized model keyed by the (w1 w2)
    context (the bigram_bits_from_counts discipline). Shared by the
    streamed model-partials digest; the batch gate
    (:func:`trigram_surprisal_per_doc`) uses the equivalent
    groupBy-join form because its scored side also needs contexts for
    UNSEEN trigrams — both forms apply the same formula, and the
    oracles pin the equivalence."""
    from ..functions.stats import bit_length_col

    ctx_w = Window.partitionBy(
        F.array_join(F.slice(F.split(F.col("tg"), " "), 1, 2), " ")
    )
    return (
        c3.withColumn("c12", F.sum("c3").over(ctx_w))
        .crossJoin(F.broadcast(vsz))
        .select(
            "tg",
            "c3",
            (
                bit_length_col(F.col("c12") + F.col("v"))
                - bit_length_col(F.col("c3") + F.lit(1))
            ).alias("bits"),
        )
    )


def trigram_surprisal_sql(
    source: str = "documents", inc_mod: int = WINNOW_INC_MOD
) -> str:
    """DuckDB twin of :func:`trigram_surprisal_per_doc` with the
    standard increment/history split: score ``doc_id % inc_mod == 0``
    under the model built from the rest."""
    tg_expr = (
        "unnest(list_transform("
        "generate_series(1, greatest(len(tk) - 2, 0)),"
        " i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tg"
    )
    ctx_expr = "array_to_string(list_slice(string_split({0}, ' '), 1, 2), ' ')"
    return f"""(
    WITH ts_md AS (
        SELECT regexp_split_to_array(lower(text), '\\s+') AS tk
        FROM {source} WHERE doc_id % {inc_mod} != 0
    ),
    ts_c3 AS (
        SELECT tg, COUNT(*) AS c3
        FROM (SELECT {tg_expr} FROM ts_md) GROUP BY 1
    ),
    ts_ctx AS (
        SELECT {ctx_expr.format("tg")} AS ctx, SUM(c3) AS c12
        FROM ts_c3 GROUP BY 1
    ),
    ts_v AS (
        SELECT COUNT(DISTINCT w) AS v
        FROM (SELECT unnest(tk) AS w FROM ts_md)
    ),
    ts_sc AS (
        SELECT doc_id, {tg_expr} FROM (
            SELECT doc_id,
                regexp_split_to_array(lower(text), '\\s+') AS tk
            FROM {source} WHERE doc_id % {inc_mod} = 0
        ) t
    ),
    ts_scored AS (
        SELECT s.doc_id,
            CASE WHEN m.tg IS NULL THEN 1 ELSE 0 END AS unseen,
            length(bin(COALESCE(x.c12, 0) + v.v))
                - length(bin(COALESCE(m.c3, 0) + 1)) AS bits
        FROM ts_sc s
        LEFT JOIN ts_c3 m USING (tg)
        LEFT JOIN ts_ctx x ON {ctx_expr.format("s.tg")} = x.ctx
        CROSS JOIN ts_v v
    )
    SELECT doc_id,
        COUNT(*) AS n_trigrams,
        SUM(unseen) AS n_unseen,
        SUM(bits) AS total_bits,
        (100 * SUM(bits)) // COUNT(*) AS mean_centibits
    FROM ts_scored GROUP BY 1
) ts"""


# --------------------------------------------------- corpus data card

def datacard_rollup(docs: DataFrame) -> DataFrame:
    """Data-card rollup — the per-(source, lang) composition table every
    corpus release ships (what fraction of tokens came from which
    source, in which language), with subtotals and a grand total from
    ONE pass via ROLLUP. GROUPING_ID disambiguates subtotal NULLs from
    NULL data.

    Scale shape: a single hash aggregate with map-side combine; the
    Expand for the three grouping levels multiplies rows 3x BEFORE the
    exchange but the combine collapses them to |sources x langs| + |
    sources| + 1 — the exchange carries group rows, not data rows."""
    base = docs.select(
        "source",
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("nc"),
    )
    return (
        base.rollup("source", "lang")
        .agg(
            F.grouping_id().alias("grouping_level"),
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("nc").alias("sum_chars"),
            F.expr("div(sum(n_tokens), count(*))").alias("mean_tokens"),
        )
        .orderBy("grouping_level", "source", "lang")
    )


def datacard_rollup_sql(source: str = "documents") -> str:
    return f"""(
    SELECT source, lang,
        GROUPING(source) * 2 + GROUPING(lang) AS grouping_level,
        COUNT(*) AS n_docs,
        SUM(CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT))
            AS sum_tokens,
        SUM(n_chars) AS sum_chars,
        SUM(CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT))
            // COUNT(*) AS mean_tokens
    FROM {source}
    GROUP BY ROLLUP (source, lang)
    ORDER BY grouping_level, source, lang
) dc"""


# -------------------------------------- source-vs-corpus TVD divergence

def vocab_divergence_tvd(docs: DataFrame) -> DataFrame:
    """Per-source unigram-distribution shift vs the whole corpus as
    total-variation distance — the libm-free mixture-shift monitor
    (KL/JS need logs; TVD = half the L1 gap between the distributions
    is exact in integer cross-multiplication, so it hash-matches the
    oracle bit for bit).

    For source s with per-term counts k (total n_s) against corpus
    term counts tc (total N):

        TVD = [ sum_present |k*N - tc*n_s| + n_s*(N - sum_present tc) ]
              / (2 * n_s * N)

    The second term folds every term ABSENT from s (k=0) without
    materializing the absent pairs — the per-source join only touches
    terms the source actually contains.

    Scale shape: same single-exchange postings trick as
    unigram_surprisal — tokens aggregate once by (term, source); the
    corpus vocabulary re-aggregates FROM that table; nothing re-reads
    or re-shuffles the corpus. Fixture-scale note: the integer
    cross-products bound |k*N| <= n_s*N < 2^62 up to ~2^31 tokens per
    side; at 100 TB normalize per-term to millionths first (one extra
    div) before summing — same formula, hierarchical precision."""
    tl = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term", "source")
        .agg(F.count("*").alias("k"))
    )
    return tvd_from_counts(tl)


def tvd_from_counts(tl: DataFrame) -> DataFrame:
    """TVD report from a (term, source, k) counts table. Split out so
    the STREAMING path can maintain the counts incrementally (per-batch
    additive partials merged by sum — counts are the simplest mergeable
    sketch) and reuse the identical divergence math."""
    vocab = tl.groupBy("term").agg(F.sum("k").alias("tc"))
    total = vocab.agg(F.sum("tc").alias("n_total"))
    ns = tl.groupBy("source").agg(F.sum("k").alias("n_s"))
    joined = (
        tl.join(vocab, "term")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(total))
    )
    agg = joined.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.count("*").alias("vocab_present"),
        F.sum(F.abs(F.col("k") * F.col("n_total") - F.col("tc") * F.col("n_s"))).alias(
            "present_gap"
        ),
        F.sum("tc").alias("tc_present"),
        F.max("n_total").alias("n_total"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "vocab_present",
        F.expr(
            "div(1000 * (present_gap + n_tokens * (n_total - tc_present)),"
            " 2 * n_tokens * n_total)"
        ).alias("tvd_permille"),
    ).orderBy("source")


def vocab_divergence_tvd_sql(source: str = "documents") -> str:
    return f"""(
    WITH tv_tl AS (
        SELECT term, source, COUNT(*) AS k FROM (
            SELECT source,
                unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
            FROM {source}
        ) GROUP BY 1, 2
    ),
    tv_vocab AS (SELECT term, SUM(k) AS tc FROM tv_tl GROUP BY 1),
    tv_total AS (SELECT SUM(tc) AS n_total FROM tv_vocab),
    tv_ns AS (SELECT source, SUM(k) AS n_s FROM tv_tl GROUP BY 1),
    tv_agg AS (
        SELECT t.source,
            MAX(s.n_s) AS n_tokens,
            COUNT(*) AS vocab_present,
            SUM(ABS(t.k * (SELECT n_total FROM tv_total) - v.tc * s.n_s))
                AS present_gap,
            SUM(v.tc) AS tc_present,
            MAX((SELECT n_total FROM tv_total)) AS n_total
        FROM tv_tl t JOIN tv_vocab v USING (term) JOIN tv_ns s USING (source)
        GROUP BY 1
    )
    SELECT source, n_tokens, vocab_present,
        (1000 * (present_gap + n_tokens * (n_total - tc_present)))
            // (2 * n_tokens * n_total) AS tvd_permille
    FROM tv_agg
    ORDER BY source
) tv"""


# -------------------------------------------------- tokenizer fertility

def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Tokenizer fertility audit — subword tokens per whitespace word,
    the number a tokenizer team watches per language (fertility ≫ 1
    means the vocabulary under-serves that language, inflating compute
    per document). Whitespace words vs the BPE-ish pre-tokenization
    regex, both engine-mirrored, all-integer output (milli units).

    One narrow projection + one map-side-combined aggregate — the
    cheapest possible corpus pass."""
    word = F.size(tokens(F.col("text"))).cast("long")
    # regexp_count form — see functions/text.bpe_token_count (r12)
    sub = F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_PATTERN)).cast(
        "long"
    )
    return (
        docs.select(
            "lang",
            word.alias("w"),
            sub.alias("s"),
            F.length("text").cast("long").alias("nc"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("w").alias("word_tokens"),
            F.sum("s").alias("subword_tokens"),
            F.expr("div(1000 * sum(s), sum(w))").alias("fertility_milli"),
            F.expr("div(1000 * sum(nc), sum(s))").alias("chars_per_subword_milli"),
        )
        .orderBy("lang")
    )


def tokenizer_fertility_sql(source: str = "documents") -> str:
    return f"""(
    SELECT lang, COUNT(*) AS n_docs,
        SUM(w) AS word_tokens, SUM(s) AS subword_tokens,
        (1000 * SUM(s)) // SUM(w) AS fertility_milli,
        (1000 * SUM(nc)) // SUM(s) AS chars_per_subword_milli
    FROM (
        SELECT lang,
            CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS w,
            CAST(len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}')) AS BIGINT)
                AS s,
            CAST(length(text) AS BIGINT) AS nc
        FROM {source}
    )
    GROUP BY lang
    ORDER BY lang
) tf"""


# --------------------------------------------- vocabulary coverage curve

COVERAGE_SIZES = (16, 256, 4096)
COVERAGE_ORDERS = (1, 2, 3)


def vocab_coverage_curve(
    docs: DataFrame,
    orders: tuple[int, ...] = COVERAGE_ORDERS,
    sizes: tuple[int, ...] = COVERAGE_SIZES,
) -> DataFrame:
    """Token coverage of a frequency-truncated vocabulary, by n-gram
    order — the sizing curve behind every "how big should the
    tokenizer/feature vocabulary be" decision: for each order n and
    candidate vocab size V, what fraction of corpus token OCCURRENCES
    does the top-V most-frequent vocabulary cover (equivalently: the
    OOV rate a V-entry vocab would incur)?

    Deterministic rank: (count DESC, term ASC) — ties at the truncation
    boundary resolve identically in any engine. Coverage is emitted in
    exact integer ppm (1e6·covered div total), bit-stable cross-engine.

    Scale shape: one explode+groupBy per order over the corpus (the
    same map-side-combined shuffle as every tf build), then ALL further
    work happens on the AGGREGATED vocabulary (|vocab| ≪ corpus): a
    per-order rank window (at 100 TB the vocab table is millions of
    rows — sort it, it is five orders smaller than the corpus; the
    3-partition n-key skew is bounded by that same size), a broadcast
    cross join against the |sizes|-row grid, and one grouped
    conditional aggregate. The corpus is never shuffled on content.

    Output: (n, vocab_size, vocab_terms = |top-V| actually available,
    covered_tokens, total_tokens, coverage_ppm, oov_ppm)."""
    base = docs.select(tokens(F.col("text")).alias("tk"))
    per_order = []
    for n in orders:
        grams = F.col("tk") if n == 1 else shingles_of_tokens(F.col("tk"), n)
        per_order.append(
            base.select(F.explode(grams).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("cnt"))
            .select(F.lit(n).cast("long").alias("n"), "term", "cnt")
        )
    vocab = per_order[0]
    for p in per_order[1:]:
        vocab = vocab.unionByName(p)
    w = Window.partitionBy("n").orderBy(F.col("cnt").desc(), F.col("term"))
    ranked = vocab.withColumn("rank", F.row_number().over(w))
    sizes_df = local_table(
        ranked.sparkSession,
        [(v,) for v in sizes], schema="vocab_size long"
    )
    hit = F.col("rank") <= F.col("vocab_size")
    return (
        ranked.crossJoin(F.broadcast(sizes_df))
        .groupBy("n", "vocab_size")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).alias("vocab_terms"),
            F.sum(F.when(hit, F.col("cnt")).otherwise(0)).alias("covered_tokens"),
            F.sum("cnt").alias("total_tokens"),
        )
        .withColumn(
            "coverage_ppm",
            F.expr("div(1000000 * covered_tokens, total_tokens)"),
        )
        .withColumn("oov_ppm", F.lit(1_000_000) - F.col("coverage_ppm"))
        .orderBy("n", "vocab_size")
    )


def vocab_coverage_curve_sql(
    source: str = "documents",
    orders: tuple[int, ...] = COVERAGE_ORDERS,
    sizes: tuple[int, ...] = COVERAGE_SIZES,
) -> str:
    def gram_select(n: int) -> str:
        if n == 1:
            return f"SELECT 1 AS n, unnest(t) AS term FROM vc_tk"
        expr = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
        return (
            f"SELECT {n} AS n, {expr} AS term FROM vc_tk, "
            f"unnest(generate_series(1, greatest(len(t) - {n - 1}, 0))) AS u(i)"
        )

    grams = "\n        UNION ALL\n        ".join(gram_select(n) for n in orders)
    size_rows = ", ".join(f"({v})" for v in sizes)
    return f"""(
    WITH vc_tk AS (
        SELECT regexp_split_to_array(lower(text), '\\s+') AS t FROM {source}
    ),
    vc_grams AS (
        {grams}
    ),
    vc_vocab AS (
        SELECT n, term, COUNT(*) AS cnt FROM vc_grams GROUP BY n, term
    ),
    vc_ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY n ORDER BY cnt DESC, term) AS rank
        FROM vc_vocab
    )
    SELECT n, vocab_size,
        SUM(CASE WHEN rank <= vocab_size THEN 1 ELSE 0 END) AS vocab_terms,
        SUM(CASE WHEN rank <= vocab_size THEN cnt ELSE 0 END) AS covered_tokens,
        SUM(cnt) AS total_tokens,
        (1000000 * SUM(CASE WHEN rank <= vocab_size THEN cnt ELSE 0 END))
            // SUM(cnt) AS coverage_ppm,
        1000000 - (1000000 * SUM(CASE WHEN rank <= vocab_size THEN cnt ELSE 0 END))
            // SUM(cnt) AS oov_ppm
    FROM vc_ranked
    CROSS JOIN (VALUES {size_rows}) s(vocab_size)
    GROUP BY n, vocab_size
    ORDER BY n, vocab_size
) vc"""


ZIPF_BIT_LEVELS = 40  # rank bit-length levels covered (2^40 terms >> any vocab)


def zipf_fit(docs: DataFrame) -> DataFrame:
    """Corpus Zipf-law fit — the vocabulary-health diagnostic run before
    trusting token statistics (a natural corpus shows log-freq falling
    ~linearly in log-rank with slope ≈ −1; boilerplate floods or
    synthetic junk bend the curve). OLS of y = bitlen(freq) on
    x = bitlen(rank) (the repo's libm-free floor-log2 discipline) over
    EVERY vocabulary term, computed WITHOUT materializing per-term
    ranks:

    terms sharing a frequency occupy a contiguous rank interval
    [lo, hi] (cumulative counts over the distinct-frequency table, freq
    DESC), and bitlen is constant on power-of-two spans — so each
    (frequency-group × bit-level k) contributes overlap(lo..hi,
    2^(k−1)..2^k−1) terms with x = k exactly. All five OLS moment sums
    are exact integers assembled from ≤ 40 bit levels per frequency
    group; tie order inside a group is irrelevant by construction.

    Scale shape (r8, the stats-digest treatment — VERDICT r7 #3): ONE
    vocabulary-sized exchange (term counts, map-side combined) then the
    frequency-histogram aggregate; that DISTINCT-FREQUENCY digest is
    bounded by O(√total_tokens) regardless of vocabulary size (k
    distinct frequencies need ≥ 1+2+…+k tokens), so it is collected
    once and the rank intervals / bit-level overlaps / five OLS moment
    sums are exact driver-side integer arithmetic — zero further Spark
    jobs where the window + level-explode + crossJoin form paid ~3
    fixed stage launches. Python ints are exact like the
    decimal(38,0)/HUGEINT accumulators; float()/math.sqrt round
    identically to the engines' casts, so the two output doubles stay
    bit-identical to the from-scratch oracle.

    Output (one row): n_terms, n_freq_groups, slope_bits (≈ −Zipf s),
    corr_xy."""
    import math

    spark = docs.sparkSession
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("f"))
    )
    freqs = tf.groupBy("f").agg(F.count("*").alias("m")).collect()

    # results emit as a JVM-side literal projection over range(1), like
    # every driver table of the package (catalog.local_table for
    # multi-row ones): a literal Project starts no Python worker
    def _row(n_terms, n_groups, slope, corr):
        return spark.range(1).select(
            F.lit(n_terms).cast("long").alias("n_terms"),
            F.lit(n_groups).cast("long").alias("n_freq_groups"),
            F.lit(slope).cast("double").alias("slope_bits"),
            F.lit(corr).cast("double").alias("corr_xy"),
        )

    if not freqs:
        # the aggregate-over-empty mirror: NULL sums, 0 groups
        return _row(None, 0, None, None)

    n = sx = sxx = sy = syy = sxy = 0
    cum = 0
    for r in sorted(freqs, key=lambda r: -r["f"]):
        f, m = r["f"], r["m"]
        lo, hi = cum + 1, cum + m
        cum += m
        y = f.bit_length()
        for k in range(1, ZIPF_BIT_LEVELS + 1):
            ov = min(hi, (1 << k) - 1) - max(lo, 1 << (k - 1)) + 1
            if ov <= 0:
                continue
            n += ov
            sx += k * ov
            sxx += k * k * ov
            sy += y * ov
            syy += y * y * ov
            sxy += k * y * ov

    def _div(a: float, b: float) -> float:
        # IEEE double division incl. the b == 0 branches Python raises on
        if b != 0.0:
            return a / b
        if a == 0.0 or math.isnan(a):
            return math.nan
        return math.copysign(math.inf, a) * math.copysign(1.0, b)

    num = float(n * sxy - sx * sy)
    den = float(n * sxx - sx * sx)
    deny = float(n * syy - sy * sy)
    slope = _div(num, den)
    corr = _div(_div(num, math.sqrt(den)), math.sqrt(deny))
    return _row(n, len(freqs), slope, corr)


def zipf_fit_sql(source: str = "documents") -> str:
    """DuckDB twin of :func:`zipf_fit` (bin() = Spark conv(_,10,2);
    HUGEINT sums are exact like the decimal(38,0) accumulators)."""
    return f"""(
    WITH zf_tf AS (
        SELECT term, COUNT(*) AS f FROM (
            SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
            FROM {source}
        ) GROUP BY 1
    ),
    zf_freqs AS (SELECT f, COUNT(*) AS m FROM zf_tf GROUP BY 1),
    zf_iv AS (
        SELECT f, m,
            SUM(m) OVER (ORDER BY f DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m + 1
                AS lo,
            SUM(m) OVER (ORDER BY f DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        FROM zf_freqs
    ),
    zf_lev AS (
        SELECT f, k,
            GREATEST(LEAST(hi, (CAST(1 AS BIGINT) << k) - 1)
                     - GREATEST(lo, CAST(1 AS BIGINT) << (k - 1)) + 1, 0)
                AS ov
        FROM zf_iv, unnest(generate_series(1, {ZIPF_BIT_LEVELS})) AS u(k)
    ),
    zf_m AS (
        SELECT SUM(ov) AS n,
            SUM(k * ov) AS sx, SUM(k * k * ov) AS sxx,
            SUM(length(bin(f)) * ov) AS sy,
            SUM(length(bin(f)) * length(bin(f)) * ov) AS syy,
            SUM(k * length(bin(f)) * ov) AS sxy
        FROM zf_lev WHERE ov > 0
    ),
    zf_g AS (SELECT COUNT(*) AS n_freq_groups FROM zf_freqs)
    SELECT CAST(n AS BIGINT) AS n_terms,
        CAST(n_freq_groups AS BIGINT) AS n_freq_groups,
        CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_bits,
        CAST(n * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
            / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) AS corr_xy
    FROM zf_m CROSS JOIN zf_g
) zf"""


# ------------------------------------------------- PMI collocations

PMI_MIN_COUNT = 5
PMI_TOP = 50
PMI_PPM = 1_000_000


def pmi_collocations(
    docs: DataFrame, top: int = PMI_TOP, min_count: int = PMI_MIN_COUNT
) -> DataFrame:
    """Collocation mining by pointwise mutual information: rank word
    pairs by lift = P(w1,w2) / (P(w1)·P(w2)) — PMI is log2(lift), and
    log is monotone, so ranking by lift IS ranking by PMI while staying
    in EXACT integer arithmetic (the repo's libm-free discipline: no
    cross-engine log in the ordering). lift_ppm is the exact floor of
    1e6·lift computed in DECIMAL(38)/HUGEINT — bit-identical in both
    engines.

    Classic statistic: Church & Hanks, "Word Association Norms, Mutual
    Information, and Lexicography" (Computational Linguistics 1990).

    Scale shape: one corpus scan feeds BOTH count tables (unigrams via
    token explode, bigrams via the slice-zip explode) with map-side
    combine, so the shuffles carry (token, partial count) rows bounded
    by vocabulary, never raw positions. The two marginal joins
    broadcast the unigram table (vocabulary-bounded — Heaps' law keeps
    it sublinear in corpus size; the same posture as the BPE vocab
    broadcast). T and B are one bounded digest aggregate (two longs)."""
    d = docs.select(tokens(F.col("text")).alias("tk"))
    uni = (
        d.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    big = (
        d.filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("tk"), 1, F.size("tk") - 1),
                    F.slice(F.col("tk"), 2, F.size("tk") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
    )
    # Totals as a 1-row broadcast digest, NOT a driver collect
    # (optimization r11): the old form ran the same digest aggregate
    # but ended it in .collect() to bake T/B into the lift expression
    # as literals — a blocking py4j round trip plus a separate job
    # before the main query could even plan. Folding the digest in as
    # a BroadcastNestedLoopJoin cross join (the mixture_token_budget
    # "no collect" pattern) keeps the pass count identical (the digest
    # scan still runs, now as a broadcast build that overlaps the
    # other subtrees) and removes the serialization point. The
    # empty-corpus early-return went with the collect: B = 0 ⇔ the
    # bigram table is empty ⇔ the join output is already empty, and
    # the lift expression then never evaluates (no division by zero
    # to guard). NOTE the two uni broadcast subtrees do NOT reuse one
    # exchange (checked on the executed AQE plan — canonicalization
    # does not match them), so deriving T/B from uni/big here would
    # ADD corpus passes; the direct digest keeps it at the old form's
    # count. A/B: median 0.633 → 0.577 s at sf0.1, hash-identical.
    tot = d.agg(
        F.sum(F.size("tk")).alias("t"),
        F.sum(F.greatest(F.size("tk") - 1, F.lit(0))).alias("b"),
    )
    u1, u2 = uni.alias("u1"), uni.alias("u2")
    j = (
        big.filter(F.col("c_ab") >= min_count)
        .join(F.broadcast(u1), F.col("w1") == F.col("u1.w"))
        .join(F.broadcast(u2), F.col("w2") == F.col("u2.w"))
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.col("u1.c").alias("c_a"),
            F.col("u2.c").alias("c_b"),
            "t",
            "b",
        )
    )
    lift = F.expr(
        f"CAST(c_ab AS DECIMAL(38,0)) * t * t * {PMI_PPM}"
        f" div (CAST(c_a AS DECIMAL(38,0)) * c_b * b)"
    )
    return (
        j.select("w1", "w2", "c_ab", "c_a", "c_b", lift.alias("lift_ppm"))
        .orderBy(F.col("lift_ppm").desc(), "w1", "w2")
        .limit(top)
    )


def pmi_collocations_sql(
    source: str = "documents",
    top: int = PMI_TOP,
    min_count: int = PMI_MIN_COUNT,
) -> str:
    """DuckDB twin: identical counts, HUGEINT floor-division lift."""
    return f"""(
    WITH pm_d AS (
        SELECT regexp_split_to_array(lower(text), '\\s+') AS tk FROM {source}
    ),
    pm_tot AS (
        SELECT SUM(len(tk)) AS t, SUM(GREATEST(len(tk) - 1, 0)) AS b
        FROM pm_d
    ),
    pm_uni AS (
        SELECT w, COUNT(*) AS c
        FROM (SELECT UNNEST(tk) AS w FROM pm_d)
        GROUP BY 1
    ),
    pm_big AS (
        SELECT t.tk[s.i] AS w1, t.tk[s.i + 1] AS w2, COUNT(*) AS c_ab
        FROM pm_d t
        JOIN (SELECT UNNEST(generate_series(1,
                  (SELECT MAX(len(tk)) FROM pm_d))) AS i) s
          ON s.i <= len(t.tk) - 1
        WHERE len(t.tk) >= 2
        GROUP BY 1, 2
    )
    SELECT b.w1, b.w2, b.c_ab, a.c AS c_a, c.c AS c_b,
        CAST((CAST(b.c_ab AS HUGEINT) * tt.t * tt.t * {PMI_PPM})
             // (CAST(a.c AS HUGEINT) * c.c * tt.b) AS BIGINT) AS lift_ppm
    FROM pm_big b
    JOIN pm_uni a ON a.w = b.w1
    JOIN pm_uni c ON c.w = b.w2
    CROSS JOIN pm_tot tt
    WHERE b.c_ab >= {min_count}
    ORDER BY lift_ppm DESC, b.w1, b.w2
    LIMIT {top}
) s"""


# --------------------------------------------------- Heaps vocab growth

HEAPS_BUCKETS = 10
HEAPS_SEED = 37


def vocab_growth_curve(
    docs: DataFrame, n_buckets: int = HEAPS_BUCKETS, seed: int = HEAPS_SEED
) -> DataFrame:
    """Heaps'-law vocabulary growth: distinct word types vs tokens seen
    as ingest proceeds — the tokenizer-planning twin of the corpus
    novelty curve (novelty asks "is the TEXT new?", this asks "are the
    WORDS new?"; a vocabulary still growing fast at the end of the
    corpus means the tokenizer's vocab budget is undersized for the
    domain). Same deterministic ingest-batch model as
    corpus_dedup_curve (portable hash of doc_id); a type is NEW in the
    first batch containing it.

    Output per batch: n_tokens, cum_tokens, new_types, cum_types, and
    the exact integer type-token ratio ttr_ppm = 10^6·cum_types ÷
    cum_tokens (Heaps exponent read off the curve shape, log-free).

    Scale shape (optimization r12, guide §1.2): ONE token explode. The
    old form fed the exploded stream into two separate aggregates
    (bucket totals, token→min-bucket), re-running the corpus explode —
    the operator's dominant cost — once per branch. Both now derive
    from one map-side-combined (bucket, w) → count cell table (the
    streamed curves' mergeable-cells shape): bucket totals are Σ cnt,
    first-occurrence types a vocab-bounded min/count over the same
    cells. Interleaved A/B at sf0.1: 0.511/0.541 → 0.459/0.470 s
    min/med, rows identical. At 100 TB the explode halves and every
    shuffle carries (bucket × vocab)-bounded cells, never the corpus;
    the only window still runs over n_buckets rows."""
    b = (
        portable_hash32(F.col("doc_id").cast("string"), seed=seed) % n_buckets
    ).alias("bucket")
    d = docs.select(b, F.explode(tokens(F.col("text"))).alias("w"))
    cells = d.groupBy("bucket", "w").agg(F.count("*").alias("cnt"))
    per_bucket = cells.groupBy("bucket").agg(F.sum("cnt").alias("n_tokens"))
    firsts = (
        cells.groupBy("w")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("new_types"))
    )
    wcum = (
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_bucket.join(firsts, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            F.coalesce(F.col("new_types"), F.lit(0)).alias("new_types"),
        )
        .select(
            "*",
            F.sum("n_tokens").over(wcum).alias("cum_tokens"),
            F.sum("new_types").over(wcum).alias("cum_types"),
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("new_types").cast("long").alias("new_types"),
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
            F.col("cum_types").cast("long").alias("cum_types"),
            F.expr("div(1000000 * cum_types, cum_tokens)").alias("ttr_ppm"),
        )
    )


def vocab_growth_curve_sql(
    source: str = "documents",
    n_buckets: int = HEAPS_BUCKETS,
    seed: int = HEAPS_SEED,
) -> str:
    h = portable_hash32_sql("CAST(doc_id AS VARCHAR)", seed=seed)
    return f"""(
    WITH vg_d AS (
        SELECT ({h}) % {n_buckets} AS bucket,
            unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM {source}
    ),
    vg_pb AS (SELECT bucket, COUNT(*) AS n_tokens FROM vg_d GROUP BY 1),
    vg_first AS (
        SELECT bucket, COUNT(*) AS new_types FROM (
            SELECT w, MIN(bucket) AS bucket FROM vg_d GROUP BY 1
        ) f GROUP BY 1
    ),
    vg_row AS (
        SELECT p.bucket, p.n_tokens, COALESCE(f.new_types, 0) AS new_types
        FROM vg_pb p LEFT JOIN vg_first f ON p.bucket = f.bucket
    ),
    vg_cum AS (
        SELECT *,
            SUM(n_tokens) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
            SUM(new_types) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_types
        FROM vg_row
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(new_types AS BIGINT) AS new_types,
        CAST(cum_tokens AS BIGINT) AS cum_tokens,
        CAST(cum_types AS BIGINT) AS cum_types,
        (1000000 * cum_types) // cum_tokens AS ttr_ppm
    FROM vg_cum
) s"""
