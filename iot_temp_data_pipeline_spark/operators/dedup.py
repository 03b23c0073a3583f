"""Deduplication operators for large-scale text corpora (beyond-reference
surface; north-star requirement).

Five strategies, all built on native expressions (no Python UDFs):

- exact:          md5(text) hash-groupBy — one shuffle on the hash.
- n-gram Jaccard: distinct word-3-gram shingles → self-join on shingle →
                  per-pair intersection counts → Jaccard threshold.
- MinHash + LSH:  k portable hashes per shingle → per-doc min per hash
                  (signature) → band buckets → candidate pairs share a
                  bucket → signature-agreement estimate.
- SimHash:        per-bit majority vote over token hashes → 48-bit
                  fingerprint → 12-bit-block buckets → Hamming ≤ d pairs.
- embedding:      quantized-cosine near-pairs (operators/similarity.py).

Scale design (100 TB stance):
- The shingle self-join is the only quadratic-risk operator; ultra-common
  shingles are pruned by document frequency (``max_shingle_df``) before
  the join — a shingle in N docs contributes O(N²) candidate pairs, and
  shingles that common carry no near-dup signal. Deterministic, applied
  identically in the oracle.
- MinHash/SimHash bucket joins are linear in bucket sizes; bands/blocks
  bound bucket fan-out. Signatures are one narrow aggregate per doc.
- All hashes are md5-derived (functions/hashing.py) so DuckDB verifies
  every stage bit-for-bit.

The fixture corpus has no natural duplicates, so ``dedup_corpus``
deterministically re-inserts exact copies (doc_id+1_000_000, every 7th
doc) and head-truncated near-copies (doc_id+2_000_000, every 11th doc,
first 5 tokens dropped) — giving every strategy real positives to find.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    affine_hash32_family,
    portable_hash32,
    portable_hash32_family,
    portable_hash32_sql,
)
from ..functions.text import shingles_of_tokens, tokens
from ..sources.catalog import get_or_build, load_table

MINHASH_K = 16
MINHASH_BANDS = 4  # 4 rows per band
# Shingle document-frequency cap: a shingle in more than MAX_SHINGLE_DF
# docs is pruned before the candidate self-join. An ABSOLUTE cap bounds
# each shingle's candidate contribution at C(cap,2) pairs, so total
# candidate work is linear in the number of distinct shingles (~corpus
# size). The 10x scale probe showed cap=1000 going 27.9x superlinear
# (mid-frequency shingles densify as the corpus grows); 200 keeps the
# probe near-linear. Pairs sharing ONLY >cap shingles are missed - the
# standard recall trade of df-pruned exact Jaccard; MinHash-LSH is the
# unpruned scale path.
MAX_SHINGLE_DF = 200
SIMHASH_BITS = 48  # < 2^48 keeps fingerprints exact in signed 64-bit math
SIMHASH_BLOCK_BITS = 12  # 4 LSH blocks × 12 bits


def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    exact_copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source"
    )
    toks = F.split(F.col("text"), " ")
    truncated = (
        docs.filter(F.col("doc_id") % 11 == 0)
        .select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.array_join(
                F.slice(toks, 6, F.greatest(F.size(toks) - 5, F.lit(0))), " "
            ).alias("text"),
            "lang",
            "source",
        )
    )
    return docs.unionByName(exact_copies).unionByName(truncated)


CORPUS_SQL = """
corpus AS (
    SELECT doc_id, text, lang, source FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text, lang, source FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 2000000,
           array_to_string((string_split(text, ' '))[6:], ' '),
           lang, source
    FROM documents WHERE doc_id % 11 = 0
)
"""


# ------------------------------------------------------------------- exact

def exact_duplicates(corpus: DataFrame) -> DataFrame:
    """Exact dedup via hash-groupBy: clusters with >1 member. At scale:
    single shuffle on a 128-bit hash (uniform, unskewed by design)."""
    return (
        corpus.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("keep_doc_id"),
            F.max("doc_id").alias("dropped_doc_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


EXACT_DUP_SQL = """(
    SELECT md5(text) AS text_hash,
        COUNT(*) AS dup_count,
        MIN(doc_id) AS keep_doc_id,
        MAX(doc_id) AS dropped_doc_id
    FROM corpus
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
) s"""


# ---------------------------------------------------------- n-gram Jaccard

def _tokenized(corpus: DataFrame) -> DataFrame:
    """Materialize the token array ONCE per doc — shingle expressions
    over a bound column evaluate the split once per row instead of once
    per lambda element (see functions/text.shingles_of_tokens)."""
    return corpus.select("doc_id", tokens(F.col("text")).alias("tk"))


def cached_tokenized_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached tokenized dedup corpus (doc_id, tk), built ONCE
    per version of sf_dir and localCheckpoint'ed — the corpus-side
    analog of ``cached_jaccard_pairs``' build-once/serve-many contract
    (VERDICT r8 #2): the exact-substring family re-tokenized and
    privately ``persist``-ed the same corpus the near-dup family had
    already materialized. Tokenization is deterministic, so cold and
    warm results agree and the from-scratch DuckDB oracles still
    hash-match. At 100 TB this is the written tokenized layer every
    curation stage reads (tokenize once per snapshot, not once per
    operator)."""
    def build():
        # Spread the materialization across the executor cores before
        # checkpointing (the _vr_cached precedent): the union-of-three
        # corpus reads lands in a handful of file-split partitions at
        # fixture scale, which would cap every downstream fingerprint
        # explode at that width. One exchange, paid once per build.
        par = spark.sparkContext.defaultParallelism
        return (
            _tokenized(dedup_corpus(spark, sf_dir))
            .repartition(par)
            .localCheckpoint(eager=True)
        )

    return get_or_build(spark, "tokenized_corpus", sf_dir, build)


def doc_shingles(corpus: DataFrame, n: int = 3, max_shingle_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """(doc_id, shingle) with distinct word n-grams; shingles appearing in
    more than ``max_shingle_df`` docs are pruned (candidate-pair blowup
    control — see module docstring).

    The document frequency is annotated with a count window over the
    SAME shuffle-by-shingle the downstream self-join needs anyway — one
    exchange total, versus the groupBy + anti-join form which pays a
    second aggregation stage and a broadcast build. The output stays
    hash-partitioned by shingle, so the candidate self-join reuses the
    partitioning instead of re-exchanging."""
    sh = _tokenized(corpus).select(
        "doc_id",
        F.explode(F.array_distinct(shingles_of_tokens(F.col("tk"), n))).alias("shingle"),
    )
    df = F.count("*").over(Window.partitionBy("shingle"))
    return (
        sh.withColumn("df", df)
        .filter(F.col("df") <= max_shingle_df)
        .drop("df")
    )


def _shingle_counts(corpus: DataFrame, n: int = 3) -> DataFrame:
    return _tokenized(corpus).select(
        "doc_id",
        F.size(F.array_distinct(shingles_of_tokens(F.col("tk"), n))).alias("n_shingles"),
    )


def ngram_jaccard_pairs(
    corpus: DataFrame, n: int = 3, min_jaccard: float = 0.6, max_shingle_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Candidate pairs by shared shingle, scored with exact Jaccard =
    |A∩B| / (|A|+|B|−|A∩B|) — integer counts, so the score is
    bit-identical in any engine. The pruned shingle table feeds BOTH
    sides of the self-join, so it is persisted once (at cluster scale:
    checkpoint/exchange-reuse instead of recomputing the explode)."""
    sh = doc_shingles(corpus, n, max_shingle_df).persist()
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common_shingles"))
    )
    # Persisted once (optimization r11): ca/cb consumed this subtree
    # twice, and the two aliased broadcast sides do NOT share an
    # exchange (verified on executed AQE plans, the pmi finding), so
    # the un-persisted form re-tokenized the whole corpus per side.
    # counts is one narrow row per document — the cheapest thing in
    # this operator to materialize. A/B: 2.044 → 1.841 s min-of-4 at
    # sf0.1, hash-identical. Lifecycle (ADVICE r11): the builder is
    # lazy, so no in-operator action exists to unpersist after — the
    # cache (like `sh` above) lives until the session's next
    # clearCache(); the bench clears between runs, and a long-lived
    # session should clearCache per corpus snapshot.
    counts = _shingle_counts(corpus, n).persist()
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    # No broadcast hints here: `counts` has one row per document, so it
    # grows with the corpus and would OOM a broadcast at 100 TB. AQE
    # still converts to broadcast at runtime when the side is genuinely
    # small; at scale these become shuffle joins on doc id — correct.
    jac = (
        common.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "common_shingles",
            F.col("ca.n_shingles").alias("shingles_a"),
            F.col("cb.n_shingles").alias("shingles_b"),
            (
                F.col("common_shingles").cast("double")
                / (
                    F.col("ca.n_shingles") + F.col("cb.n_shingles") - F.col("common_shingles")
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= min_jaccard)


# shared SQL: tokenization must equal functions/text.tokens (regex \s+ on lower)
_SHINGLES_SQL_TEMPLATE = """
doc_tokens AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk FROM corpus
),
doc_shingles AS (
    SELECT doc_id, unnest(list_distinct(
        list_transform(
            generate_series(1, greatest(len(tk) - 2, 0)),
            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
    )) AS shingle
    FROM doc_tokens
),
shingle_df AS (
    SELECT shingle FROM doc_shingles GROUP BY shingle HAVING COUNT(*) > {max_shingle_df}
),
pruned_shingles AS (
    SELECT * FROM doc_shingles WHERE shingle NOT IN (SELECT shingle FROM shingle_df)
),
shingle_counts AS (
    SELECT doc_id, COUNT(*) AS n_shingles FROM doc_shingles GROUP BY doc_id
)
"""

SHINGLES_SQL = _SHINGLES_SQL_TEMPLATE.format(max_shingle_df=MAX_SHINGLE_DF)

NGRAM_JACCARD_SQL = """(
    SELECT doc_a, doc_b, common_shingles,
        ca.n_shingles AS shingles_a, cb.n_shingles AS shingles_b,
        CAST(common_shingles AS DOUBLE)
            / CAST(ca.n_shingles + cb.n_shingles - common_shingles AS DOUBLE) AS jaccard
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common_shingles
        FROM pruned_shingles a
        JOIN pruned_shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ) c
    JOIN shingle_counts ca ON c.doc_a = ca.doc_id
    JOIN shingle_counts cb ON c.doc_b = cb.doc_id
    WHERE CAST(common_shingles AS DOUBLE)
        / CAST(ca.n_shingles + cb.n_shingles - common_shingles AS DOUBLE) >= 0.6
) s"""


# ------------------------------------------------------------ MinHash + LSH

def minhash_signatures(corpus: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """Per-doc MinHash signature: mh_i = min over shingles of h_i(shingle),
    where the k hash lanes come from the multiply-shift affine family
    (functions/hashing.affine_hash32_family): ONE md5 per shingle plus k
    fused integer multiply-adds, vs k/4 md5 digests for the word-slice
    family — md5 dominates the signature pass, so this is ~4× less hash
    work per shingle at k=16. One explode + one grouped aggregate;
    signature width k columns."""
    sh = _tokenized(corpus).select(
        "doc_id",
        F.explode(F.array_distinct(shingles_of_tokens(F.col("tk")))).alias("shingle"),
    )
    lanes = affine_hash32_family(F.col("shingle"), k)
    aggs = [F.min(lane).alias(f"mh{i}") for i, lane in enumerate(lanes)]
    return sh.groupBy("doc_id").agg(*aggs)


def cached_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    min_jaccard: float = 0.6,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Session-cached near-dup candidate pair table — the dedup
    pipeline's central MATERIALIZED artifact. A real curation pass
    computes the verified pair list once per corpus snapshot and fans
    out: connected components, canonical picking, impact report,
    cross-source matrix, graph diagnostics, leakage-safe splits. The
    registry mirrors that fan-out with 7+ consumers, each of which
    would otherwise re-pay the df-pruned shingle self-join (its 100×
    probe cost: ~50 s of the clusters/pagerank wall). Same
    build-once/serve-many lifecycle and determinism contract as the
    mart table / quantized corpus / postings caches; the pair-SEARCH
    query (`dedup_ngram_jaccard`) deliberately does NOT use this cache,
    so the build path stays measured. At 100 TB this is a written
    table partitioned by doc_a."""
    return get_or_build(
        spark, "jaccard_pairs", sf_dir,
        lambda: ngram_jaccard_pairs(
            dedup_corpus(spark, sf_dir), n, min_jaccard, max_shingle_df
        ).localCheckpoint(eager=True),
        n, min_jaccard, max_shingle_df,
    )


# (bands, rows_per_band) configs partitioning the MINHASH_K=16 signature
LSH_TUNING_CONFIGS = [(1, 16), (2, 8), (4, 4), (8, 2), (16, 1)]


def _pow2_col(x, e: int):
    """x**e for any positive integer e by square-and-multiply — a FIXED
    IEEE multiply tree both engines evaluate identically (no libm pow,
    the repo's exactness discipline). _pow2_sql builds the same tree in
    the same recursion order, so the per-row doubles are bit-identical
    cross-engine for ANY (bands, rows) config, not just powers of two."""
    if e < 1:
        raise ValueError(f"exponent must be a positive integer, got {e}")
    if e == 1:
        return x
    h = _pow2_col(x, e // 2)
    sq = h * h
    return sq * x if e % 2 else sq


def _pow2_sql(x: str, e: int) -> str:
    if e < 1:
        raise ValueError(f"exponent must be a positive integer, got {e}")
    if e == 1:
        return x
    h = _pow2_sql(x, e // 2)
    sq = f"({h} * {h})"
    return f"({sq} * {x})" if e % 2 else sq


def minhash_band_tuning(
    corpus: DataFrame,
    configs: list[tuple[int, int]] = LSH_TUNING_CONFIGS,
) -> DataFrame:
    """The banding-parameter design table for the MinHash-LSH dedup:
    for each way of splitting the k=16 signature into (bands b, rows r),
    the S-curve probability that LSH surfaces a pair with Jaccard j is
    p(j) = 1 − (1 − j^r)^b. Evaluated over the corpus's ACTUAL near-dup
    pairs (the exact-Jaccard candidates ngram_jaccard_pairs verifies),
    this reports what each config would catch/miss on THIS corpus —
    the table you read before picking MINHASH_BANDS, turning the
    banding constants from folklore into a measured decision.

    Exactness: j is one exact double division of exact integers; the
    powers are repeated-squaring multiply trees (power-of-two r and b —
    no libm pow), so every per-pair probability is bit-identical
    cross-engine; only the final mean/expected sums need f4 rounding.

    Scale shape (optimization r12, guide §1.2/§2.4): ONE digest pass.
    Every config's S-curve statistics are plain aggregate expressions
    of the same ``jaccard`` column, so all |configs|×3 aggregates (plus
    one shared count) run in a single 1-row aggregate over ONE
    evaluation of the pair build, then ``inline`` back to one row per
    config. The old form ran one full aggregate scan PER config over an
    eagerly localCheckpoint'ed pair table — |configs| jobs, |configs|
    digest scans, plus a blocking materialization barrier before the
    first aggregate could start. At 100 TB: one digest scan of the
    bounded pair list instead of five, and no checkpoint write of the
    pair table at all (the build streams straight into its only
    consumer). Per-config values are the same expressions over the same
    rows; the float sums ride the spec's f4 rounding exactly as before
    (summation order was never pinned — the DuckDB twin already sums in
    its own order)."""
    pairs = ngram_jaccard_pairs(corpus).select("jaccard")
    one = F.lit(1.0)
    aggs = [F.count("*").alias("n_pairs")]
    for i, (b, r) in enumerate(configs):
        p = one - _pow2_col(one - _pow2_col(F.col("jaccard"), r), b)
        aggs.extend(
            [
                F.sum(p).alias(f"_sum_p_{i}"),
                F.min(p).alias(f"_min_p_{i}"),
                F.sum(one - p).alias(f"_miss_{i}"),
            ]
        )
    digest = pairs.agg(*aggs)
    rows = [
        F.struct(
            F.lit(b).cast("long").alias("bands"),
            F.lit(r).cast("long").alias("rows_per_band"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            (F.col(f"_sum_p_{i}") / F.col("n_pairs").cast("double")).alias(
                "mean_detect_prob"
            ),
            F.col(f"_min_p_{i}").alias("min_detect_prob"),
            F.col(f"_miss_{i}").alias("expected_missed"),
        )
        for i, (b, r) in enumerate(configs)
    ]
    return digest.select(F.inline(F.array(*rows)))


def minhash_band_tuning_sql(
    configs: list[tuple[int, int]] = LSH_TUNING_CONFIGS,
) -> str:
    """DuckDB twin (needs the corpus/shingles prelude in scope);
    bt_pairs mirrors ngram_jaccard_pairs' jaccard column exactly."""
    branches = []
    for b, r in configs:
        jr = _pow2_sql("jaccard", r)
        miss = _pow2_sql(f"(1.0 - {jr})", b)
        p = f"(1.0 - {miss})"
        branches.append(
            f"""SELECT CAST({b} AS BIGINT) AS bands,
        CAST({r} AS BIGINT) AS rows_per_band,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        SUM({p}) / CAST(COUNT(*) AS DOUBLE) AS mean_detect_prob,
        MIN({p}) AS min_detect_prob,
        SUM(1.0 - {p}) AS expected_missed
    FROM bt_pairs"""
        )
    return "(\n" + "\n    UNION ALL\n    ".join(branches) + "\n) bt"


def minhash_lsh_pairs(
    corpus: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidates; the
    signature-agreement fraction estimates Jaccard. At scale the band
    tables shuffle on (band_id, band_key) — bucket sizes bound the join."""
    sig = minhash_signatures(corpus, k).persist()
    rows_per_band = k // bands
    # One `inline(array(struct...))` generator instead of a `bands`-way
    # union: the union form scans the cached signatures once PER BAND
    # (b scans, b plan branches); the generator emits all band rows in a
    # single pass — and builds as one selectExpr string (one py4j round
    # trip vs hundreds of Column calls).
    band_structs = ", ".join(
        "struct({b} AS band_id, concat_ws('-', {key}) AS band_key)".format(
            b=b,
            key=", ".join(
                f"CAST(mh{b * rows_per_band + j} AS STRING)"
                for j in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    bands_df = sig.selectExpr("doc_id", f"inline(array({band_structs}))")
    cand = (
        bands_df.alias("x")
        .join(
            bands_df.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    agree = F.expr(
        " + ".join(
            f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
            for i in range(k)
        )
    )
    est = (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (agree.cast("double") / float(k)).alias("est_jaccard"),
        )
    )
    return est.filter(F.col("est_jaccard") >= min_est_jaccard)


def _minhash_sql_exprs(k: int = MINHASH_K) -> str:
    from ..functions.hashing import affine_hash32_family_sql

    lanes = affine_hash32_family_sql("shingle", k)
    return ",\n        ".join(f"MIN({lane}) AS mh{i}" for i, lane in enumerate(lanes))


def minhash_sql(k: int = MINHASH_K, bands: int = MINHASH_BANDS, min_est: float = 0.5) -> str:
    rows_per_band = k // bands
    band_selects = []
    for b in range(bands):
        key = " || '-' || ".join(
            f"CAST(mh{b * rows_per_band + j} AS VARCHAR)" for j in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, {key} AS band_key FROM signatures"
        )
    bands_union = "\n        UNION ALL\n        ".join(band_selects)
    agree = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""(
    WITH signatures AS (
        SELECT doc_id,
        {_minhash_sql_exprs(k)}
        FROM doc_shingles
        GROUP BY doc_id
    ),
    band_table AS (
        {bands_union}
    ),
    candidates AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM band_table x
        JOIN band_table y ON x.band_id = y.band_id AND x.band_key = y.band_key
            AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, CAST({agree} AS DOUBLE) / {float(k)} AS est_jaccard
    FROM candidates
    JOIN signatures sa ON doc_a = sa.doc_id
    JOIN signatures sb ON doc_b = sb.doc_id
    WHERE CAST({agree} AS DOUBLE) / {float(k)} >= {min_est}
) s"""


# ------------------------------------------------------------------ SimHash

def simhash(corpus: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash fingerprint: per-bit majority vote over
    (multiplicity-weighted) token hashes. One explode + one grouped
    aggregate with ``bits`` conditional sums — entirely JVM-side.

    48 bits (not 32): this corpus shares a small vocabulary, so token
    distributions cluster and 32-bit fingerprints collide en masse
    (3.8 M hamming≤6 pairs at sf0.1); 48 bits restores discrimination.
    Bits stay below 2^48, so the fingerprint is exact signed-long/BIGINT
    arithmetic in both engines. Bit b comes from 32-bit md5 lane b//32
    (functions/hashing.portable_hash32_family)."""
    tok = corpus.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    lanes = portable_hash32_family(F.col("token"), (bits + 31) // 32)
    votes = [
        F.sum(
            F.when(
                F.shiftright(lanes[b // 32], b % 32).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    hash_expr = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        hash_expr = term if hash_expr is None else hash_expr + term
    return agg.select("doc_id", hash_expr.cast("long").alias("simhash"))


def simhash_near_pairs(corpus: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Banded Hamming search: candidates share one of four 12-bit blocks
    (pigeonhole guarantees recall for hamming ≤ 3 with 4 blocks; larger
    distances are best-effort, standard SimHash practice). 12-bit blocks
    → 4096 buckets per band bounds candidate fan-out. Verified with
    bit_count(a XOR b)."""
    sh = simhash(corpus).persist()
    blocks = []
    for j in range(4):
        blocks.append(
            sh.select(
                "doc_id",
                "simhash",
                F.lit(j).alias("block_id"),
                F.shiftright(F.col("simhash"), SIMHASH_BLOCK_BITS * j)
                .bitwiseAND(F.lit((1 << SIMHASH_BLOCK_BITS) - 1))
                .alias("block_key"),
            )
        )
    bt = blocks[0]
    for b in blocks[1:]:
        bt = bt.unionByName(b)
    pairs = (
        bt.alias("x")
        .join(
            bt.alias("y"),
            (F.col("x.block_id") == F.col("y.block_id"))
            & (F.col("x.block_key") == F.col("y.block_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).cast("long").alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def simhash_sql(bits: int = SIMHASH_BITS) -> str:
    from ..functions.hashing import portable_hash32_family_sql

    lanes = portable_hash32_family_sql("token", (bits + 31) // 32)
    votes = ",\n        ".join(
        f"SUM(CASE WHEN ({lanes[b // 32]} >> {b % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    hash_expr = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
doc_simhash AS (
    SELECT doc_id, CAST({hash_expr} AS BIGINT) AS simhash
    FROM (
        SELECT doc_id,
        {votes}
        FROM (
            SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
            FROM corpus
        ) t
        GROUP BY doc_id
    ) v
)
"""


def _simhash_pairs_sql() -> str:
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    blocks = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, simhash, {j} AS block_id, "
        f"(simhash >> {SIMHASH_BLOCK_BITS * j}) & {mask} AS block_key FROM doc_simhash"
        for j in range(4)
    )
    return f"""(
    WITH block_table AS (
        {blocks}
    )
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
    FROM block_table x
    JOIN block_table y ON x.block_id = y.block_id AND x.block_key = y.block_key
        AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
) s"""


SIMHASH_PAIRS_SQL = _simhash_pairs_sql()


# ------------------------------------------------- cluster canonicalization

def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected candidate-pair graph via
    iterative min-label propagation: every node starts labeled with its
    own id; each round it takes the min of its label and its neighbors'
    labels; at fixpoint the label is the component's min id. This is the
    dedup pipeline's final step — pair lists don't dedup a corpus,
    cluster ids do (pick one canonical doc per component).

    ``max_iter`` counts total propagation rounds and must be >= 1: the
    fused first round below runs unconditionally (so ``max_iter=1``
    does exactly one round with no convergence probe), and identity
    labels are never a meaningful output for a graph given as edges.

    Scale stance: each round is one shuffle join (edges ⋈ labels on the
    neighbor key) + one aggregate — no driver-side graph state, and the
    per-round `localCheckpoint` truncates the plan lineage so the DAG
    doesn't grow with iterations (an iterative-algorithm requirement;
    without it each round re-plans all previous rounds). Rounds needed =
    component diameter; near-dup clusters are dense and shallow (a dup
    cluster's diameter is rarely > 3-4). For adversarial long-chain
    graphs, swap in the large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce"), which runs in
    O(log n) rounds over the same primitives. Returns (doc_id,
    cluster_id) for every node that appears in an edge.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sym = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # Pre-partition the (static) edge set on the per-round join key and
    # persist THAT layout: the cached scan advertises hash(v)
    # partitioning, so every iteration's edges⋈labels join shuffles only
    # the (small, shrinking-churn) labels side — the same
    # exchange-reuse rework that fixed PageRank's scale slope
    # (operators/graph.py). distinct() alone would leave the cache
    # partitioned on hash(u, v), which satisfies nothing.
    sym = (
        sym.unionByName(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .repartition(F.col("v"))
        .persist()
    )
    # Fused first round: with identity labels, min(neighbor label) is
    # just min(v), so round 1 collapses to ONE grouped aggregate over
    # the cached edges — no join, no change-probe (edges exist, so the
    # first round always changes something). Saves a full
    # join+aggregate+checkpoint+count cycle; measured −0.4 s on the
    # sf0.1 cluster queries, and one fewer round at any scale.
    labels = (
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter - 1):
        neigh = (
            sym.join(labels.withColumnRenamed("u", "nbr"), sym.v == F.col("nbr"))
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        new = (
            labels.withColumnRenamed("label", "old")
            .join(neigh, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("old"), F.coalesce(F.col("nmin"), F.col("old"))
                ).alias("label"),
                "old",
            )
            .localCheckpoint()
        )
        changed = new.filter(F.col("label") != F.col("old")).limit(1).count()
        labels = new.select("u", "label")
        if changed == 0:
            break
    sym.unpersist()
    return labels.select(
        F.col("u").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public algorithm): converges in O(log n) rounds
    even on adversarial long-chain graphs, where plain min-label
    propagation needs O(diameter) rounds. Same output contract as
    :func:`connected_components` — (doc_id, cluster_id = component min)
    for every node incident to an edge.

    Each round is two shuffle-join + aggregate passes over the current
    edge set; `localCheckpoint` truncates lineage per round. Convergence
    is detected from an order-insensitive (count, xxhash64-sum) edge-set
    digest — one tiny 1-row aggregate per round, no driver-side graph.
    """
    cur = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def digest(e: DataFrame) -> tuple:
        row = (
            e.select(F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b"))
            .distinct()
            .agg(
                F.count("*").alias("n"),
                # decimal sum: a long sum of full-range 64-bit hashes
                # overflows (benign wraparound as a digest, but an
                # ARITHMETIC_OVERFLOW error under an ANSI session — the
                # driver runs ANSI-on). One decimal column in a 1-row
                # aggregate, cost-free.
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
            )
            .collect()[0]
        )
        return (row["n"], row["h"])

    prev = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star: every node's strictly-larger neighbors attach to
        # the min of its closed neighborhood.
        sym = cur.unionByName(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient u > v; every node's smaller neighbors (and
        # itself) attach to the min of its smaller neighborhood.
        oriented = (
            large.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        smins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            oriented.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .unionByName(smins.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        cur = small
        d = digest(cur)
        if d == prev:
            break
        prev = d
    connected_components_star.last_rounds = rounds  # test-observable
    # Fixpoint: `cur` is a star forest oriented child > root.
    stars = cur.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    roots = stars.select(F.col("v").alias("u"), F.col("v")).distinct()
    return (
        stars.unionByName(roots)
        .distinct()
        .select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    )


# ----------------------------------------------------- exact substrings

SUBSTR_WINDOW = 16  # span granularity in tokens
SUBSTR_SEED = 17


def _repeated_spans(base: DataFrame, window: int = SUBSTR_WINDOW) -> DataFrame:
    """(doc_id, span_start, span_end): merged [start, end) token spans
    covered by some ``window``-token fingerprint that occurs >= 2 times
    anywhere in the corpus. ``base`` is the tokenized (doc_id, tk)
    frame — persisted by callers that also need it for other passes.
    Shared by the span REPORT (exact_substring_spans) and the span
    REMOVAL application (apply_substring_removal)."""
    # Fingerprint as a 60-bit BIGINT (first 15 hex chars of the seeded
    # md5, r10) instead of a 16-char string: the gh exchange below
    # shuffles every position row, so key width is the dominant byte
    # term of the 100× probe — an 8-byte long vs a ~40-byte string
    # roughly halves shuffled bytes and hashes/compares cheaper in the
    # window. The DuckDB twin groups on the matching substr(md5, 1, 15)
    # STRING — equality classes of the hex prefix and of its integer
    # value are identical, and spans depend only on those classes, so
    # cross-engine results are unchanged. 60 bits keeps false repeats
    # ~n²/2^61 — negligible below ~10^9 positions (the 16-char note in
    # exact_substring_spans, one hex digit narrower).
    wins = base.select(
        "doc_id",
        F.posexplode(shingles_of_tokens(F.col("tk"), window)).alias("pos", "gram"),
    ).select(
        "doc_id",
        "pos",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{SUBSTR_SEED}:"), F.col("gram"))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("gh"),
    )
    # Repeated-fingerprint filter as a COUNT WINDOW over the one
    # hash-partition-by-gh exchange (the doc_shingles single-exchange
    # trick) instead of groupBy + join back: the groupBy/join form
    # evaluates the tokenize→gram→md5 explode TWICE (once per join
    # side) and pays a second pass — measured ~40% of this operator's
    # wall clock at sf0.1. (A count-first + broadcast-semi variant was
    # measured at the 100× probe and REGRESSED: the repeated set there
    # is 4.6M fingerprints — duplication-bounded, not small — so the
    # broadcast build dwarfed the exchange it saved. Window form keeps
    # one corpus-sized exchange and zero assumptions on dup density.)
    hits = (
        wins.withColumn("cnt", F.count("*").over(Window.partitionBy("gh")))
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "pos")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    new_island = F.when(
        F.col("prev_max").isNull() | (F.col("pos") > F.col("prev_max") + window),
        1,
    ).otherwise(0)
    return (
        hits.withColumn("prev_max", F.max("pos").over(w_prev))
        .withColumn("grp", F.sum(new_island).over(w_cum))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window).alias("span_end"),
        )
    )


def exact_substring_spans(
    corpus: DataFrame, window: int = SUBSTR_WINDOW
) -> DataFrame:
    """Exact substring deduplication in the style of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): find every token span that occurs at least twice
    ANYWHERE in the corpus and report, per document, the merged spans
    that an exact-substring cleaner would cut.

    The paper builds a suffix array; the scalable Spark re-expression
    uses rolling ``window``-token fingerprints at fixed granularity —
    every repeated substring of length >= window is caught (shorter
    repeats are below the removal threshold by construction, which the
    paper sets to 50 BPE tokens). Fingerprints are 60-bit (the first 15
    hex chars of a seeded md5, carried as one BIGINT — see the
    _repeated_spans key-width note), so false repeats from fingerprint
    collisions are ~n²/2^61 — negligible below ~10^9 positions, and
    bounded (not zero) beyond; a 32-bit lane would already produce
    hundreds of false spans at the 30x probe's position count. Shapes,
    in order:

    - fingerprint explode: one row per token position (linear);
    - repeated-fingerprint set: groupBy(hash) count >= 2 — ONE map-side
      combined shuffle, layout-independent;
    - hits join: positions ⋈ repeated set on the hash — output bounded
      by actual corpus repetition;
    - span merge: classic gaps-and-islands per doc_id (two window
      functions over the SAME (doc_id, pos) ordering → one sort), with
      overlapping-or-adjacent windows fused so back-to-back repeats
      count once.

    Output per affected doc: n_spans, repeated_tokens (merged span
    token count), n_tokens, repeated_frac — exact copies score 1.0.

    Build-from-scratch form (tokenizes + persists privately); the
    registry serves from the session-cached tokenized corpus via
    :func:`exact_substring_spans_from_tokens`.
    """
    return exact_substring_spans_from_tokens(
        corpus.select("doc_id", tokens(F.col("text")).alias("tk")).persist(),
        window,
    )


def cached_repeated_spans(
    spark: SparkSession, sf_dir: str, window: int = SUBSTR_WINDOW
) -> DataFrame:
    """Session-cached repeated-span table (doc_id, grp, span_start,
    span_end) — the stage-1 artifact of exact-substring dedup. Lee et
    al. 2022's pipeline materializes the duplicate ranges to disk
    before anything consumes them; the registry mirrors that fan-out
    (the span REPORT and the applied REMOVAL both read this table)
    exactly as ``cached_jaccard_pairs`` does for the near-dup family.
    Deterministic function of the corpus, so cold and warm agree and
    the from-scratch DuckDB twins still hash-match. The span-DETECTION
    build path stays bench-measured via the ``dedup_repeated_spans``
    registry query, which deliberately bypasses this cache."""
    return get_or_build(
        spark, "repeated_spans", sf_dir,
        lambda: _repeated_spans(
            cached_tokenized_corpus(spark, sf_dir), window
        ).localCheckpoint(eager=True),
        window,
    )


def exact_substring_spans_from_tokens(
    base: DataFrame, window: int = SUBSTR_WINDOW, spans: DataFrame | None = None
) -> DataFrame:
    """Span report from a pre-materialized tokenized corpus
    (``cached_tokenized_corpus``) — no tokenization, no private
    persist. Pass ``spans`` (``cached_repeated_spans``) to serve from
    the materialized span table; otherwise span detection runs from
    ``base``."""
    if spans is None:
        spans = _repeated_spans(base, window)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("repeated_tokens"),
    )
    return per_doc.join(
        base.select("doc_id", F.size("tk").cast("long").alias("n_tokens")),
        "doc_id",
    ).select(
        "doc_id",
        "n_spans",
        "repeated_tokens",
        "n_tokens",
        (
            F.col("repeated_tokens").cast("double") / F.col("n_tokens").cast("double")
        ).alias("repeated_frac"),
    )


def repeated_spans_sql(
    source: str = "corpus", window: int = SUBSTR_WINDOW
) -> str:
    """DuckDB twin of :func:`_repeated_spans` — the raw merged-span
    table, the oracle of the ``dedup_repeated_spans`` build-path query
    (same CTE chain as the report/removal twins, cut at ss_spans)."""
    h = f"substr(md5('{SUBSTR_SEED}:' || gram), 1, 15)"
    gram = " || ' ' || ".join(f"tk[i+{j}]" for j in range(window))
    return f"""(
    WITH ss_wins AS (
        SELECT doc_id, i - 1 AS pos, {h} AS gh
        FROM (
            SELECT doc_id, i, {gram} AS gram
            FROM (
                SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
                FROM {source}
            ) t,
            unnest(generate_series(1, greatest(len(tk) - {window - 1}, 0))) AS u(i)
        ) g
    ),
    ss_rep AS (
        SELECT gh FROM ss_wins GROUP BY gh HAVING COUNT(*) >= 2
    ),
    ss_hits AS (
        SELECT w.doc_id, w.pos FROM ss_wins w JOIN ss_rep r ON w.gh = r.gh
    ),
    ss_flag AS (
        SELECT doc_id, pos,
            CASE WHEN prev_max IS NULL OR pos > prev_max + {window}
                 THEN 1 ELSE 0 END AS new_island
        FROM (
            SELECT doc_id, pos, MAX(pos) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
            FROM ss_hits
        ) p
    )
    SELECT doc_id, grp, MIN(pos) AS span_start, MAX(pos) + {window} AS span_end
    FROM (
        SELECT doc_id, pos, SUM(new_island) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM ss_flag
    ) i
    GROUP BY doc_id, grp
) ssp"""


def exact_substring_spans_sql(
    source: str = "corpus", window: int = SUBSTR_WINDOW
) -> str:
    h = f"substr(md5('{SUBSTR_SEED}:' || gram), 1, 15)"
    gram = " || ' ' || ".join(f"tk[i+{j}]" for j in range(window))
    return f"""(
    WITH ss_wins AS (
        SELECT doc_id, i - 1 AS pos, {h} AS gh
        FROM (
            SELECT doc_id, i, {gram} AS gram
            FROM (
                SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
                FROM {source}
            ) t,
            unnest(generate_series(1, greatest(len(tk) - {window - 1}, 0))) AS u(i)
        ) g
    ),
    ss_rep AS (
        SELECT gh FROM ss_wins GROUP BY gh HAVING COUNT(*) >= 2
    ),
    ss_hits AS (
        SELECT w.doc_id, w.pos FROM ss_wins w JOIN ss_rep r ON w.gh = r.gh
    ),
    ss_flag AS (
        SELECT doc_id, pos,
            CASE WHEN prev_max IS NULL OR pos > prev_max + {window}
                 THEN 1 ELSE 0 END AS new_island
        FROM (
            SELECT doc_id, pos, MAX(pos) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
            FROM ss_hits
        ) p
    ),
    ss_spans AS (
        SELECT doc_id, grp, MIN(pos) AS span_start, MAX(pos) + {window} AS span_end
        FROM (
            SELECT doc_id, pos, SUM(new_island) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
            FROM ss_flag
        ) i
        GROUP BY doc_id, grp
    ),
    ss_per_doc AS (
        SELECT doc_id, COUNT(*) AS n_spans,
            SUM(span_end - span_start) AS repeated_tokens
        FROM ss_spans GROUP BY doc_id
    ),
    ss_len AS (
        SELECT doc_id, len(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens
        FROM {source}
    )
    SELECT d.doc_id, d.n_spans, d.repeated_tokens,
        CAST(l.n_tokens AS BIGINT) AS n_tokens,
        CAST(d.repeated_tokens AS DOUBLE) / CAST(l.n_tokens AS DOUBLE)
            AS repeated_frac
    FROM ss_per_doc d JOIN ss_len l ON d.doc_id = l.doc_id
) ss"""


def apply_substring_removal(
    corpus: DataFrame, window: int = SUBSTR_WINDOW
) -> DataFrame:
    """The APPLICATION stage of exact-substring dedup (Lee et al. 2022
    actually rewrite the corpus, not just report it): remove every
    merged repeated span from every document and emit the cleaned text,
    pinned by md5 so the whole rewrite — boundary handling included —
    hash-checks against the oracle.

    Per doc: tokens whose 0-based position falls inside any
    [span_start, span_end) are dropped; survivors re-join with single
    spaces (tokenization is whitespace-normalizing, so this is the
    canonical form). Docs with no repeated spans pass through intact
    (md5 of their normalized token join).

    Scale shape: span detection is the shared :func:`_repeated_spans`
    machinery (fingerprint count + window merge); the rewrite is one
    per-doc collect_list of its OWN spans (bounded by n_tokens/window
    per doc — never corpus-sized) joined back to the tokenized corpus,
    then a single projection of nested higher-order functions (filter
    over exists) — whole-stage codegen, zero Python.

    Output: (doc_id, n_tokens, removed_tokens, kept_tokens,
    cleaned_md5).

    Build-from-scratch form (tokenizes + persists privately); the
    registry serves from the session-cached tokenized corpus via
    :func:`apply_substring_removal_from_tokens`."""
    return apply_substring_removal_from_tokens(
        corpus.select("doc_id", tokens(F.col("text")).alias("tk")).persist(),
        window,
    )


def apply_substring_removal_from_tokens(
    base: DataFrame, window: int = SUBSTR_WINDOW, spans: DataFrame | None = None
) -> DataFrame:
    """Applied removal from a pre-materialized tokenized corpus
    (``cached_tokenized_corpus``) — same rewrite, shared artifact.
    Pass ``spans`` (``cached_repeated_spans``) to serve from the
    materialized span table."""
    if spans is None:
        spans = _repeated_spans(base, window)
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("sp")
    )
    joined = base.join(sp, "doc_id", "left")
    kept = F.filter(
        F.col("tk"),
        lambda t, i: ~F.coalesce(
            F.exists(F.col("sp"), lambda x: (i >= x["s"]) & (i < x["e"])),
            F.lit(False),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        (F.size("tk") - F.size(kept)).cast("long").alias("removed_tokens"),
        F.size(kept).cast("long").alias("kept_tokens"),
        F.md5(F.array_join(kept, " ")).alias("cleaned_md5"),
    )


def apply_substring_removal_sql(
    source: str = "corpus", window: int = SUBSTR_WINDOW
) -> str:
    """DuckDB twin of :func:`apply_substring_removal`; reuses the span
    CTE chain (same fingerprints, same merge) and re-applies the same
    positional filter — DuckDB lambda indexes are 1-based, hence the
    ``i - 1``."""
    h = f"substr(md5('{SUBSTR_SEED}:' || gram), 1, 15)"
    gram = " || ' ' || ".join(f"tk[i+{j}]" for j in range(window))
    return f"""(
    WITH ss_base AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
        FROM {source}
    ),
    ss_wins AS (
        SELECT doc_id, i - 1 AS pos, {h} AS gh
        FROM (
            SELECT doc_id, i, {gram} AS gram
            FROM ss_base,
            unnest(generate_series(1, greatest(len(tk) - {window - 1}, 0))) AS u(i)
        ) g
    ),
    ss_rep AS (
        SELECT gh FROM ss_wins GROUP BY gh HAVING COUNT(*) >= 2
    ),
    ss_hits AS (
        SELECT w.doc_id, w.pos FROM ss_wins w JOIN ss_rep r ON w.gh = r.gh
    ),
    ss_flag AS (
        SELECT doc_id, pos,
            CASE WHEN prev_max IS NULL OR pos > prev_max + {window}
                 THEN 1 ELSE 0 END AS new_island
        FROM (
            SELECT doc_id, pos, MAX(pos) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
            FROM ss_hits
        ) p
    ),
    ss_spans AS (
        SELECT doc_id, grp, MIN(pos) AS span_start, MAX(pos) + {window} AS span_end
        FROM (
            SELECT doc_id, pos, SUM(new_island) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
            FROM ss_flag
        ) i
        GROUP BY doc_id, grp
    ),
    ss_sp AS (
        SELECT doc_id,
            list(struct_pack(s := span_start, e := span_end)) AS sp
        FROM ss_spans GROUP BY doc_id
    ),
    ss_kept AS (
        SELECT b.doc_id, b.tk,
            CASE WHEN s.sp IS NULL THEN b.tk
                 ELSE list_filter(b.tk, (x, i) ->
                     len(list_filter(s.sp,
                         z -> i - 1 >= z.s AND i - 1 < z.e)) = 0)
            END AS kept
        FROM ss_base b LEFT JOIN ss_sp s ON b.doc_id = s.doc_id
    )
    SELECT doc_id,
        CAST(len(tk) AS BIGINT) AS n_tokens,
        CAST(len(tk) - len(kept) AS BIGINT) AS removed_tokens,
        CAST(len(kept) AS BIGINT) AS kept_tokens,
        -- DuckDB array_to_string([]) is NULL (Spark array_join is '');
        -- a fully-removed doc must hash the empty string on both sides
        md5(COALESCE(array_to_string(kept, ' '), '')) AS cleaned_md5
    FROM ss_kept
) ssa"""


# ------------------------------------------------- incremental (delta) dedup

INCOMING_MOD = 3  # doc_id % 3 == 0 → the "new crawl increment" split
NEAR_MIN_PERMILLE = 500  # keep threshold on the signature-agreement estimate


def _band_table(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc_id, band_id, band_key) LSH banding of a signature table —
    the same banding minhash_lsh_pairs builds inline, factored so both
    the self-join (full dedup) and the two-sided join (incremental
    dedup) derive their buckets identically."""
    rows_per_band = k // bands
    frames = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + j}") for j in range(rows_per_band)]
        frames.append(
            sig.select(
                "doc_id",
                F.lit(b).alias("band_id"),
                F.concat_ws("-", *[c.cast("string") for c in cols]).alias("band_key"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def incremental_dedup(
    corpus: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    min_permille: int = NEAR_MIN_PERMILLE,
) -> DataFrame:
    """Dedup a NEW increment against the EXISTING corpus — the
    incremental-crawl shape production pipelines actually run (a full
    self-dedup of 100 TB per crawl is the thing to avoid): per incoming
    doc, exact matches against history (hash equi-join), near-dup
    candidates against history (MinHash band buckets, incoming×history
    — NOT a self-join, so candidate work is |increment|-proportional),
    and a verdict ∈ {'exact_dup', 'near_dup', 'kept'}.

    The increment is doc_id % INCOMING_MOD == 0 of the dedup fixture
    corpus; its +1M exact replicas and +2M truncated replicas land on
    both sides of the split, so all three verdicts occur. Signature
    agreement is reported as integer permille ((1000·agree) div k) —
    no floats anywhere, bit-exact oracle.

    At scale: history's hash set and band table are FROZEN artifacts
    maintained across crawls (append-only — exactly the versioned-table
    use case); per-increment cost is two hash-partitioned joins sized
    by the increment, never by history."""
    inc = corpus.filter(F.col("doc_id") % INCOMING_MOD == 0)
    hist = corpus.filter(F.col("doc_id") % INCOMING_MOD != 0)

    hist_hashes = (
        hist.select(F.md5("text").alias("th"))
        .groupBy("th")
        .agg(F.count("*").alias("n_exact_matches"))
    )
    exact = (
        inc.select("doc_id", F.md5("text").alias("th"))
        .join(hist_hashes, "th", "left")
        .select(
            "doc_id",
            F.coalesce("n_exact_matches", F.lit(0)).cast("long").alias("n_exact_matches"),
        )
    )

    sig = minhash_signatures(corpus, k).persist()
    sig_inc = sig.filter(F.col("doc_id") % INCOMING_MOD == 0)
    sig_hist = sig.filter(F.col("doc_id") % INCOMING_MOD != 0)
    cand = (
        _band_table(sig_inc, k, bands)
        .alias("x")
        .join(
            _band_table(sig_hist, k, bands).alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id"), F.col("y.doc_id").alias("hist_id")
        )
        .distinct()
    )
    agree = sum(
        F.when(F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}"), 1).otherwise(0)
        for i in range(k)
    )
    near = (
        cand.alias("c")
        .join(sig.alias("sa"), F.col("c.doc_id") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("c.hist_id") == F.col("sb.doc_id"))
        .select(F.col("c.doc_id").alias("doc_id"), (F.lit(1000) * agree).alias("agree_k"))
        .select("doc_id", F.expr(f"div(agree_k, {k})").alias("est_permille"))
        .filter(F.col("est_permille") >= min_permille)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_near_candidates"),
            F.max("est_permille").alias("max_est_permille"),
        )
    )
    out = (
        exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            "n_exact_matches",
            F.coalesce("n_near_candidates", F.lit(0)).cast("long").alias("n_near_candidates"),
            F.coalesce("max_est_permille", F.lit(0)).cast("long").alias("max_est_permille"),
        )
        .withColumn(
            "verdict",
            F.when(F.col("n_exact_matches") > 0, "exact_dup")
            .when(F.col("n_near_candidates") > 0, "near_dup")
            .otherwise("kept"),
        )
    )
    return out


def incremental_dedup_sql(
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    min_permille: int = NEAR_MIN_PERMILLE,
) -> str:
    """DuckDB twin (expects CORPUS_SQL + SHINGLES_SQL prelude): same
    split, same signature lanes, same banding, same integer permille."""
    rows_per_band = k // bands
    band_selects = []
    for b in range(bands):
        key = " || '-' || ".join(
            f"CAST(mh{b * rows_per_band + j} AS VARCHAR)" for j in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, {key} AS band_key FROM signatures"
        )
    bands_union = "\n        UNION ALL\n        ".join(band_selects)
    agree = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""(
    WITH signatures AS (
        SELECT doc_id,
        {_minhash_sql_exprs(k)}
        FROM doc_shingles
        GROUP BY doc_id
    ),
    band_table AS (
        {bands_union}
    ),
    exact_side AS (
        SELECT i.doc_id,
            COALESCE(h.n_exact_matches, 0) AS n_exact_matches
        FROM (
            SELECT doc_id, md5(text) AS th FROM corpus
            WHERE doc_id % {INCOMING_MOD} = 0
        ) i
        LEFT JOIN (
            SELECT md5(text) AS th, COUNT(*) AS n_exact_matches
            FROM corpus WHERE doc_id % {INCOMING_MOD} != 0
            GROUP BY md5(text)
        ) h USING (th)
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS hist_id
        FROM band_table x
        JOIN band_table y ON x.band_id = y.band_id AND x.band_key = y.band_key
        WHERE x.doc_id % {INCOMING_MOD} = 0 AND y.doc_id % {INCOMING_MOD} != 0
    ),
    near AS (
        SELECT doc_id, COUNT(*) AS n_near_candidates,
            MAX(est_permille) AS max_est_permille
        FROM (
            SELECT cand.doc_id, (1000 * ({agree})) // {k} AS est_permille
            FROM cand
            JOIN signatures sa ON cand.doc_id = sa.doc_id
            JOIN signatures sb ON cand.hist_id = sb.doc_id
        )
        WHERE est_permille >= {min_permille}
        GROUP BY doc_id
    )
    SELECT e.doc_id,
        e.n_exact_matches,
        COALESCE(n.n_near_candidates, 0) AS n_near_candidates,
        COALESCE(n.max_est_permille, 0) AS max_est_permille,
        CASE WHEN e.n_exact_matches > 0 THEN 'exact_dup'
             WHEN COALESCE(n.n_near_candidates, 0) > 0 THEN 'near_dup'
             ELSE 'kept' END AS verdict
    FROM exact_side e
    LEFT JOIN near n USING (doc_id)
) s"""


# -------------------------------------------- containment (overlap) pairs

CONTAINMENT_MIN = 0.8


def containment_pairs(
    corpus: DataFrame,
    n: int = 3,
    min_containment: float = CONTAINMENT_MIN,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Near-dup candidate pairs scored with the OVERLAP COEFFICIENT
    |A∩B| / min(|A|, |B|) instead of Jaccard — the asymmetric-dup
    detector: a truncated or excerpted copy is almost fully CONTAINED
    in its source, so its overlap coefficient stays ~1.0 while Jaccard
    collapses toward |B|/|A| (the fixture's +2M truncated replicas are
    exactly this case, and the 0.6-Jaccard query misses the heavily
    truncated ones by construction). Standard containment-dedup step in
    training-data pipelines (quote/boilerplate/excerpt folding).

    Same integer-exact recipe and scale shape as ngram_jaccard_pairs:
    df-pruned shingle self-join (bounded by MAX_SHINGLE_DF — never
    all-pairs), exact integer intersection counts, ONE division in
    fixed IEEE order, so the oracle hash-matches bit-for-bit. The
    doc-count side joins without a broadcast hint (grows with the
    corpus; AQE broadcasts while genuinely small)."""
    sh = doc_shingles(corpus, n, max_shingle_df).persist()
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common_shingles"))
    )
    # Persisted once, same rationale + A/B basis as ngram_jaccard_pairs
    # (optimization r11): the doc-count map pass ran once per aliased
    # join side. Same clearCache-owned lifecycle as documented there
    # (ADVICE r11).
    counts = _shingle_counts(corpus, n).persist()
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    cont = (
        common.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "common_shingles",
            F.col("ca.n_shingles").alias("shingles_a"),
            F.col("cb.n_shingles").alias("shingles_b"),
            (
                F.col("common_shingles").cast("double")
                / F.least(F.col("ca.n_shingles"), F.col("cb.n_shingles")).cast(
                    "double"
                )
            ).alias("containment"),
        )
    )
    return cont.filter(F.col("containment") >= min_containment)


CONTAINMENT_SQL = f"""(
    SELECT doc_a, doc_b, common_shingles,
        ca.n_shingles AS shingles_a, cb.n_shingles AS shingles_b,
        CAST(common_shingles AS DOUBLE)
            / CAST(least(ca.n_shingles, cb.n_shingles) AS DOUBLE) AS containment
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common_shingles
        FROM pruned_shingles a
        JOIN pruned_shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ) c
    JOIN shingle_counts ca ON c.doc_a = ca.doc_id
    JOIN shingle_counts cb ON c.doc_b = cb.doc_id
    WHERE CAST(common_shingles AS DOUBLE)
        / CAST(least(ca.n_shingles, cb.n_shingles) AS DOUBLE)
        >= {CONTAINMENT_MIN}
) s"""


# ------------------------------------------------------ n-gram novelty

def ngram_novelty(docs: DataFrame, n: int = 2) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's distinct
    word n-grams whose FIRST corpus occurrence (lowest doc_id) is this
    document — the forward-dedup / content-freshness metric a curation
    pipeline tracks to see how much genuinely new text each document
    (or each crawl increment, grouping by batch instead of doc) adds.
    Bigrams by default: the fixture's 500-doc floor makes unigram
    vocabularies fully saturated (every doc scores ~0), while bigrams
    retain mid-frequency structure (same reasoning as the BM25 index).

    One exchange for ownership: first_owner is a MIN window over the
    SAME hash-partition-by-shingle the distinct explode needs anyway
    (the doc_shingles single-exchange trick), then one aggregation by
    doc_id. Integer permille via div (Spark div ≡ DuckDB //), one IEEE
    division for the double — oracle-exact."""
    sh = _tokenized(docs).select(
        "doc_id",
        F.explode(F.array_distinct(shingles_of_tokens(F.col("tk"), n))).alias(
            "shingle"
        ),
    )
    fo = F.min("doc_id").over(Window.partitionBy("shingle"))
    return (
        sh.withColumn("first_owner", fo)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_owner") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("div(1000 * n_novel, n_shingles)").alias("novelty_permille"),
            (
                F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")
            ).alias("novelty_frac"),
        )
    )


def ngram_novelty_sql(source: str = "documents", n: int = 2) -> str:
    gram = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    return f"""(
    WITH nv_sh AS (
        SELECT doc_id, unnest(list_distinct(
            list_transform(
                generate_series(1, greatest(len(tk) - {n - 1}, 0)),
                i -> {gram})
        )) AS shingle
        FROM (
            SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
            FROM {source}
        )
    ),
    nv_fo AS (
        SELECT doc_id, shingle,
            MIN(doc_id) OVER (PARTITION BY shingle) AS first_owner
        FROM nv_sh
    )
    SELECT doc_id, COUNT(*) AS n_shingles,
        SUM(CASE WHEN first_owner = doc_id THEN 1 ELSE 0 END) AS n_novel,
        (1000 * SUM(CASE WHEN first_owner = doc_id THEN 1 ELSE 0 END))
            // COUNT(*) AS novelty_permille,
        CAST(SUM(CASE WHEN first_owner = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
    FROM nv_fo
    GROUP BY doc_id
) s"""


# ------------------------------------------------ corpus novelty curve

NOVELTY_CURVE_BUCKETS = 10
NOVELTY_CURVE_SEED = 29


def corpus_dedup_curve(
    corpus: DataFrame,
    n_buckets: int = NOVELTY_CURVE_BUCKETS,
    seed: int = NOVELTY_CURVE_SEED,
) -> DataFrame:
    """Cumulative novelty curve: "how much of the corpus is actually
    new as ingest proceeds?" — the dedup-rate-vs-corpus-size diagnostic
    a curation team reads before deciding whether crawling MORE of a
    source is worth it (novelty declining toward 0 ⇒ the source is
    exhausted).

    The corpus is split into ``n_buckets`` deterministic ingest batches
    (portable hash of doc_id — the random-arrival model; a dated corpus
    would bucket on ingest date instead, same plan). A text is NEW in
    the first batch that contains it (min bucket per md5). Output per
    batch: batch size, new-text count, cumulative totals, and exact
    integer novelty rates (ppm — floor division, bit-identical
    cross-engine).

    Scale shape: one scan into (bucket, md5) — both map-side
    expressions — then two hash aggregations whose shuffles carry
    (hash → min-bucket) and (bucket → counts); the only window runs
    over ``n_buckets`` rows (bounded by the batch count, not the
    corpus), the same bounded-digest frame as the summary reports."""
    b = (
        portable_hash32(F.col("doc_id").cast("string"), seed=seed)
        % n_buckets
    ).alias("bucket")
    d = corpus.select(b, F.md5("text").alias("h"))
    per_bucket = d.groupBy("bucket").agg(F.count("*").alias("n_docs"))
    firsts = d.groupBy("h").agg(F.min("bucket").alias("bucket"))
    return _curve_tail(per_bucket, firsts)


def novelty_bucket_col(seed: int = NOVELTY_CURVE_SEED,
                       n_buckets: int = NOVELTY_CURVE_BUCKETS) -> Column:
    """The deterministic ingest-batch assignment the curve buckets on —
    exposed so the streamed twin lands pre-bucketed rows."""
    return (
        portable_hash32(F.col("doc_id").cast("string"), seed=seed)
        % n_buckets
    )


def curve_from_cells(cells: DataFrame) -> DataFrame:
    """Novelty curve from MERGED (bucket, h, cnt) partial cells — the
    streamed serve path: per-micro-batch grouped partials merge by SUM
    (counts) and MIN (first bucket), both mergeable, so the streamed
    curve is a pure function of the multiset and the batch oracle pins
    it bit-for-bit (the streaming_mad_partials contract)."""
    per_bucket = cells.groupBy("bucket").agg(F.sum("cnt").alias("n_docs"))
    firsts = cells.groupBy("h").agg(F.min("bucket").alias("bucket"))
    return _curve_tail(per_bucket, firsts)


def _curve_tail(per_bucket: DataFrame, firsts: DataFrame) -> DataFrame:
    new_per = firsts.groupBy("bucket").agg(F.count("*").alias("n_new"))
    j = per_bucket.join(new_per, "bucket", "left").na.fill({"n_new": 0})
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        j.select(
            "bucket",
            "n_docs",
            "n_new",
            F.sum("n_docs").over(w).alias("docs_cum"),
            F.sum("n_new").over(w).alias("new_cum"),
        )
        .withColumn("novelty_ppm", F.expr("new_cum * 1000000 div docs_cum"))
        .withColumn(
            "marginal_novelty_ppm", F.expr("n_new * 1000000 div n_docs")
        )
    )


def corpus_dedup_curve_sql(
    source: str = "corpus",
    n_buckets: int = NOVELTY_CURVE_BUCKETS,
    seed: int = NOVELTY_CURVE_SEED,
) -> str:
    h = portable_hash32_sql("CAST(doc_id AS VARCHAR)", seed=seed)
    return f"""(
    WITH nc_d AS (
        SELECT ({h}) % {n_buckets} AS bucket, md5(text) AS h
        FROM {source}
    ),
    nc_pb AS (SELECT bucket, COUNT(*) AS n_docs FROM nc_d GROUP BY 1),
    nc_first AS (SELECT h, MIN(bucket) AS bucket FROM nc_d GROUP BY 1),
    nc_new AS (SELECT bucket, COUNT(*) AS n_new FROM nc_first GROUP BY 1),
    nc_j AS (
        SELECT p.bucket, p.n_docs, COALESCE(n.n_new, 0) AS n_new
        FROM nc_pb p LEFT JOIN nc_new n ON p.bucket = n.bucket
    ),
    nc_c AS (
        SELECT bucket, n_docs, n_new,
            SUM(n_docs) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS docs_cum,
            SUM(n_new) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS new_cum
        FROM nc_j
    )
    SELECT bucket, n_docs, n_new, docs_cum, new_cum,
        (new_cum * 1000000) // docs_cum AS novelty_ppm,
        (n_new * 1000000) // n_docs AS marginal_novelty_ppm
    FROM nc_c
) s"""


# ---------------------------------------- prefix-filtering SSJoin

# θ = 3/5 as an exact rational — the same 0.6 threshold as
# ngram_jaccard_pairs, but compared in integers (den·common ≥
# num·union), so the gate carries no floating-point boundary at all.
PF_JACCARD_NUM = 3
PF_JACCARD_DEN = 5


def jaccard_prefix_filter_pairs(
    corpus: DataFrame,
    n: int = 3,
    num: int = PF_JACCARD_NUM,
    den: int = PF_JACCARD_DEN,
) -> DataFrame:
    """Exact set-similarity self-join by PREFIX FILTERING (Chaudhuri/
    Ganti/Kaushik "SSJoin" ICDE 2006; Bayardo/Ma/Srikant "Scaling Up
    All Pairs" WWW 2007; Xiao et al. "PPJoin" WWW 2008) — the second,
    independent algorithm for the same answer ngram_jaccard_pairs
    approximates: order every document's shingles by one global total
    order (df ascending, shingle — rarest first), keep only the first
    |S| − ⌈θ|S|⌉ + 1 per doc, and join on THOSE. Completeness theorem:
    two sets with Jaccard ≥ θ must collide inside their prefixes under
    any shared total order, so unlike the df-pruned self-join this
    candidate generation is LOSSLESS — the output is the exact
    all-pairs result (pinned by the algorithm-equivalence test against
    the unpruned self-join).

    Scale shape: the df annotation and the candidate join both key on
    shingle (one exchange each); the per-doc prefix windows key on
    doc_id; rarest-first ordering makes prefixes the LOW-df shingles,
    so candidate fan-out per shingle is small by construction — the
    structural replacement for the df-cap heuristic. The lossless
    LENGTH filter (θ·|B| ≤ |A| in exact integers) drops size-skewed
    candidates before verification, and verification joins full
    shingle sets only for surviving candidate pairs (bounded by
    candidates × set size, never corpus²)."""
    # NOT persisted: the unpruned shingle table is corpus-sized, and
    # pinning it in the block manager is exactly what GC-thrashed the
    # 100x probe (catch #8) — recomputing the codegen explode per use
    # is cheaper than holding gigabytes of deserialized rows. At
    # cluster scale the prefix index is a WRITTEN table, not a cache.
    sh = doc_shingles(corpus, n, max_shingle_df=1 << 62)
    wdf = Window.partitionBy("shingle")
    wdoc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    wcnt = Window.partitionBy("doc_id")
    ranked = (
        sh.withColumn("df", F.count("*").over(wdf))
        .withColumn("rnk", F.row_number().over(wdoc))
        .withColumn("n_sh", F.count("*").over(wcnt))
    )
    # prefix length p = |S| − ⌈θ|S|⌉ + 1, the ceil in exact integers;
    # rnk (the position in the FULL ordered shingle list) rides along
    # for the positional filter below
    # Persisted once (optimization r12, guide §1.2/§5): the candidate
    # self-join consumes `prefix` through TWO aliases, and the executed
    # AQE plan reuses only part of the duplicated subtree (4
    # ReusedExchange but both window chains still evaluate) — so the
    # un-persisted form re-paid the corpus explode + df window + two
    # doc windows per side. `prefix` is the PRUNED table (~1−θ of the
    # shingle rows at θ=0.6), not the full corpus-sized shingle table
    # the comment above deliberately leaves uncached — interleaved A/B:
    # 2.55/2.91 → 1.63/1.73 s (min/med) at sf0.1. Persisting `docarr`
    # as well was A/B'd and LOST (1.95/2.06 — corpus-sized arrays in
    # the block manager, the r11/catch-#8 GC pattern). Lifecycle: the
    # cache lives until the session's next clearCache (the bench clears
    # between runs; a long-lived embedder should clearCache or re-plan
    # per corpus snapshot).
    prefix = ranked.filter(
        F.col("rnk")
        <= F.col("n_sh") - F.expr(f"(({num} * n_sh) + {den} - 1) div {den}") + 1
    ).select("doc_id", "shingle", "n_sh", "rnk").persist()
    # PPJoin positional filter (probe catch #8's fix): a collision at
    # positions (i, j) bounds the overlap by 1 + min(|A|−i, |B|−j); a
    # pair with Jaccard ≥ θ needs overlap α = ⌈θ/(1+θ)·(|A|+|B|)⌉, and
    # its FIRST common shingle satisfies the bound, so keeping pairs
    # with ANY passing collision is lossless. Without it the synthetic
    # corpus's tiny vocabulary produced 27.4M candidates at 100×
    # (≈ 1.4 B verification rows — the GC-thrash); with rarest-first
    # ordering the early prefix positions are df≈1 shingles that
    # cannot collide, so survivors collapse to near-true pairs.
    alpha = (
        f"(({num} * (pa.n_sh + pb.n_sh)) + {num + den} - 1)"
        f" div {num + den}"
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cands = (
        pa.join(
            pb,
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            # lossless length filter: J ≥ θ forces θ·|B| ≤ |A| ≤ |B|/θ
            & (F.col("pa.n_sh") * den >= F.col("pb.n_sh") * num)
            & (F.col("pb.n_sh") * den >= F.col("pa.n_sh") * num)
            & (
                1
                + F.least(
                    F.col("pa.n_sh") - F.col("pa.rnk"),
                    F.col("pb.n_sh") - F.col("pb.rnk"),
                )
                >= F.expr(alpha)
            ),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # Verification as PER-PAIR LIST INTERSECTION (r9; VERDICT r8 #5) —
    # which is what AllPairs/PPJoin actually do: their verify step is
    # an in-memory sorted-list merge per candidate, never a relational
    # join. The earlier explode-join verify shuffled candidate × set
    # size rows (~1.4 B at the 100× probe pre-positional-filter) and
    # paid a groupBy exchange to count them back down; this form ships
    # each doc's distinct-shingle ARRAY to its candidate pairs (two
    # doc_id-keyed joins of a ZERO-exchange map-side projection) and
    # computes the exact overlap in-row with array_intersect —
    # O(|A|+|B|) per pair, bounded row width, no post-verify exchange.
    # A PPJoin+ suffix filter would only shave part of this same
    # per-pair O(|A|+|B|) probe on the ~98% failing candidates — the
    # measured verify cost IS the intersect now, so its headroom is
    # a constant factor (SCALE.md round-9 addendum).
    docarr = _tokenized(corpus).select(
        "doc_id",
        F.array_distinct(shingles_of_tokens(F.col("tk"), n)).alias("sh_arr"),
    )
    aa, bb = docarr.alias("aa"), docarr.alias("bb")
    return (
        cands.join(aa, F.col("doc_a") == F.col("aa.doc_id"))
        .join(bb, F.col("doc_b") == F.col("bb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("aa.sh_arr", "bb.sh_arr"))
            .cast("long")
            .alias("common_shingles"),
            F.size("aa.sh_arr").cast("long").alias("shingles_a"),
            F.size("bb.sh_arr").cast("long").alias("shingles_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            "common_shingles",
            "shingles_a",
            "shingles_b",
            (
                F.col("common_shingles").cast("double")
                / (
                    F.col("shingles_a")
                    + F.col("shingles_b")
                    - F.col("common_shingles")
                ).cast("double")
            ).alias("jaccard"),
        )
        .filter(
            F.col("common_shingles") * den
            >= (
                F.col("shingles_a")
                + F.col("shingles_b")
                - F.col("common_shingles")
            )
            * num
        )
    )


def jaccard_prefix_filter_sql(
    num: int = PF_JACCARD_NUM, den: int = PF_JACCARD_DEN
) -> str:
    """DuckDB twin (expects the SHINGLES_SQL prelude — uses its
    UNPRUNED doc_shingles + shingle_counts CTEs)."""
    return f"""(
    WITH pf_df AS (
        SELECT shingle, COUNT(*) AS df FROM doc_shingles GROUP BY 1
    ),
    pf_rank AS (
        SELECT s.doc_id, s.shingle,
            ROW_NUMBER() OVER (PARTITION BY s.doc_id
                ORDER BY d.df, s.shingle) AS rnk,
            COUNT(*) OVER (PARTITION BY s.doc_id) AS n_sh
        FROM doc_shingles s JOIN pf_df d ON s.shingle = d.shingle
    ),
    pf_prefix AS (
        SELECT doc_id, shingle, n_sh, rnk FROM pf_rank
        WHERE rnk <= n_sh - (({num} * n_sh + {den} - 1) // {den}) + 1
    ),
    pf_cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pf_prefix a
        JOIN pf_prefix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            AND a.n_sh * {den} >= b.n_sh * {num}
            AND b.n_sh * {den} >= a.n_sh * {num}
            AND 1 + LEAST(a.n_sh - a.rnk, b.n_sh - b.rnk)
                >= (({num} * (a.n_sh + b.n_sh)) + {num + den} - 1)
                   // {num + den}
    ),
    pf_common AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS common_shingles
        FROM pf_cand c
        JOIN doc_shingles sa ON sa.doc_id = c.doc_a
        JOIN doc_shingles sb ON sb.doc_id = c.doc_b
                            AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, common_shingles,
        ca.n_shingles AS shingles_a, cb.n_shingles AS shingles_b,
        CAST(common_shingles AS DOUBLE)
            / CAST(ca.n_shingles + cb.n_shingles - common_shingles
                   AS DOUBLE) AS jaccard
    FROM pf_common
    JOIN shingle_counts ca ON doc_a = ca.doc_id
    JOIN shingle_counts cb ON doc_b = cb.doc_id
    WHERE common_shingles * {den}
        >= (ca.n_shingles + cb.n_shingles - common_shingles) * {num}
) s"""
