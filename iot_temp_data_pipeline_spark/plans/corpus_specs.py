"""Document-corpus query specs: quality gates (character entropy,
bigram/trigram LM surprisal, per-source quantile calibration),
near-duplicate detection (MinHash banding, prefix-filter join,
winnowing fingerprints with their overlap report, detector quality and
incremental probe), corpus statistics (Zipf fit, PMI collocations,
vocabulary growth, dedup curve), mixture and apportionment weights,
example-construction and packing plans, and the two end-to-end chains:
corpus_pipeline_full (quality gate -> exact dedup -> near dedup ->
decontamination -> domain caps -> sharded packing) and
corpus_refresh_report (admission of a crawl increment). Every entry
carries an exact DuckDB oracle, shaped by the registry's column-spec
layer."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash32, portable_hash32_sql
from ..operators import dedup as dd
from ..operators import mixture as mx
from ..operators import packing as pk
from ..operators import quality as qa
from ..operators import refresh as rf
from ..operators import text_analysis as ta
from ..sources.catalog import load_table
from .registry import ColSpec, QuerySpec, shape, sql_select

CORPUS: dict[str, QuerySpec] = {}


# ------------------------------------------- character-entropy quality

ENTROPY_SPEC: ColSpec = [
    ("doc_id", "long"),
    ("n_chars", "long"),
    ("n_distinct_chars", "long"),
    ("total_floorbits", "long"),
    ("mean_millifloorbits", "long"),
    ("is_low_entropy", ""),
]


def _char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # strategy picked from the session-cached doc-count table statistic
    # (tfidf._doc_count) instead of char_entropy's own "auto" count job
    # — saves one scan job per invocation, same cost model
    from ..operators.tfidf import _doc_count

    strategy = (
        "explode"
        if _doc_count(spark, sf_dir) >= ta.ENTROPY_EXPLODE_MIN_DOCS
        else "lambda"
    )
    return shape(
        ta.char_entropy(load_table(spark, sf_dir, "documents"), strategy),
        ENTROPY_SPEC,
    )


ENTROPY_ORACLE = sql_select(ENTROPY_SPEC, ta.char_entropy_sql())

CORPUS["char_entropy_quality"] = QuerySpec(_char_entropy, ENTROPY_ORACLE)


# --------------------------------------------- MinHash banding design

BAND_SPEC: ColSpec = [
    ("bands", "long"),
    ("rows_per_band", "long"),
    ("n_pairs", "long"),
    ("mean_detect_prob", "f4"),
    ("min_detect_prob", "f4"),
    ("expected_missed", "f4"),
]


def _band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(
        dd.minhash_band_tuning(dd.dedup_corpus(spark, sf_dir)), BAND_SPEC
    )


BAND_ORACLE = (
    "WITH "
    + dd.CORPUS_SQL.strip()
    + ",\n"
    + dd.SHINGLES_SQL.strip()
    + ",\nbt_pairs AS (SELECT jaccard FROM "
    + dd.NGRAM_JACCARD_SQL
    + ")\n"
    + sql_select(BAND_SPEC, dd.minhash_band_tuning_sql())
)

CORPUS["minhash_band_tuning"] = QuerySpec(_band_tuning, BAND_ORACLE)


# ----------------------------------------------------- Zipf-law fit

ZIPF_SPEC: ColSpec = [
    ("n_terms", "long"),
    ("n_freq_groups", "long"),
    ("slope_bits", "f4"),
    ("corr_xy", "f4"),
]


def _zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(ta.zipf_fit(load_table(spark, sf_dir, "documents")), ZIPF_SPEC)


ZIPF_ORACLE = sql_select(ZIPF_SPEC, ta.zipf_fit_sql())

CORPUS["zipf_fit_check"] = QuerySpec(_zipf_fit, ZIPF_ORACLE)


# ------------------------------------- end-to-end curation flagship

# small shard so the sf0.01 fixture exercises many shards (same
# rationale as _PACK_SHARD_DOCS in extensions.py)
_CPF_SHARD_DOCS = 256

CPF_SPEC: ColSpec = [
    ("doc_id", "long"),
    ("lang", ""),
    ("source", ""),
    ("n_tokens", "long"),
    ("shard_id", "long"),
    ("seg_idx", "long"),
    ("bin_id", "long"),
    ("offset_in_bin", "long"),
    ("seg_len", "long"),
]


def _corpus_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain over the duplicate-injected corpus:

    1. text_stats quality gate (quality_score ≥ 0.4),
    2. exact dedup (min doc_id per md5(text) hash-groupBy),
    3. near dedup (session-cached Jaccard pair table → drop doc_b),
    4. decontamination (drop any train doc sharing an 8-gram with the
       frozen eval split — contaminated_docs' gram join),
    5. domain caps in THRESHOLD form (the skew-free scale path: tiny
       per-domain aggregate broadcast back, stateless filter, no
       per-domain sort),
    6. sharded grid packing from the already-computed token counts
       (pack_sharded_from_counts — no second text scan; one hash
       exchange on shard_id, shards packed in parallel).

    Scale shape: the corpus is scanned once into text_stats, once for
    exact-dedup keys, once for decontamination grams (all map-side
    bounded aggregations/joins); the near-dup pairs come from the
    build-once/serve-many materialization (cached_jaccard_pairs — the
    build path stays measured via dedup_ngram_jaccard); every stage
    after the gram join is bounded by the SURVIVOR set, and the final
    packing shuffles survivors exactly once on shard_id. At 100 TB
    each arrow in this chain is a written table between pipeline runs;
    here the composition is one lazy plan."""
    corpus = dd.dedup_corpus(spark, sf_dir).persist()
    stats = ta.text_stats(corpus)
    keep_exact = (
        corpus.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    near_drop = (
        dd.cached_jaccard_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    contam_drop = qa.contaminated_docs(corpus).select("doc_id")
    # Materialized ONCE (OPTIMIZATION_r12.md §3): `surv` feeds
    # BOTH the per-domain count digest (a broadcast build subtree) and
    # the main capped branch, and broadcast-build subtrees run as
    # concurrent jobs — un-materialized, the ENTIRE gate→exact-dedup→
    # decontam chain (the expensive part of this flagship) evaluated
    # twice per run. localCheckpoint(eager) rather than persist():
    # the fork consumers launch concurrently under AQE, so a lazy
    # persist races both subtrees into a double build (the r11
    # hll_set_intersection finding); the eager barrier pays one tiny
    # materialization of narrow survivor rows and guarantees one
    # evaluation. Rebuilt per run (keyed to nothing), so perfbench's
    # batch_refresh still times the full chain. At 100 TB this is the written
    # survivors table between pipeline stages the docstring names.
    surv = (
        stats.join(keep_exact, "doc_id", "left_semi")
        .join(near_drop, "doc_id", "left_anti")
        .join(contam_drop, "doc_id", "left_anti")
        .filter(F.col("quality_score") >= 0.4)
        .select("doc_id", "lang", "source", "n_tokens")
        .localCheckpoint(eager=True)
    )
    # Every corpus consumer (stats / exact keys / contam grams) has
    # materialized behind the eager barrier — release the cache now
    # instead of leaking it for the session (r11 unpersist hygiene).
    corpus.unpersist()
    h = portable_hash32(F.col("doc_id").cast("string"), seed=qa.DOMAIN_SEED)
    counts = surv.groupBy("source").agg(F.count("*").alias("n_source"))
    capped = surv.join(F.broadcast(counts), "source").filter(
        h * F.col("n_source") < F.lit(qa.DOMAIN_CAP) * F.lit(1 << 32)
    )
    packed = pk.pack_sharded_from_counts(
        capped.select("doc_id", "n_tokens", "lang", "source"),
        shard_docs=_CPF_SHARD_DOCS,
        passthrough=("lang", "source"),
    )
    return shape(packed, CPF_SPEC)


def _cpf_oracle() -> str:
    h = portable_hash32_sql("CAST(doc_id AS VARCHAR)", seed=qa.DOMAIN_SEED)
    c, s = pk.CONTEXT_LEN, _CPF_SHARD_DOCS
    return (
        "WITH "
        + dd.CORPUS_SQL.strip()
        + ",\n"
        + dd.SHINGLES_SQL.strip()
        + sql_select(
            CPF_SPEC,
            f"""(
    WITH cpf_surv AS (
        SELECT doc_id, lang, source, n_tokens
        FROM {ta.text_stats_sql("corpus")}
        WHERE doc_id IN (SELECT MIN(doc_id) FROM corpus GROUP BY md5(text))
          AND doc_id NOT IN (SELECT DISTINCT doc_b FROM {dd.NGRAM_JACCARD_SQL})
          AND doc_id NOT IN (
              SELECT doc_id FROM {qa.contaminated_docs_sql("corpus")}
          )
          AND quality_score >= 0.4
    ),
    cpf_counts AS (
        SELECT source, COUNT(*) AS n_source FROM cpf_surv GROUP BY source
    ),
    cpf_capped AS (
        SELECT v.doc_id, v.lang, v.source, v.n_tokens
        FROM cpf_surv v JOIN cpf_counts n ON v.source = n.source
        WHERE ({h}) * n.n_source < {qa.DOMAIN_CAP} * 4294967296
    ),
    cpf_pd AS (
        SELECT doc_id, lang, source, doc_id // {s} AS shard_id,
            LEAST(n_tokens, {c}) AS n_tokens
        FROM cpf_capped
    ),
    cpf_pp AS (
        SELECT doc_id, lang, source, shard_id, n_tokens,
            COALESCE(SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        FROM cpf_pd
    ),
    cpf_pg AS (
        SELECT doc_id, lang, source, shard_id, n_tokens, pre,
            pre // {c} AS first_grid,
            (pre + n_tokens - 1) // {c} AS last_grid
        FROM cpf_pp
    )
    SELECT doc_id, lang, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(shard_id AS BIGINT) AS shard_id,
        CAST(0 AS BIGINT) AS seg_idx,
        CAST(shard_id * {s} + first_grid AS BIGINT) AS bin_id,
        CAST(pre - first_grid * {c} AS BIGINT) AS offset_in_bin,
        CAST(LEAST(n_tokens, (first_grid + 1) * {c} - pre) AS BIGINT)
            AS seg_len
    FROM cpf_pg
    UNION ALL
    SELECT doc_id, lang, source, CAST(n_tokens AS BIGINT),
        CAST(shard_id AS BIGINT),
        CAST(1 AS BIGINT),
        CAST(shard_id * {s} + last_grid AS BIGINT),
        CAST(0 AS BIGINT),
        CAST(pre + n_tokens - last_grid * {c} AS BIGINT)
    FROM cpf_pg WHERE first_grid <> last_grid
) cpf""",
        )
    )


CORPUS["corpus_pipeline_full"] = QuerySpec(
    _corpus_pipeline_full, _cpf_oracle()
)


CURVE_SPEC: ColSpec = [
    ("bucket", "long"),
    ("n_docs", "long"),
    ("n_new", "long"),
    ("docs_cum", "long"),
    ("new_cum", "long"),
    ("novelty_ppm", "long"),
    ("marginal_novelty_ppm", "long"),
]


def _dedup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(
        dd.corpus_dedup_curve(dd.dedup_corpus(spark, sf_dir)), CURVE_SPEC
    )


CURVE_ORACLE = (
    "WITH "
    + dd.CORPUS_SQL.strip()
    + "\n"
    + sql_select(CURVE_SPEC, dd.corpus_dedup_curve_sql("corpus"))
)

CORPUS["corpus_dedup_curve"] = QuerySpec(_dedup_curve, CURVE_ORACLE)


PMI_SPEC: ColSpec = [
    ("w1", ""),
    ("w2", ""),
    ("c_ab", "long"),
    ("c_a", "long"),
    ("c_b", "long"),
    ("lift_ppm", "long"),
]


def _pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(
        ta.pmi_collocations(load_table(spark, sf_dir, "documents")), PMI_SPEC
    )


PMI_ORACLE = sql_select(PMI_SPEC, ta.pmi_collocations_sql("documents"))

CORPUS["pmi_collocations"] = QuerySpec(_pmi, PMI_ORACLE)


QNORM_SPEC: ColSpec = [
    ("doc_id", "long"),
    ("source", ""),
    ("quality_score", "f4"),
    ("src_rank", "long"),
    ("src_n", "long"),
    ("pr_ppm", "long"),
    ("decile", "long"),
]


def _quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = ta.text_stats(load_table(spark, sf_dir, "documents"))
    return shape(qa.quality_quantile_normalize(stats), QNORM_SPEC)


QNORM_ORACLE = sql_select(
    QNORM_SPEC,
    qa.quality_quantile_normalize_sql(ta.text_stats_sql("documents")),
)

CORPUS["quality_quantile_normalize"] = QuerySpec(
    _quantile_normalize, QNORM_ORACLE
)


PF_SPEC: ColSpec = [
    ("doc_a", "long"),
    ("doc_b", "long"),
    ("common_shingles", "long"),
    ("shingles_a", "long"),
    ("shingles_b", "long"),
    ("jaccard", ""),
]


def _prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(
        dd.jaccard_prefix_filter_pairs(dd.dedup_corpus(spark, sf_dir)),
        PF_SPEC,
    )


PF_ORACLE = (
    "WITH "
    + dd.CORPUS_SQL.strip()
    + ",\n"
    + dd.SHINGLES_SQL.strip()
    + "\n"
    + sql_select(PF_SPEC, dd.jaccard_prefix_filter_sql())
)

CORPUS["dedup_prefix_filter_join"] = QuerySpec(
    _prefix_filter_join, PF_ORACLE
)


# ------------------------------------------------- winnowing fingerprints

WINNOW_SPEC: ColSpec = [
    ("doc_id", "long"),
    ("fp_hash", "long"),
    ("fp_pos", "long"),
]


def _winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fingerprint BUILD path, over the same duplicate-injected
    corpus the overlap report serves on — deliberately bypasses
    cached_winnowing_fps so the explode + window-min chain stays
    measured in this row (the cached_jaccard_pairs discipline)."""
    from ..operators.dedup import dedup_corpus

    return shape(
        ta.winnowing_fingerprints(dedup_corpus(spark, sf_dir)), WINNOW_SPEC
    )


def _winnow_fps_oracle() -> str:
    from ..operators.dedup import CORPUS_SQL

    return "WITH " + CORPUS_SQL.strip() + sql_select(
        WINNOW_SPEC, ta.winnowing_fingerprints_sql("corpus")
    )


WINNOW_ORACLE = _winnow_fps_oracle()

CORPUS["doc_fingerprints_winnowing"] = QuerySpec(_winnow_fps, WINNOW_ORACLE)


WINNOW_INDEX_SPEC: ColSpec = [
    ("doc_a", "long"),
    ("doc_b", "long"),
    ("shared_fps", "long"),
]


def _winnow_pair_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS pair-index BUILD path (bucket → packed-pair explode →
    count), over the session-cached fingerprint table — bypasses
    cached_winnowing_pairs so the pair generation stays measured here
    (the dedup_repeated_spans precedent: the upstream artifact is
    cached, the detection pass is the row's own work)."""
    return shape(
        ta.winnowing_pair_index(ta.cached_winnowing_fps(spark, sf_dir)),
        WINNOW_INDEX_SPEC,
    )


def _winnow_pair_index_oracle() -> str:
    from ..operators.dedup import CORPUS_SQL

    return "WITH " + CORPUS_SQL.strip() + sql_select(
        WINNOW_INDEX_SPEC, ta.winnowing_pair_index_sql("corpus")
    )


CORPUS["dedup_winnowing_pair_index"] = QuerySpec(
    _winnow_pair_index, _winnow_pair_index_oracle()
)


WINNOW_PAIRS_SPEC: ColSpec = [
    ("doc_a", "long"),
    ("doc_b", "long"),
    ("shared_fps", "long"),
    ("fps_a", "long"),
    ("fps_b", "long"),
    ("overlap_permille", "long"),
]


def _winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the REPORT row: serves from both session artifacts (fingerprint
    # table for per-doc counts, pair index for the shared counts) —
    # two count-joins (broadcast below the corpus-statistic threshold,
    # ADVICE r10) + a projection; the builds stay measured via
    # doc_fingerprints_winnowing / dedup_winnowing_pair_index above
    from ..operators.tfidf import _query_side_hint

    return shape(
        ta.winnowing_overlap_pairs(
            fp=ta.cached_winnowing_fps(spark, sf_dir),
            pairs=ta.cached_winnowing_pairs(spark, sf_dir),
            count_hint=_query_side_hint(spark, sf_dir),
        ),
        WINNOW_PAIRS_SPEC,
    )


def _winnow_pairs_oracle() -> str:
    from ..operators.dedup import CORPUS_SQL

    return "WITH " + CORPUS_SQL.strip() + sql_select(
        WINNOW_PAIRS_SPEC, ta.winnowing_overlap_pairs_sql("corpus")
    )


CORPUS["dedup_winnowing_overlap"] = QuerySpec(
    _winnow_pairs, _winnow_pairs_oracle()
)


# ------------------------------------------- temperature mixture weights

MTW_SPEC: ColSpec = [
    ("source", ""),
    ("n_tokens", "long"),
    ("share_ppm", "long"),
    ("weight", "long"),
    ("weight_ppm", "long"),
    ("boost_permille", "long"),
]


def _mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(
        mx.mixture_temperature_weights(load_table(spark, sf_dir, "documents")),
        MTW_SPEC,
    )


MTW_ORACLE = sql_select(MTW_SPEC, mx.mixture_temperature_weights_sql("documents"))

CORPUS["mixture_temperature_weights"] = QuerySpec(
    _mixture_temperature, MTW_ORACLE
)


# -------------------------------------------- Heaps vocab growth curve

VOCAB_GROWTH_SPEC: ColSpec = [
    ("bucket", "long"),
    ("n_tokens", "long"),
    ("new_types", "long"),
    ("cum_tokens", "long"),
    ("cum_types", "long"),
    ("ttr_ppm", "long"),
]


def _vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(
        ta.vocab_growth_curve(load_table(spark, sf_dir, "documents")),
        VOCAB_GROWTH_SPEC,
    )


CORPUS["vocab_growth_curve"] = QuerySpec(
    _vocab_growth,
    sql_select(VOCAB_GROWTH_SPEC, ta.vocab_growth_curve_sql("documents")),
)


# --------------------------------- example-construction transforms

SPAN_CORRUPT_SPEC: ColSpec = [
    ("doc_id", "long"),
    ("n_tokens", "long"),
    ("n_corrupted", "long"),
    ("n_spans", "long"),
    ("corruption_ppm", "long"),
    ("kept_md5", ""),
    ("corrupted_md5", ""),
]


def _span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import augment as ag

    return shape(
        ag.span_corruption_plan(load_table(spark, sf_dir, "documents")),
        SPAN_CORRUPT_SPEC,
    )


def _span_corruption_oracle() -> str:
    from ..operators import augment as ag

    return sql_select(SPAN_CORRUPT_SPEC, ag.span_corruption_plan_sql("documents"))


CORPUS["span_corruption_plan"] = QuerySpec(
    _span_corruption, _span_corruption_oracle()
)


FIM_SPEC: ColSpec = [
    ("doc_id", "long"),
    ("n_tokens", "long"),
    ("cut1", "long"),
    ("cut2", "long"),
    ("is_psm", ""),
    ("prefix_md5", ""),
    ("middle_md5", ""),
    ("suffix_md5", ""),
]


def _fim_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import augment as ag

    return shape(
        ag.fim_transform_plan(load_table(spark, sf_dir, "documents")), FIM_SPEC
    )


def _fim_oracle() -> str:
    from ..operators import augment as ag

    return sql_select(FIM_SPEC, ag.fim_transform_plan_sql("documents"))


CORPUS["fim_transform_plan"] = QuerySpec(_fim_plan, _fim_oracle())


# ------------------------------------- Hamilton sample apportionment

HAMILTON_SPEC: ColSpec = [
    ("source", ""),
    ("n_docs", "long"),
    ("base_alloc", "long"),
    ("residue", "long"),
    ("got_topup", ""),
    ("final_alloc", "long"),
]


def _hamilton(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(
        mx.stratified_allocation_hamilton(load_table(spark, sf_dir, "documents")),
        HAMILTON_SPEC,
    )


CORPUS["stratified_allocation_hamilton"] = QuerySpec(
    _hamilton,
    sql_select(HAMILTON_SPEC, mx.stratified_allocation_hamilton_sql("documents")),
)


# ------------------------------------ epoch shuffle / seq-len audits

FOOTRULE_SPEC: ColSpec = [
    ("shard_id", "long"),
    ("n_docs", "long"),
    ("footrule_sum", "long"),
    ("footrule_permille_of_max", "long"),
]


def _footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import packing as pk

    return shape(
        pk.epoch_shuffle_footrule(load_table(spark, sf_dir, "documents")),
        FOOTRULE_SPEC,
    )


def _footrule_oracle() -> str:
    from ..operators import packing as pk

    return sql_select(FOOTRULE_SPEC, pk.epoch_shuffle_footrule_sql("documents"))


CORPUS["epoch_shuffle_footrule"] = QuerySpec(_footrule, _footrule_oracle())


SEQLEN_SPEC: ColSpec = [
    ("seq_len", "long"),
    ("n_docs", "long"),
    ("total_tokens", "long"),
    ("kept_tokens", "long"),
    ("trunc_tokens", "long"),
    ("pad_tokens", "long"),
    ("utilization_ppm", "long"),
]


def _seq_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import packing as pk

    return shape(
        pk.seq_len_tradeoff(load_table(spark, sf_dir, "documents")), SEQLEN_SPEC
    )


def _seq_len_oracle() -> str:
    from ..operators import packing as pk

    return sql_select(SEQLEN_SPEC, pk.seq_len_tradeoff_sql("documents"))


CORPUS["seq_len_tradeoff_curve"] = QuerySpec(_seq_len, _seq_len_oracle())


# ------------------------------- winnowing detector quality (vs exact)

WDQ_SPEC: ColSpec = [
    ("n_exact", "long"),
    ("n_detected", "long"),
    ("true_positives", "long"),
    ("precision", "f4"),
    ("recall", "f4"),
]


def _winnowing_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MOSS shared-fingerprint detector against
    the exact n-gram-Jaccard pair table — the minhash_lsh_quality twin
    for the positional-fingerprint family: how well does the cheap
    locality sketch recover the exact near-dup pairs? One full-outer
    join of two small pair sets; both heavy inputs are session-cached
    artifacts (cached_jaccard_pairs / cached_winnowing_fps), their
    builds measured by their own registry rows."""
    from pyspark.sql import functions as F

    from ..operators import dedup as dd

    exact = (
        dd.cached_jaccard_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("in_exact", F.lit(1))
    )
    detected = (
        ta.cached_winnowing_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("in_det", F.lit(1))
    )
    joined = exact.join(detected, ["doc_a", "doc_b"], "full_outer")
    out = joined.agg(
        F.coalesce(F.sum("in_exact"), F.lit(0)).alias("n_exact"),
        F.coalesce(F.sum("in_det"), F.lit(0)).alias("n_detected"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("in_exact").isNotNull() & F.col("in_det").isNotNull(),
                    1,
                )
            ),
            F.lit(0),
        ).alias("true_positives"),
    ).select(
        "n_exact",
        "n_detected",
        "true_positives",
        (
            F.col("true_positives").cast("double")
            / F.nullif(F.col("n_detected").cast("double"), F.lit(0.0))
        ).alias("precision"),
        (
            F.col("true_positives").cast("double")
            / F.nullif(F.col("n_exact").cast("double"), F.lit(0.0))
        ).alias("recall"),
    )
    return shape(out, WDQ_SPEC)


def _winnowing_quality_oracle() -> str:
    from ..operators import dedup as dd

    return (
        "WITH "
        + dd.CORPUS_SQL.strip()
        + ",\n"
        + dd.SHINGLES_SQL.strip()
        + sql_select(
            WDQ_SPEC,
            f"""(
    WITH wq_exact AS (SELECT doc_a, doc_b FROM {dd.NGRAM_JACCARD_SQL}),
    wq_det AS (
        SELECT doc_a, doc_b FROM {ta.winnowing_overlap_pairs_sql("corpus")}
    ),
    wq_tp AS (
        SELECT COUNT(*) AS tp FROM wq_exact e
        JOIN wq_det d ON e.doc_a = d.doc_a AND e.doc_b = d.doc_b
    )
    SELECT (SELECT COUNT(*) FROM wq_exact) AS n_exact,
        (SELECT COUNT(*) FROM wq_det) AS n_detected,
        tp AS true_positives,
        CAST(tp AS DOUBLE)
            / NULLIF((SELECT COUNT(*) FROM wq_det), 0) AS precision,
        CAST(tp AS DOUBLE)
            / NULLIF((SELECT COUNT(*) FROM wq_exact), 0) AS recall
    FROM wq_tp
) wq""",
        )
    )


CORPUS["winnowing_detector_quality"] = QuerySpec(
    _winnowing_quality, _winnowing_quality_oracle()
)


# ------------------ incremental winnowing (delta-crawl history probe)
# Probe this crawl's increment against the frozen history fingerprint
# index; the streamed twin lives in plans/streaming_specs.py.

WINNOW_INC_SPEC: ColSpec = [
    ("doc_id", "long"),
    ("n_fp", "long"),
    ("n_hist_matches", "long"),
    ("best_shared", "long"),
    ("best_overlap_permille", "long"),
    ("verdict", ""),
]


def _winnow_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serves from the session-cached fingerprint table of the
    dup-injected corpus (the frozen-index lifecycle: at 100 TB the
    history side is a written fingerprint index refreshed per snapshot,
    and the increment's fingerprints are the crawl batch's own build —
    measured here as the probe-join cost over the cached table). The
    count joins get the corpus-statistic-backed broadcast hint (the
    tfidf _query_side_hint discipline)."""
    from ..operators.tfidf import _query_side_hint

    return shape(
        ta.winnowing_incremental_overlap(
            ta.cached_winnowing_fps(spark, sf_dir),
            count_hint=_query_side_hint(spark, sf_dir),
        ),
        WINNOW_INC_SPEC,
    )


def _winnow_incremental_oracle() -> str:
    from ..operators.dedup import CORPUS_SQL

    return "WITH " + CORPUS_SQL.strip() + sql_select(
        WINNOW_INC_SPEC, ta.winnowing_incremental_overlap_sql("corpus")
    )


CORPUS["dedup_incremental_winnowing"] = QuerySpec(
    _winnow_incremental, _winnow_incremental_oracle()
)


# ------------------------- per-doc bigram-LM surprisal (CCNet gate)

BIGRAM_SURPRISAL_SPEC: ColSpec = [
    ("doc_id", "long"),
    ("lang", ""),
    ("n_bigrams", "long"),
    ("total_bits", "long"),
    ("mean_centibits", "long"),
]


def _bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table

    return shape(
        ta.bigram_surprisal_per_doc(load_table(spark, sf_dir, "documents")),
        BIGRAM_SURPRISAL_SPEC,
    )


CORPUS["quality_bigram_surprisal"] = QuerySpec(
    _bigram_surprisal,
    sql_select(
        BIGRAM_SURPRISAL_SPEC, ta.bigram_surprisal_per_doc_sql("documents")
    ),
)


# ------------------------- dataloader batch-contamination audit

CONTAM_SPEC: ColSpec = [
    ("n_pairs", "long"),
    ("co_shard_pairs", "long"),
    ("co_batch_pairs", "long"),
    ("co_batch_permille", "long"),
]


def _batch_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes two session artifacts: the verified near-dup pair table
    (cached_jaccard_pairs — build measured by dedup_ngram_jaccard) and
    the shuffle manifest of the SAME dup-injected corpus (the training
    set with its duplicates — that is what the dataloader actually
    batches)."""
    from ..operators import dedup as dd
    from ..operators import packing as pk

    manifest = pk.corpus_shuffle_manifest(dd.dedup_corpus(spark, sf_dir))
    pairs = dd.cached_jaccard_pairs(spark, sf_dir)
    return shape(pk.batch_contamination_audit(manifest, pairs), CONTAM_SPEC)


def _batch_contamination_oracle() -> str:
    from ..operators import dedup as dd
    from ..operators import packing as pk

    return (
        "WITH "
        + dd.CORPUS_SQL.strip()
        + ",\n"
        + dd.SHINGLES_SQL.strip()
        + sql_select(
            CONTAM_SPEC,
            pk.batch_contamination_audit_sql(dd.NGRAM_JACCARD_SQL, "corpus"),
        )
    )


CORPUS["dataloader_contamination_audit"] = QuerySpec(
    _batch_contamination, _batch_contamination_oracle()
)


# ------------------------------- UniMax budget allocation (mixture)

UNIMAX_SPEC: ColSpec = [
    ("source", ""),
    ("n_tokens", "long"),
    ("cap_tokens", "long"),
    ("allocated_tokens", "long"),
    ("capped", ""),
    ("epochs_permille", "long"),
]


def _unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import mixture as mx
    from ..sources.catalog import load_table

    return shape(
        mx.mixture_unimax_allocation(load_table(spark, sf_dir, "documents")),
        UNIMAX_SPEC,
    )


def _unimax_oracle() -> str:
    from ..operators import mixture as mx

    return sql_select(UNIMAX_SPEC, mx.mixture_unimax_allocation_sql("documents"))


CORPUS["mixture_unimax_allocation"] = QuerySpec(_unimax, _unimax_oracle())


# ------------------------------- delta-crawl corpus refresh report
# The end-to-end admission pipeline over this crawl's increment (exact
# dedup + winnowing near-dup + history-LM surprisal gate + co-batch
# contamination audit); the streamed twin lives in
# plans/streaming_specs.py.

REFRESH_SPEC: ColSpec = [
    ("doc_id", "long"),
    ("n_exact", "long"),
    ("n_fp", "long"),
    ("best_overlap_permille", "long"),
    ("n_bigrams", "long"),
    ("n_oov", "long"),
    ("mean_centibits", "long"),
    ("action", ""),
    ("co_batch_dup", "long"),
]


def _corpus_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per increment document with all three admission gates
    and the post-admission contamination flag. The history artifacts
    are frozen session tables (their builds carry their own measured
    registry rows: doc_fingerprints_winnowing for the fingerprint
    index, dedup_winnowing_pair_index for the pair table); the row's
    own work is the increment-proportional probe cost — the thing a
    crawl pays daily."""
    return shape(rf.corpus_refresh_report(spark, sf_dir), REFRESH_SPEC)


def _corpus_refresh_oracle() -> str:
    from ..operators.dedup import CORPUS_SQL

    return "WITH " + CORPUS_SQL.strip() + sql_select(
        REFRESH_SPEC, rf.corpus_refresh_sql()
    )


CORPUS["corpus_refresh_report"] = QuerySpec(
    _corpus_refresh, _corpus_refresh_oracle()
)


# ---------------- add-one-smoothed trigram LM gate (VERDICT r10 #5)

TRIGRAM_SPEC: ColSpec = [
    ("doc_id", "long"),
    ("n_trigrams", "long"),
    ("n_unseen", "long"),
    ("total_bits", "long"),
    ("mean_centibits", "long"),
]


def _trigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-shaped gate: score the increment (doc_id % 3 == 0 of
    the documents table) under the add-one-smoothed trigram model of
    the HISTORY side — the split that actually exercises the smoothing
    (self-scoring never sees an unseen n-gram)."""
    from ..operators import text_analysis as ta
    from ..sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    inc = docs.filter(F.col("doc_id") % ta.WINNOW_INC_MOD == 0)
    hist = docs.filter(F.col("doc_id") % ta.WINNOW_INC_MOD != 0)
    return shape(ta.trigram_surprisal_per_doc(inc, hist), TRIGRAM_SPEC)


def _trigram_oracle() -> str:
    from ..operators.text_analysis import trigram_surprisal_sql

    return sql_select(TRIGRAM_SPEC, trigram_surprisal_sql("documents"))


CORPUS["quality_trigram_surprisal"] = QuerySpec(
    _trigram_surprisal, _trigram_oracle()
)
