"""Delta-crawl corpus refresh — the end-to-end composition of the
round-10/11 incremental curation pieces (VERDICT r10 #4): for every
document in this crawl's increment, run the THREE admission gates a
production corpus-refresh pipeline runs against its FROZEN history
artifacts, then audit the admitted set for dataloader batch
contamination:

1. exact dedup     — md5(text) against the history hash set
                     (operators/dedup.incremental_dedup's exact side);
2. near-dup        — winnowing/MOSS fingerprint overlap against the
                     pruned history fingerprint index
                     (text_analysis.winnowing_incremental_overlap);
3. LM quality      — CCNet-style bigram surprisal under the HISTORY
                     bigram model (Wenzek et al. 2020: score new text
                     under the reference LM, not under itself —
                     text_analysis.bigram_surprisal_per_doc scores the
                     corpus under its own model; this gate scores the
                     increment under frozen history counts, with OOV
                     bigrams counted separately);
4. contamination   — the admitted docs are placed by the deterministic
                     shuffle manifest (packing.corpus_shuffle_manifest)
                     and near-dup pairs BOTH admitted and co-batched
                     are flagged (packing.batch_contamination_audit's
                     per-doc form) — the false-negative / memorization
                     audit that runs after admission, before packing.

Every gate is a pure function of (document, frozen history artifacts),
so the per-doc report is batching- and order-independent — which is
what makes the streamed twin (plans/streaming_specs.py
``streaming_corpus_refresh``: the increment arrives in micro-batches,
each batch runs :func:`refresh_gate_report` against the same frozen
artifacts via foreachBatch) pinnable by the SAME batch oracle, the
mergeable-artifact contract of the streaming family.

Scale shape (100 TB posture): history artifacts are written indexes
refreshed per snapshot (hash set, pruned fingerprint postings, bigram
model — all the build-once/serve-many lifecycle); per-crawl cost is
increment-proportional probe joins into their partitioning, never
|history|² and never a self-join. The bigram bits model is
vocab-bounded (broadcast locally; bucketed shuffle join at a 100 TB
vocabulary, the tfidf postings posture). The contamination audit is
pair-table-sized. Reference basis: the reference pipeline's
exactly-once ingest + staged quality gates
(dlt_ingest/iot_temperature_pipeline.py staging → mart promotion);
the gates themselves are the public curation literature (Lee et al.
2022, Schleimer et al. 2003, Wenzek et al. 2020).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import shingles_of_tokens, tokens
from .packing import CONTAM_BATCH_DOCS, corpus_shuffle_manifest, corpus_shuffle_manifest_sql
from .text_analysis import (
    WINNOW_DUP_PERMILLE,
    WINNOW_INC_MOD,
    WINNOW_MAX_FP_DF,
    WINNOW_MIN_SHARED,
    bigram_bits_from_counts,
    cached_winnowing_fps,
    cached_winnowing_pairs,
    winnowing_fingerprints,
    winnowing_fingerprints_sql,
    winnowing_pair_index_sql,
)

# Surprisal admission cut, in mean centibits per SEEN bigram under the
# history model. The fixture's synthetic text clusters tightly
# (sf0.01 p50≈491 max 509; sf0.1 p50≈480 max 537 — measured), so 500
# drops the high-surprisal tail at both scales while keeping the bulk;
# on a real corpus this would be the CCNet middle-perplexity band cut.
REFRESH_SURPRISAL_MAX_CENTIBITS = 500
# Shard count for the admitted-set contamination audit: small enough
# that shards hold several CONTAM_BATCH_DOCS-sized batches even at
# sf0.01 (so co-shard ≠ co-batch is actually exercised), the audit's
# point.
REFRESH_SHARDS = 4


def history_artifacts(spark: SparkSession, sf_dir: str):
    """The frozen history-side artifacts every gate probes, built once
    per version of sf_dir (at 100 TB: written indexes refreshed per corpus
    snapshot, exactly the versioned-table lifecycle). Returns
    (hist_hashes, hist_fp_pruned, hist_fp_counts, bits) — all
    localCheckpointed under the artifact-cache lifecycle
    (build-once/serve-many, the cached_winnowing_fps precedent), both
    because the streamed twin re-executes the static side of every
    stream-static join per micro-batch and because the registry rows
    measure the PER-CRAWL serve cost (the thing a crawl pays daily);
    the artifact builds are bench-measured through their own rows —
    the fingerprint index by doc_fingerprints_winnowing, the bigram
    model build by streaming_bigram_lm_partials' batch kernel — and
    the md5 hash set is one corpus aggregate."""
    from ..sources.catalog import get_or_build
    from .dedup import dedup_corpus

    def build():
        corpus = dedup_corpus(spark, sf_dir)
        hist_docs = corpus.filter(F.col("doc_id") % WINNOW_INC_MOD != 0)
        hist_hashes = (
            hist_docs.select(F.md5("text").alias("th"))
            .groupBy("th")
            .agg(F.count("*").alias("n_exact"))
            .localCheckpoint(eager=True)
        )
        fp = cached_winnowing_fps(spark, sf_dir)
        hist_fp = fp.filter(F.col("doc_id") % WINNOW_INC_MOD != 0)
        # boilerplate prune rides the same fp_hash exchange the probe join
        # needs (the winnowing_incremental_overlap shape)
        hist_fp_pruned = (
            hist_fp.withColumn(
                "df", F.count("*").over(Window.partitionBy("fp_hash"))
            )
            .filter(F.col("df") <= WINNOW_MAX_FP_DF)
            .select(F.col("doc_id").alias("hist_id"), "fp_hash")
            .localCheckpoint(eager=True)
        )
        hist_fp_counts = (
            hist_fp.groupBy("doc_id")
            .agg(F.count("*").alias("n_fp_h"))
            .withColumnRenamed("doc_id", "hist_id")
            .localCheckpoint(eager=True)
        )
        # history bigram model → conditional floor-log2 bits (vocab-sized)
        hist_c2 = (
            hist_docs.select(tokens(F.col("text")).alias("tk"))
            .select(F.explode(shingles_of_tokens(F.col("tk"), 2)).alias("bg"))
            .groupBy("bg")
            .agg(F.count("*").alias("c2"))
        )
        bits = (
            bigram_bits_from_counts(hist_c2)
            .select("bg", "bits")
            .localCheckpoint(eager=True)
        )
        return (hist_hashes, hist_fp_pruned, hist_fp_counts, bits)

    return get_or_build(spark, "refresh_history", sf_dir, build)


def refresh_gate_report(
    inc_docs: DataFrame,
    hist_hashes: DataFrame,
    hist_fp_pruned: DataFrame,
    hist_fp_counts: DataFrame,
    bits: DataFrame,
    count_hint=None,
) -> DataFrame:
    """Per-document admission report for a set of increment documents
    against the frozen history artifacts — the batch kernel shared
    verbatim by the batch registry row and each micro-batch of the
    streamed twin (one definition site, so the two can never diverge).
    Every column is a pure per-doc function of (doc, frozen history):
    no cross-increment state, which is what makes the streamed
    composition exact.

    ``count_hint``: cost-based broadcast hint for the |docs|-sized
    count joins (ADVICE r10 discipline — default identity, AQE
    decides). The bits model join broadcasts unconditionally only
    because it is VOCAB-sized, not corpus-sized (the
    bigram_surprisal_per_doc contract)."""
    hint = count_hint if count_hint is not None else (lambda df: df)

    base = inc_docs.select("doc_id", "text")

    # gate 1: exact hash vs history
    exact = base.select("doc_id", F.md5("text").alias("th")).join(
        hist_hashes, "th", "left"
    ).select(
        "doc_id", F.coalesce("n_exact", F.lit(0)).cast("long").alias("n_exact")
    )

    # gate 2: winnowing overlap vs the pruned history index.
    # n_fp rides the fingerprint rows as a count window over the SAME
    # doc_id grouping the distinct already pays (optimization r12,
    # guide §1.2/§2.4): the old form joined a separate inc_counts
    # aggregate into `best` AND into the final report — with the
    # aliased sides not sharing evaluation (the r11 AQE finding), the
    # winnowing fingerprint build (the gate's expensive kernel) ran
    # THREE times per report. Carrying n_fp in-row drops the probe-side
    # count join outright (max(n_fp) in the pair aggregate is exact —
    # n_fp is constant within a (doc, hist) group), and inc_counts
    # becomes a narrow projection of the same rows: two fingerprint
    # evaluations → and ONE behind corpus_refresh_report's barrier.
    inc_fp = (
        winnowing_fingerprints(base)
        .select("doc_id", "fp_hash")
        .distinct()
        .withColumn("n_fp", F.count("*").over(Window.partitionBy("doc_id")))
    )
    inc_counts = inc_fp.select("doc_id", "n_fp").distinct()
    best = (
        inc_fp.join(hist_fp_pruned, "fp_hash")
        .groupBy("doc_id", "hist_id")
        .agg(F.count("*").alias("shared_fps"), F.max("n_fp").alias("n_fp"))
        .filter(F.col("shared_fps") >= WINNOW_MIN_SHARED)
        .join(hint(hist_fp_counts), "hist_id")
        .groupBy("doc_id")
        .agg(
            F.max(
                F.expr("div(1000 * shared_fps, least(n_fp, n_fp_h))")
            ).alias("best_overlap_permille")
        )
    )

    # gate 3: bigram surprisal under the history model; bits is joined
    # UNFILTERED (unlike bigram_surprisal_per_doc's nonzero-only
    # broadcast) because a null here must mean OOV, not zero bits
    lm = (
        base.select("doc_id", tokens(F.col("text")).alias("tk"))
        .select(
            "doc_id", F.explode(shingles_of_tokens(F.col("tk"), 2)).alias("bg")
        )
        .join(F.broadcast(bits), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("bits").isNull().cast("long")).alias("n_oov"),
            F.sum(F.coalesce("bits", F.lit(0))).alias("total_bits"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_oov",
            F.expr(
                "div(100 * total_bits, greatest(n_bigrams - n_oov, 1))"
            ).alias("mean_centibits"),
        )
    )

    return (
        base.select("doc_id")
        .join(hint(exact), "doc_id", "left")
        .join(hint(inc_counts), "doc_id", "left")
        .join(hint(best), "doc_id", "left")
        .join(hint(lm), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            F.coalesce("n_fp", F.lit(0)).alias("n_fp"),
            F.coalesce("best_overlap_permille", F.lit(0)).alias(
                "best_overlap_permille"
            ),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.coalesce("mean_centibits", F.lit(0)).alias("mean_centibits"),
        )
        .withColumn(
            "action",
            F.when(F.col("n_exact") > 0, F.lit("drop_exact"))
            .when(
                F.col("best_overlap_permille") >= WINNOW_DUP_PERMILLE,
                F.lit("drop_neardup"),
            )
            .when(
                F.col("mean_centibits") > REFRESH_SURPRISAL_MAX_CENTIBITS,
                F.lit("drop_lm"),
            )
            .otherwise(F.lit("keep")),
        )
    )


def corpus_refresh_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch composition: gate report over the full increment plus
    the co-batch contamination flag on the admitted set. The
    contamination side reuses the session pair index
    (cached_winnowing_pairs); the placement joins restrict it to pairs
    with BOTH ends admitted (kept ⊆ increment) — precisely the pairs
    the vs-history gates cannot see (two novel near-duplicates of EACH
    OTHER both pass), which is why the audit exists."""
    from ..operators.tfidf import _query_side_hint
    from .dedup import dedup_corpus

    hist_hashes, hist_fp_pruned, hist_fp_counts, bits = history_artifacts(
        spark, sf_dir
    )
    inc_docs = dedup_corpus(spark, sf_dir).filter(
        F.col("doc_id") % WINNOW_INC_MOD == 0
    )
    hint = _query_side_hint(spark, sf_dir)
    gate = refresh_gate_report(
        inc_docs, hist_hashes, hist_fp_pruned, hist_fp_counts, bits,
        count_hint=hint,
    )
    # Materialized ONCE (optimization r12, guide §1.2/§5 — the
    # corpus_pipeline_full pattern): attach_cobatch_flag consumes the
    # gate report twice (the kept→placement path and the report spine),
    # so un-materialized the whole three-gate probe ran twice per run.
    # Eager barrier, not persist, for the same concurrent-subtree race
    # reason as corpus_pipeline_full; one narrow row per increment doc.
    # At 100 TB this is the written admission report the audit then
    # reads — and the barrier stays inside the timed builder. The
    # streamed twin is untouched: its per-micro-batch gate frames flow
    # through foreachBatch unchanged.
    gate = gate.localCheckpoint(eager=True)
    return attach_cobatch_flag(spark, sf_dir, gate, count_hint=hint)


def attach_cobatch_flag(
    spark: SparkSession,
    sf_dir: str,
    gate: DataFrame,
    count_hint=None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Contamination audit over an admission report: place the kept
    docs with the deterministic shuffle manifest and flag every kept
    doc that shares a (shard, batch) with a near-dup partner that was
    ALSO kept. Shared by the batch row and the streamed twin's
    finishing query (the streamed audit runs after the refresh lands,
    exactly like production). Pair-table-sized joins + a distinct —
    never corpus².

    Fixture honesty note: on the dup-injected test corpus the flag is
    STRUCTURALLY zero — the injected duplicate ids shift by 1M/2M and
    1M ≡ 1, 2M ≡ 2 (mod WINNOW_INC_MOD=3), so an injected pair can
    never have both ends inside the mod-3 increment. The oracle pins
    the zero exactly; the positive path is pinned by
    tests/test_r11_ops.py with an injected ``pairs`` table (which is
    also the at-scale seam: pass the near-dup pair table of the
    refreshed corpus snapshot)."""
    hint = count_hint if count_hint is not None else (lambda df: df)
    kept = gate.filter(F.col("action") == "keep").select("doc_id")
    place = corpus_shuffle_manifest(kept, n_shards=REFRESH_SHARDS).select(
        "doc_id",
        "shard_id",
        F.expr(f"div(shard_pos - 1, {CONTAM_BATCH_DOCS})").alias("batch_id"),
    )
    if pairs is None:
        pairs = cached_winnowing_pairs(spark, sf_dir)
    # No increment-mod filter here (review r11): the inner joins
    # against the placements already restrict pairs to both-ends-kept
    # (kept ⊆ the caller's gate report), so a mod filter is redundant
    # on the registry path and would silently ZERO the audit for an
    # injected pairs table whose ids don't follow the fixture's mod
    # convention — the documented at-scale seam.
    inc_pairs = pairs
    pa = place.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shard_id").alias("shard_a"),
        F.col("batch_id").alias("batch_a"),
    )
    pb = place.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shard_id").alias("shard_b"),
        F.col("batch_id").alias("batch_b"),
    )
    # inner joins against the placements double as the both-ends-kept
    # filter (a dropped doc has no placement row)
    cob = (
        inc_pairs.select("doc_a", "doc_b")
        .join(pa, "doc_a")
        .join(pb, "doc_b")
        .filter(
            (F.col("shard_a") == F.col("shard_b"))
            & (F.col("batch_a") == F.col("batch_b"))
        )
    )
    flagged = (
        cob.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cob.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("cb", F.lit(1))
    )
    return gate.join(hint(flagged), "doc_id", "left").select(
        "doc_id",
        "n_exact",
        "n_fp",
        "best_overlap_permille",
        "n_bigrams",
        "n_oov",
        "mean_centibits",
        "action",
        F.coalesce("cb", F.lit(0)).cast("long").alias("co_batch_dup"),
    )


def corpus_refresh_sql() -> str:
    """DuckDB twin (expects the dedup CORPUS_SQL prelude): the same
    three frozen-history gates plus the admitted-set co-batch audit,
    all exact-integer."""
    m = WINNOW_INC_MOD
    return f"""(
    WITH rf_fp AS (
        SELECT DISTINCT doc_id, fp_hash
        FROM {winnowing_fingerprints_sql("corpus")}
    ),
    rf_hist_pruned AS (
        SELECT doc_id AS hist_id, fp_hash FROM (
            SELECT doc_id, fp_hash,
                COUNT(*) OVER (PARTITION BY fp_hash) AS df
            FROM rf_fp WHERE doc_id % {m} != 0
        ) x WHERE df <= {WINNOW_MAX_FP_DF}
    ),
    rf_inc_counts AS (
        SELECT doc_id, COUNT(*) AS n_fp
        FROM rf_fp WHERE doc_id % {m} = 0 GROUP BY doc_id
    ),
    rf_hist_counts AS (
        SELECT doc_id AS hist_id, COUNT(*) AS n_fp_h
        FROM rf_fp WHERE doc_id % {m} != 0 GROUP BY doc_id
    ),
    rf_best AS (
        SELECT s.doc_id,
            MAX((1000 * s.shared_fps)
                // LEAST(ic.n_fp, hc.n_fp_h)) AS best_overlap_permille
        FROM (
            SELECT i.doc_id, p.hist_id, COUNT(*) AS shared_fps
            FROM (SELECT * FROM rf_fp WHERE doc_id % {m} = 0) i
            JOIN rf_hist_pruned p ON i.fp_hash = p.fp_hash
            GROUP BY 1, 2
            HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
        ) s
        JOIN rf_inc_counts ic ON s.doc_id = ic.doc_id
        JOIN rf_hist_counts hc ON s.hist_id = hc.hist_id
        GROUP BY s.doc_id
    ),
    rf_exact AS (
        SELECT i.doc_id, COALESCE(h.n_exact, 0) AS n_exact
        FROM (
            SELECT doc_id, md5(text) AS th FROM corpus
            WHERE doc_id % {m} = 0
        ) i
        LEFT JOIN (
            SELECT md5(text) AS th, COUNT(*) AS n_exact
            FROM corpus WHERE doc_id % {m} != 0 GROUP BY 1
        ) h USING (th)
    ),
    rf_doc_bg AS (
        SELECT doc_id, bg, COUNT(*) AS k FROM (
            SELECT doc_id, unnest(list_transform(
                generate_series(1, greatest(len(tk) - 1, 0)),
                i -> tk[i] || ' ' || tk[i+1])) AS bg
            FROM (
                SELECT doc_id,
                    regexp_split_to_array(lower(text), '\\s+') AS tk
                FROM corpus
            ) t
        ) GROUP BY 1, 2
    ),
    rf_bits AS (
        SELECT bg,
            length(bin(SUM(c2) OVER (
                PARTITION BY string_split(bg, ' ')[1])))
            - length(bin(c2)) AS bits
        FROM (
            SELECT bg, SUM(k) AS c2 FROM rf_doc_bg
            WHERE doc_id % {m} != 0 GROUP BY 1
        ) hc2
    ),
    rf_lm AS (
        SELECT d.doc_id,
            SUM(d.k) AS n_bigrams,
            COALESCE(SUM(CASE WHEN b.bits IS NULL THEN d.k END), 0) AS n_oov,
            COALESCE(SUM(b.bits * d.k), 0) AS total_bits
        FROM rf_doc_bg d
        LEFT JOIN rf_bits b USING (bg)
        WHERE d.doc_id % {m} = 0
        GROUP BY 1
    ),
    rf_gate AS (
        SELECT c.doc_id,
            COALESCE(e.n_exact, 0) AS n_exact,
            COALESCE(ic.n_fp, 0) AS n_fp,
            COALESCE(bst.best_overlap_permille, 0) AS best_overlap_permille,
            COALESCE(l.n_bigrams, 0) AS n_bigrams,
            COALESCE(l.n_oov, 0) AS n_oov,
            COALESCE((100 * l.total_bits)
                // GREATEST(l.n_bigrams - l.n_oov, 1), 0) AS mean_centibits,
            CASE
                WHEN COALESCE(e.n_exact, 0) > 0 THEN 'drop_exact'
                WHEN COALESCE(bst.best_overlap_permille, 0)
                    >= {WINNOW_DUP_PERMILLE} THEN 'drop_neardup'
                WHEN COALESCE((100 * l.total_bits)
                    // GREATEST(l.n_bigrams - l.n_oov, 1), 0)
                    > {REFRESH_SURPRISAL_MAX_CENTIBITS} THEN 'drop_lm'
                ELSE 'keep'
            END AS action
        FROM (SELECT doc_id FROM corpus WHERE doc_id % {m} = 0) c
        LEFT JOIN rf_exact e ON c.doc_id = e.doc_id
        LEFT JOIN rf_inc_counts ic ON c.doc_id = ic.doc_id
        LEFT JOIN rf_best bst ON c.doc_id = bst.doc_id
        LEFT JOIN rf_lm l ON c.doc_id = l.doc_id
    ),
    rf_kept AS (SELECT doc_id FROM rf_gate WHERE action = 'keep'),
    rf_place AS (
        SELECT doc_id, shard_id,
            (shard_pos - 1) // {CONTAM_BATCH_DOCS} AS batch_id
        FROM {corpus_shuffle_manifest_sql("rf_kept", n_shards=REFRESH_SHARDS)}
    ),
    rf_cob AS (
        SELECT p.doc_a, p.doc_b
        FROM (
            SELECT doc_a, doc_b FROM {winnowing_pair_index_sql("corpus")}
            WHERE doc_a % {m} = 0 AND doc_b % {m} = 0
        ) p
        JOIN rf_place a ON p.doc_a = a.doc_id
        JOIN rf_place b ON p.doc_b = b.doc_id
        WHERE a.shard_id = b.shard_id AND a.batch_id = b.batch_id
    ),
    rf_flag AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM rf_cob
            UNION ALL
            SELECT doc_b AS doc_id FROM rf_cob
        )
    )
    SELECT g.doc_id, g.n_exact, g.n_fp, g.best_overlap_permille,
        g.n_bigrams, g.n_oov, g.mean_centibits, g.action,
        CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END AS co_batch_dup
    FROM rf_gate g
    LEFT JOIN rf_flag f ON g.doc_id = f.doc_id
) rf"""
