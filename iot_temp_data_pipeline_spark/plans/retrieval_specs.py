"""Embedding and text-retrieval query specs: SQ8 shortlist-rerank,
the IVF n_probe recall sweep, IVF-SQ8 and residual IVF-PQ search with
their recall dials and the IVF-SQ8 index build, late-interaction
MaxSim (exhaustive and pooled), matryoshka truncation, label-filtered
kNN, hybrid reciprocal-rank fusion, impact-ordered BM25 and BM25
hard-negative mining. Every entry carries an exact DuckDB oracle, shaped
by the registry's column-spec layer."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import retrieval_ext as rx
from ..operators import similarity as sim
from ..operators import sq8 as sq
from ..operators.similarity import (
    ADAPTIVE_MOD_SQL,
    MATMUL_ASSIGN_MIN_N,
    QUANT_SQL,
    _with_quantized,
    adaptive_centroid_mod,
    ivf_cell_assignments,
    ivf_cell_assignments_matmul,
    sql_qcos,
)
from ..sources.catalog import load_table
from .registry import ColSpec, QuerySpec, shape, sql_select

RETRIEVAL: dict[str, QuerySpec] = {}


# --------------------------------------------- SQ8 shortlist-rerank ANN

SQ8_RERANK_SPEC: ColSpec = [
    ("query_id", "long"),
    ("neighbor_id", "long"),
    ("cosine", ""),
    ("rank", "long"),
]


def _knn_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(sq.knn_sq8_rerank(spark, sf_dir), SQ8_RERANK_SPEC)


SQ8_RERANK_ORACLE = (
    "WITH "
    + sim.QUANT_SQL.strip()
    + ",\n"
    + sq.SQ8_CTE_SQL.strip()
    + "\n"
    + sql_select(SQ8_RERANK_SPEC, sq.knn_sq8_rerank_sql())
)

RETRIEVAL["knn_sq8_rerank"] = QuerySpec(_knn_sq8_rerank, SQ8_RERANK_ORACLE)


# ------------------------------------------------- IVF n_probe sweep

SWEEP_PROBES = (1, 2, 4)

SWEEP_SPEC: ColSpec = [
    ("n_probe", "long"),
    ("n_queries", "long"),
    ("mean_recall_at_5", "f4"),
]


def _ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 at n_probe ∈ {1,2,4} — the cost/recall CURVE an IVF
    deployment tunes against (ann_recall_check pins one point; the
    sweep shows the knee). Ground truth comes from the session-cached
    exact top-k (similarity.ground_truth_topk — build once, serve all
    three sweep points plus every other recall eval); the IVF index is
    likewise the session-cached artifact, so each sweep point costs
    one probe-bounded search + two digest aggregates."""
    bf = sim.ground_truth_topk(spark, sf_dir).select("query_id", "neighbor_id")
    # One probe pass serves all sweep points (optimization r11,
    # sim.ivf_sweep_topk): the old per-p loop ran three full IVF
    # searches (Σ probes = 7 cells of candidate work, 3 window
    # exchanges, 3 evaluations of the probe subtree); the fused sweep
    # probes max(probes) = 4 cells once and derives each point's top-k
    # from running conditional ranks in a single Window — per-point
    # rows bit-identical (A/B'd and hash-pinned by the unchanged
    # oracle). The recall join replicates the tiny ground-truth table
    # once per sweep point instead of re-joining per loop iteration.
    sweep = sim.ivf_sweep_topk(spark, sf_dir, SWEEP_PROBES).select(
        "n_probe", "query_id", "neighbor_id"
    )
    bf3 = bf.select(
        "*",
        F.explode(
            F.array(*[F.lit(p).cast("long") for p in SWEEP_PROBES])
        ).alias("n_probe"),
    )
    joined = bf3.join(
        sweep.withColumn("hit", F.lit(1)),
        ["n_probe", "query_id", "neighbor_id"],
        "left",
    )
    out = (
        joined.groupBy("n_probe")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count("*").cast("double")
            ).alias("mean_recall_at_5"),
        )
        .select("n_probe", "n_queries", "mean_recall_at_5")
    )
    return shape(out, SWEEP_SPEC)


def _sweep_branch(p: int) -> str:
    return f"""(
    WITH ivf AS (
        SELECT query_id, neighbor_id FROM {sim.knn_ivf_sql(n_probe=p)}
    ),
    per_q AS (
        SELECT bf.query_id, COUNT(*) AS k,
            SUM(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS h
        FROM swp_bf bf
        LEFT JOIN ivf ON bf.query_id = ivf.query_id
                     AND bf.neighbor_id = ivf.neighbor_id
        GROUP BY bf.query_id
    )
    SELECT CAST({p} AS BIGINT) AS n_probe, COUNT(*) AS n_queries,
        CAST(SUM(h) AS DOUBLE) / CAST(SUM(k) AS DOUBLE) AS mean_recall_at_5
    FROM per_q
) b{p}"""


SWEEP_ORACLE = (
    "WITH "
    + sim.QUANT_SQL.strip()
    + ",\nswp_bf AS (SELECT query_id, neighbor_id FROM "
    + sim.knn_brute_force_sql()
    + ")\n"
    + sql_select(
        SWEEP_SPEC,
        "(\n    "
        + "\n    UNION ALL\n    ".join(
            f"SELECT * FROM {_sweep_branch(p)}" for p in SWEEP_PROBES
        )
        + "\n) sw",
    )
)

RETRIEVAL["ivf_recall_sweep"] = QuerySpec(_ivf_recall_sweep, SWEEP_ORACLE)


# ----------------------------------- IVF + SQ8 + exact rerank (refine)

IVFSQ8_RERANK_SPEC: ColSpec = [
    ("query_id", "long"),
    ("neighbor_id", "long"),
    ("cosine", ""),
    ("rank", "long"),
]


def _knn_ivfsq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(sq.knn_ivfsq8_rerank(spark, sf_dir), IVFSQ8_RERANK_SPEC)


IVFSQ8_RERANK_ORACLE = (
    "WITH "
    + sim.QUANT_SQL.strip()
    + ",\n"
    + sq.SQ8_CTE_SQL.strip()
    + "\n"
    + sql_select(IVFSQ8_RERANK_SPEC, sq.knn_ivfsq8_rerank_sql())
)

RETRIEVAL["knn_ivfsq8_rerank"] = QuerySpec(
    _knn_ivfsq8_rerank, IVFSQ8_RERANK_ORACLE
)


MAXSIM_SPEC: ColSpec = [
    ("query_doc", "long"),
    ("neighbor_doc", "long"),
    ("maxsim_micros", "long"),
    ("rank", "long"),
]


def _maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(rx.maxsim_topk(spark, sf_dir), MAXSIM_SPEC)


MAXSIM_ORACLE = (
    "WITH "
    + sim.QUANT_SQL.strip()
    + "\n"
    + sql_select(MAXSIM_SPEC, rx.maxsim_topk_sql())
)

RETRIEVAL["colbert_maxsim_topk"] = QuerySpec(_maxsim, MAXSIM_ORACLE)


MATRYOSHKA_SPEC: ColSpec = [
    ("prefix_dim", "long"),
    ("n_queries", "long"),
    ("mean_recall_at_k", "f4"),
]


def _matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(rx.matryoshka_recall(spark, sf_dir), MATRYOSHKA_SPEC)


MATRYOSHKA_ORACLE = (
    "WITH "
    + sim.QUANT_SQL.strip()
    + ",\nmr_bf AS (SELECT query_id, neighbor_id FROM "
    + sim.knn_brute_force_sql()
    + ")\n"
    + sql_select(MATRYOSHKA_SPEC, rx.matryoshka_recall_sql())
)

RETRIEVAL["matryoshka_recall_sweep"] = QuerySpec(
    _matryoshka, MATRYOSHKA_ORACLE
)


FILTERED_SPEC: ColSpec = [
    ("query_id", "long"),
    ("neighbor_id", "long"),
    ("label", "long"),
    ("cosine", ""),
    ("rank", "long"),
]


def _knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(rx.knn_label_filtered(spark, sf_dir), FILTERED_SPEC)


FILTERED_ORACLE = (
    "WITH "
    + sim.QUANT_SQL.strip()
    + "\n"
    + sql_select(FILTERED_SPEC, rx.knn_label_filtered_sql())
)

RETRIEVAL["knn_label_filtered"] = QuerySpec(_knn_filtered, FILTERED_ORACLE)


def _maxsim_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(rx.maxsim_pooled_rerank(spark, sf_dir), MAXSIM_SPEC)


MAXSIM_POOLED_ORACLE = (
    "WITH "
    + sim.QUANT_SQL.strip()
    + "\n"
    + sql_select(MAXSIM_SPEC, rx.maxsim_pooled_rerank_sql())
)

RETRIEVAL["maxsim_pooled_rerank"] = QuerySpec(
    _maxsim_pooled, MAXSIM_POOLED_ORACLE
)


MAXSIM_RECALL_SPEC: ColSpec = [
    ("n_queries", "long"),
    ("mean_recall_at_k", "f4"),
]


def _maxsim_pooled_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the pooled-shortlist MaxSim serve against exhaustive
    MaxSim — the quality dial for the route→refine composition (the
    sq8_recall_check of late interaction): how much of the exact
    late-interaction top-k survives routing on pooled vectors at
    shortlist depth r?

    Serves the exhaustive side from the session-cached ground-truth
    pair table (rx.cached_maxsim_truth — build once per corpus, serve
    every eval; the exhaustive build stays measured via
    colbert_maxsim_topk)."""
    full = rx.cached_maxsim_truth(spark, sf_dir)
    approx = rx.maxsim_pooled_rerank(spark, sf_dir).select(
        "query_doc", "neighbor_doc"
    )
    joined = full.join(
        approx.withColumn("hit", F.lit(1)),
        ["query_doc", "neighbor_doc"],
        "left",
    )
    df = joined.agg(
        F.countDistinct("query_doc").alias("n_queries"),
        (
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
            / F.count("*").cast("double")
        ).alias("mean_recall_at_k"),
    )
    return shape(df, MAXSIM_RECALL_SPEC)


MAXSIM_RECALL_ORACLE = (
    "WITH "
    + sim.QUANT_SQL.strip()
    + "\n"
    + sql_select(
        MAXSIM_RECALL_SPEC,
        f"""(
    WITH msr_full AS (
        SELECT query_doc, neighbor_doc FROM {rx.maxsim_topk_sql()}
    ),
    msr_approx AS (
        SELECT query_doc, neighbor_doc FROM {rx.maxsim_pooled_rerank_sql()}
    ),
    msr_per_q AS (
        SELECT f.query_doc, COUNT(*) AS k,
            SUM(CASE WHEN a.neighbor_doc IS NOT NULL THEN 1 ELSE 0 END) AS h
        FROM msr_full f
        LEFT JOIN msr_approx a ON f.query_doc = a.query_doc
                              AND f.neighbor_doc = a.neighbor_doc
        GROUP BY f.query_doc
    )
    SELECT COUNT(*) AS n_queries,
        CAST(SUM(h) AS DOUBLE) / CAST(SUM(k) AS DOUBLE) AS mean_recall_at_k
    FROM msr_per_q
) s""",
    )
)

RETRIEVAL["maxsim_pooled_recall"] = QuerySpec(
    _maxsim_pooled_recall, MAXSIM_RECALL_ORACLE
)


HYBRID_SPEC: ColSpec = [
    ("query_id", "long"),
    ("doc_id", "long"),
    ("rrf_scaled", "long"),
    ("in_sparse", "long"),
    ("in_dense", "long"),
    ("rank", "long"),
]


def _hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(rx.hybrid_rrf_topk(spark, sf_dir), HYBRID_SPEC)


HYBRID_ORACLE = (
    "WITH "
    + dd.CORPUS_SQL.strip()
    + ",\n"
    + sim.QUANT_SQL.strip()
    + "\n"
    + sql_select(HYBRID_SPEC, rx.hybrid_rrf_sql())
)

RETRIEVAL["hybrid_rrf_retrieval"] = QuerySpec(_hybrid_rrf, HYBRID_ORACLE)


# ------------------------------ impact-ordered BM25 static pruning

BM25_IMPACT_SPEC: ColSpec = [
    ("query_id", "long"),
    ("doc_id", "long"),
    ("score_scaled", "long"),
    ("shared_terms", "long"),
    ("rank", "long"),
]

BM25_IMPACT_RECALL_SPEC: ColSpec = [
    ("n_queries", "long"),
    ("n_exact", "long"),
    ("hits", "long"),
    ("recall", "f4"),
]


def _bm25_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import tfidf as ti

    return shape(ti.bm25_impact_topk(spark, sf_dir), BM25_IMPACT_SPEC)


def _bm25_impact_oracle() -> str:
    from ..operators import tfidf as ti
    from ..operators.dedup import CORPUS_SQL

    return "WITH " + CORPUS_SQL.strip() + sql_select(
        BM25_IMPACT_SPEC, ti.bm25_impact_topk_sql()
    )


RETRIEVAL["bm25_impact_topk"] = QuerySpec(_bm25_impact, _bm25_impact_oracle())


def _bm25_impact_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import tfidf as ti

    return shape(
        ti.bm25_impact_recall(spark, sf_dir), BM25_IMPACT_RECALL_SPEC
    )


def _bm25_impact_recall_oracle() -> str:
    from ..operators import tfidf as ti
    from ..operators.dedup import CORPUS_SQL

    return "WITH " + CORPUS_SQL.strip() + sql_select(
        BM25_IMPACT_RECALL_SPEC, ti.bm25_impact_recall_sql()
    )


RETRIEVAL["bm25_impact_recall"] = QuerySpec(
    _bm25_impact_recall, _bm25_impact_recall_oracle()
)


# ---------------- residual IVF-PQ (FAISS IVFADC, VERDICT r10 #6)

IVFPQ_RES_SPEC: ColSpec = [
    ("query_id", "long"),
    ("neighbor_id", "long"),
    ("adc_dist", "long"),
    ("rank", "long"),
]


def _knn_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-PQ (operators/pq.knn_ivfpq_residual): codes
    quantize ``uvec − ucent(cell)`` — the actual FAISS IVFADC coupling
    — with a per-(query, probed cell) residual LUT. The oracle
    re-derives cells, residuals, and the residual codebook in SQL;
    exact int64 distances match bit-for-bit. Accuracy posture: on the
    ISOTROPIC fixture the coupling's premise fails (residual norms
    exceed raw norms — see residual_pq_index's measured finding), so
    ivfpq_residual_recall shows parity/noise here; the coupling's
    benefit is pinned on clustered data in tests/test_r11_ops.py."""
    from ..operators import pq

    return shape(pq.knn_ivfpq_residual(spark, sf_dir), IVFPQ_RES_SPEC)


def _ivfpq_residual_oracle() -> str:
    from ..operators import pq, similarity as sim

    return (
        "WITH "
        + sim.QUANT_SQL.strip()
        + ",\n"
        + pq.pq_cte_sql().strip()
        + ",\n"
        + pq.ivfpq_cte_sql().strip()
        + ",\n"
        + pq.residual_cte_sql().strip()
        + "\n"
        + sql_select(IVFPQ_RES_SPEC, pq.knn_ivfpq_residual_sql())
    )


RETRIEVAL["knn_ivfpq_residual"] = QuerySpec(
    _knn_ivfpq_residual, _ivfpq_residual_oracle()
)


# -------- residual-vs-flat IVFADC recall dial (registry-row form
# of the tests/test_r11_ops.py acceptance bar)

IVFPQ_RECALL_SPEC: ColSpec = [
    ("variant", ""),
    ("n_queries", "long"),
    ("hits", "long"),
    ("possible", "long"),
    ("recall_permille", "long"),
]


def _ivfpq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of BOTH IVFADC variants against the shared brute-force
    ground truth, one row each — the dial that justifies the residual
    coupling (the ann_recall_check / bm25_impact_recall pattern:
    deterministic pipelines, so recall is a fixed exact-integer number
    the oracle recomputes). All three inputs serve from session caches;
    the comparison itself is two ground-truth-sized left joins + 1-row
    digests."""
    from ..operators import pq
    from ..operators import similarity as sim

    bf = sim.ground_truth_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )

    def leg(approx: DataFrame, name: str) -> DataFrame:
        joined = bf.join(
            approx.select("query_id", "neighbor_id").withColumn(
                "hit", F.lit(1)
            ),
            ["query_id", "neighbor_id"],
            "left",
        )
        return joined.agg(
            F.count_distinct("query_id").alias("n_queries"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("hits"),
            F.count("*").alias("possible"),
        ).select(
            F.lit(name).alias("variant"),
            "n_queries",
            "hits",
            "possible",
            F.expr("div(1000 * hits, possible)").alias("recall_permille"),
        )

    out = leg(pq.knn_ivfpq(spark, sf_dir), "flat").unionByName(
        leg(pq.knn_ivfpq_residual(spark, sf_dir), "residual")
    )
    return shape(out.orderBy("variant"), IVFPQ_RECALL_SPEC)


def _ivfpq_residual_recall_oracle() -> str:
    from ..operators import pq, similarity as sim

    def leg_sql(approx_sql: str, name: str) -> str:
        return f"""
    SELECT '{name}' AS variant,
        COUNT(DISTINCT bf.query_id) AS n_queries,
        SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS hits,
        COUNT(*) AS possible,
        (1000 * SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END))
            // COUNT(*) AS recall_permille
    FROM (SELECT query_id, neighbor_id FROM {sim.knn_brute_force_sql()}) bf
    LEFT JOIN (SELECT query_id, neighbor_id FROM {approx_sql}) a
        ON bf.query_id = a.query_id AND bf.neighbor_id = a.neighbor_id"""

    body = f"""(
    SELECT * FROM (
        {leg_sql(pq.knn_ivfpq_sql(), "flat")}
        UNION ALL
        {leg_sql(pq.knn_ivfpq_residual_sql(), "residual")}
    ) u ORDER BY variant
) s"""
    return (
        "WITH "
        + sim.QUANT_SQL.strip()
        + ",\n"
        + pq.pq_cte_sql().strip()
        + ",\n"
        + pq.ivfpq_cte_sql().strip()
        + ",\n"
        + pq.residual_cte_sql().strip()
        + "\n"
        + sql_select(IVFPQ_RECALL_SPEC, body)
    )


RETRIEVAL["ivfpq_residual_recall"] = QuerySpec(
    _ivfpq_residual_recall, _ivfpq_residual_recall_oracle()
)


# -------- residual IVFADC + exact refine (the full production serve)

IVFPQ_RERANK_SPEC: ColSpec = [
    ("query_id", "long"),
    ("neighbor_id", "long"),
    ("cosine", ""),
    ("rank", "long"),
]


def _knn_ivfpq_residual_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS IndexIVFPQ+refine: residual-ADC top-R shortlist → exact
    quantized-cosine rerank of only the shortlisted vectors (Q·R raw
    rows regardless of corpus size). The refine stage is how
    production neutralizes code-quality sensitivity — including the
    isotropy effect measured on the plain residual serve."""
    from ..operators import pq

    return shape(
        pq.knn_ivfpq_residual_rerank(spark, sf_dir), IVFPQ_RERANK_SPEC
    )


def _ivfpq_residual_rerank_oracle() -> str:
    from ..operators import pq, similarity as sim

    return (
        "WITH "
        + sim.QUANT_SQL.strip()
        + ",\n"
        + pq.pq_cte_sql().strip()
        + ",\n"
        + pq.ivfpq_cte_sql().strip()
        + ",\n"
        + pq.residual_cte_sql().strip()
        + "\n"
        + sql_select(IVFPQ_RERANK_SPEC, pq.knn_ivfpq_residual_rerank_sql())
    )


RETRIEVAL["knn_ivfpq_residual_rerank"] = QuerySpec(
    _knn_ivfpq_residual_rerank, _ivfpq_residual_rerank_oracle()
)


# -------- DPR-style BM25 hard-negative mining with near-dup exclusion

HN_SPEC: ColSpec = [
    ("query_id", "long"),
    ("doc_id", "long"),
    ("score_scaled", "long"),
    ("rank", "long"),
]


def _bm25_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training negative mining (Karpukhin et al. 2020):
    top-k BM25 candidates per query doc with verified near-duplicates
    excluded via the winnowing pair index — the false-negative cut
    applied at mining time. Composes two session artifacts (BM25
    postings, near-dup pair table); both builds carry their own
    measured rows."""
    from ..operators.retrieval_ext import bm25_hard_negatives

    return shape(bm25_hard_negatives(spark, sf_dir), HN_SPEC)


def _bm25_hard_negatives_oracle() -> str:
    from ..operators.dedup import CORPUS_SQL
    from ..operators.retrieval_ext import bm25_hard_negatives_sql

    return "WITH " + CORPUS_SQL.strip() + sql_select(
        HN_SPEC, bm25_hard_negatives_sql()
    )


RETRIEVAL["bm25_hard_negatives"] = QuerySpec(
    _bm25_hard_negatives, _bm25_hard_negatives_oracle()
)


# ---------------------------------------------- IVF-SQ8 index build
# The IVF-SQ8 serve rows read the session-cached inverted-list artifact
# (sq8.ivfsq8_enc_index); this row measures the BUILD itself, from the
# parquet, bypassing every session cache: quantize + norm the embedding
# table, SQ8-encode, assign each vector to its argmax-cosine coarse
# cell, and join codes with placements into the inverted-list layout.
# The oracle recomputes the identical build in DuckDB; the code array
# is pinned through an exact integer position-weighted checksum
# (sum of i*code_i over 1-based positions, exact int64 in both
# engines), so any code byte or placement drift flips the row hash.

IVFSQ8_BUILD_SPEC: ColSpec = [
    ("vec_id", "long"),
    ("cell_id", "long"),
    ("m", "long"),
    ("qnorm2", "long"),
    ("code_checksum", "long"),
]


def _ivfsq8_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch IVF-SQ8 inverted-list build (NO session caches —
    the serve rows' warm-up artifact cost, now on the record): one
    quantize+norm pass over the embeddings parquet, the SQ8 encode
    map pass, the O(N·C) coarse assignment (same cost-based
    hof/matmul strategy split as the cached build), and the
    codes⋈placements join. Output one row per encoded vector with the
    exact position-weighted code checksum."""
    emb = _with_quantized(load_table(spark, sf_dir, "embeddings"))
    n = load_table(spark, sf_dir, "embeddings").count()
    centroid_mod = adaptive_centroid_mod(n)
    assigner = (
        ivf_cell_assignments_matmul
        if n >= MATMUL_ASSIGN_MIN_N
        else ivf_cell_assignments
    )
    assigned, _cent = assigner(emb, centroid_mod)
    codes = sq.sq8_encode(emb)
    enc = codes.join(assigned.select("vec_id", "cell_id"), "vec_id")
    checksum = F.expr(
        "aggregate(zip_with(code, sequence(1, size(code)), (c, i) -> c * i),"
        " 0L, (acc, x) -> acc + x)"
    )
    return shape(
        enc.select(
            "vec_id", "cell_id", "m", "qnorm2", checksum.alias("code_checksum")
        ),
        IVFSQ8_BUILD_SPEC,
    )


_ASSIGN_COS = sql_qcos("b.qvec", "a.qvec", "b.qnorm2", "a.qnorm2")

IVFSQ8_BUILD_ORACLE = (
    "WITH "
    + QUANT_SQL.strip()
    + ",\n"
    + sq.SQ8_CTE_SQL.strip()
    + sql_select(
        IVFSQ8_BUILD_SPEC,
        f"""(
    WITH ib_centroids AS (
        SELECT vec_id AS cell_id, qvec, qnorm2 FROM qnormed
        WHERE vec_id % {ADAPTIVE_MOD_SQL} = 0
    ),
    ib_scored AS (
        SELECT b.vec_id, a.cell_id, {_ASSIGN_COS} AS c_cos
        FROM qnormed b CROSS JOIN ib_centroids a
    ),
    ib_assigned AS (
        SELECT vec_id, cell_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_cos DESC, cell_id) AS rn
            FROM ib_scored
        ) t WHERE rn = 1
    )
    SELECT c.vec_id, a.cell_id, c.m, c.qnorm2,
        list_sum(list_transform(generate_series(1, len(c.code)),
                 i -> c.code[i] * i)) AS code_checksum
    FROM sq8codes c JOIN ib_assigned a USING (vec_id)
) ib""",
    )
)

RETRIEVAL["ivfsq8_index_build"] = QuerySpec(
    _ivfsq8_index_build, IVFSQ8_BUILD_ORACLE
)
