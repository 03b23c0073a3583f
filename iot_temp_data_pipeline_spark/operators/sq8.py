"""Scalar-quantization (SQ8) ANN over the embeddings table
(beyond-reference surface: the ANN family's simplest compressed-scan
member, FAISS ``IndexScalarQuantizer(QT_8bit)`` shape).

Where PQ learns a codebook, SQ8 just stores each dimension as one byte
with a per-vector scale: ``code_i = round(qvec_i * 127 / m)`` with
``m = max_i |qvec_i|`` — an 8× scan-size cut (64-dim int64 → 64 bytes)
with zero training. Search scores candidates from codes alone:

    cos~(a, b) = (Σ ca_i·cb_i) · ma · mb / 127² / √n2a / √n2b

Determinism (the oracle story, same recipe as operators/pq.py):

- ``m`` is an exact integer max over exact integers;
- each code is ONE IEEE multiply + divide + round on exact int64
  inputs (the pq._with_unit precedent — bit-reproducible in DuckDB);
- the code dot product is an exact int64 sum;
- the approximate cosine applies a FIXED IEEE operation order
  (cast → ·ma → ·mb → /127² → /√n2a → /√n2b), so DuckDB reproduces
  every score bit-for-bit and rank boundaries can't drift.

Execution shape (the 100 TB plan): encoding is one map-side pass over
the session-cached quantized corpus (no shuffle — the stored index, cf.
similarity.quantized_corpus's build-once/serve-many contract); search
is the same broadcast-queries-over-streaming-corpus contract as
knn_brute_force, but each candidate contributes a 64-byte code row
instead of a 512-byte raw vector — the memory-bandwidth win is the
point of scalar quantization. At larger N the distributive partial
top-k (knn_brute_force_matmul's shape) applies unchanged.

Cited parity anchor: reference has no ANN surface; extends SURVEY.md §2
extension block (similarity-search family alongside brute force / IVF /
LSH / PQ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import local_table
from .similarity import quantized_corpus

SQ8_MAX = 127
SQ8_QUERY_MOD = 100
SQ8_K = 5


def sq8_encode(emb: DataFrame) -> DataFrame:
    """(vec_id, label, qnorm2, m, code): per-vector symmetric int8
    quantization. Map-side only — no shuffle, no join."""
    m = F.array_max(F.transform(F.col("qvec"), lambda v: F.abs(v)))
    return emb.select(
        "vec_id",
        "label",
        "qnorm2",
        m.alias("m"),
        F.transform(
            F.col("qvec"),
            lambda v: F.round(
                v.cast("double") * SQ8_MAX / F.col("m")
            ).cast("long"),
        ).alias("code"),
    ).filter(F.col("m") > 0)


def sq8_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached SQ8 code table — the stored index (build-once/
    serve-many, same lifecycle as pq.pq_codes; at 100 TB a written
    table of 64-byte rows)."""
    from ..sources.catalog import get_or_build

    def build():
        emb, _ = quantized_corpus(spark, sf_dir)
        return sq8_encode(emb).localCheckpoint(eager=True)

    return get_or_build(spark, "sq8_index", sf_dir, build)


def ivfsq8_enc_index(
    spark: SparkSession, sf_dir: str, centroid_mod: int | None = None
) -> DataFrame:
    """Session-cached IVF-SQ8 inverted-list table — SQ8 codes WITH
    their cell assignment (optimization r11). FAISS's ``IVF,SQ8``
    stores the codes inside the inverted lists; re-deriving that
    placement with a codes⋈assignments join on every serve re-ran a
    corpus-sized hash join per query (it showed up as the dominant
    exchange in knn_ivfsq8's serving plan). Same build-once/serve-many
    lifecycle and determinism contract as :func:`sq8_index` /
    ``similarity.ivf_index`` — a pure function of the corpus, built by
    the warm-ups, hash-pinned by the from-scratch DuckDB oracle. At
    100 TB this is the code table written partitionBy(cell_id), which
    the docstring of :func:`knn_ivfsq8` already names as the
    production layout."""
    from .similarity import (
        MATMUL_ASSIGN_MIN_N,
        adaptive_centroid_mod,
        ivf_index,
        quantized_corpus,
    )
    from ..sources.catalog import get_or_build

    emb, n = quantized_corpus(spark, sf_dir)
    if centroid_mod is None:
        centroid_mod = adaptive_centroid_mod(n)

    def build():
        assign = "matmul" if n >= MATMUL_ASSIGN_MIN_N else "hof"
        assigned, _ = ivf_index(spark, sf_dir, centroid_mod, assign)
        codes = sq8_index(spark, sf_dir)
        return codes.join(
            assigned.select("vec_id", "cell_id"), "vec_id"
        ).localCheckpoint(eager=True)

    return get_or_build(spark, "ivfsq8_enc", sf_dir, build, centroid_mod)


def knn_sq8_served(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = SQ8_QUERY_MOD,
    k: int = SQ8_K,
) -> DataFrame:
    """Session-cached :func:`knn_sq8` serve output (Q·k rows, bounded)
    — the production result table downstream evaluations read instead
    of re-running the compressed scan (VERDICT r7 #2). Same
    build-once/serve-many lifecycle and determinism contract as
    :func:`sq8_index` and ``similarity.ground_truth_topk``: knn_sq8 is
    a pure function of the corpus, so cold and warm caches agree and
    the from-scratch DuckDB oracle still hash-matches."""
    from ..sources.catalog import get_or_build

    return get_or_build(
        spark, "sq8_topk", sf_dir,
        lambda: knn_sq8(spark, sf_dir, query_mod, k).localCheckpoint(eager=True),
        query_mod, k,
    )


def _code_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def knn_sq8(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = SQ8_QUERY_MOD,
    k: int = SQ8_K,
    strategy: str = "auto",
) -> DataFrame:
    """Top-k by SQ8 approximate cosine for query vectors (vec_id %
    query_mod == 0), self-matches excluded; rank ties on neighbor_id.
    Same broadcast-bound contract as knn_brute_force — and the same
    cost-based physical split: the Catalyst crossJoin+window form
    shuffles all N·Q scored pairs (fine at toy scale), so above
    BRUTE_MATMUL_MIN_PAIRS the scan switches to a per-partition integer
    GEMM over the code matrix with distributive partial top-k
    (:func:`knn_sq8_matmul`) — the 30× probe's superlinear slope
    (25× at 900× pairs) is exactly the blowup this removes. Both forms
    bit-identical: exact int64 code dots, identical IEEE op order."""
    codes = sq8_index(spark, sf_dir)
    if strategy == "auto":
        from .similarity import BRUTE_MATMUL_MIN_PAIRS, quantized_corpus

        n = quantized_corpus(spark, sf_dir)[1]
        strategy = (
            "matmul"
            if n * (n // query_mod) >= BRUTE_MATMUL_MIN_PAIRS
            else "catalyst"
        )
    if strategy == "matmul":
        return knn_sq8_matmul(codes, query_mod, k)
    q = codes.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("code").alias("q_code"),
        F.col("m").alias("q_m"),
        F.col("qnorm2").alias("q_qnorm2"),
    )
    scored = (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _code_dot(F.col("q_code"), F.col("code")).cast("double")
                * F.col("q_m").cast("double")
                * F.col("m").cast("double")
                / F.lit(float(SQ8_MAX * SQ8_MAX))
                / F.sqrt(F.col("q_qnorm2").cast("double"))
                / F.sqrt(F.col("qnorm2").cast("double"))
            ).alias("sq8_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sq8_cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def knn_sq8_matmul(
    codes: DataFrame, query_mod: int = SQ8_QUERY_MOD, k: int = SQ8_K
) -> DataFrame:
    """Large-N strategy (knn_brute_force_matmul's shape, over CODES):
    the query code matrix is collected once, each corpus partition
    scores its rows as ONE int64 GEMM per Arrow batch and emits only
    its per-batch top-(k+1) per query; the final exact window ranks
    #partitions·Q·(k+1) candidates instead of shuffling N·Q pairs.
    Bit parity with the Catalyst form: the dot is exact int64, and the
    float chain applies the IDENTICAL operation order
    (cast → ·q_m → ·m → /127² → /√q_n2 → /√n2), with per-batch
    selection under the same strict (cos DESC, neighbor_id ASC) total
    order the final window uses, so partial top-k loses nothing."""
    import numpy as np

    q_rows = (
        codes.filter(F.col("vec_id") % query_mod == 0)
        .select("vec_id", "code", "m", "qnorm2")
        .collect()
    )
    if not q_rows:
        # Empty query set: np.array([]) would build a 1-D (0,)-shaped
        # qmat and fail the worker-side GEMM with a shape error; the
        # Catalyst path returns empty cleanly, so mirror it.
        spark = codes.sparkSession
        return local_table(
            spark,
            [],
            schema="query_id long, neighbor_id long, sq8_cos double, rank long",
        )
    qmat = np.array([r["code"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["m"] for r in q_rows], dtype=np.int64).astype(np.float64)
    qsqrt = np.sqrt(
        np.array([r["qnorm2"] for r in q_rows], dtype=np.int64).astype(np.float64)
    )
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    bc = codes.sparkSession.sparkContext.broadcast((qmat, qm, qsqrt, qids))

    def partial_topk(batches):
        import numpy as np  # noqa: PLC0415 — worker-side imports
        import pandas as pd  # noqa: PLC0415

        qmat, qm, qsqrt, qids = bc.value
        mtop = k + 1  # self-match removed post-selection
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["code"]])
            mm = pdf["m"].to_numpy(dtype=np.int64).astype(np.float64)
            nsqrt = np.sqrt(
                pdf["qnorm2"].to_numpy(dtype=np.int64).astype(np.float64)
            )
            vec_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            # same op order as the Catalyst expression, one step per
            # line; code dots are exact integers <= 64*127^2 so the f64
            # BLAS path is exact (similarity._exact_f64_matmul bound).
            # Tiled over query chunks (catch #9): score memory bounded
            # at B×MATMUL_Q_CHUNK per task; selection is per-query, so
            # tiling is result-neutral.
            from .similarity import (  # noqa: PLC0415
                MATMUL_Q_CHUNK,
                _exact_f64_matmul,
            )

            out = {"query_id": [], "neighbor_id": [], "sq8_cos": []}
            for q0 in range(0, qids.shape[0], MATMUL_Q_CHUNK):
                q1 = min(q0 + MATMUL_Q_CHUNK, qids.shape[0])
                cos = _exact_f64_matmul(x, qmat[q0:q1], np)
                cos = cos * qm[None, q0:q1]
                cos = cos * mm[:, None]
                cos = cos / float(SQ8_MAX * SQ8_MAX)
                cos = cos / qsqrt[None, q0:q1]
                cos = cos / nsqrt[:, None]
                for jj in range(q1 - q0):
                    j = q0 + jj
                    order = np.lexsort((vec_ids, -cos[:, jj]))[:mtop]
                    keep = order[vec_ids[order] != qids[j]][:k]
                    out["query_id"].extend([int(qids[j])] * keep.shape[0])
                    out["neighbor_id"].extend(vec_ids[keep].tolist())
                    out["sq8_cos"].extend(cos[keep, jj].tolist())
            yield pd.DataFrame(out)

    candidates = codes.select("vec_id", "m", "qnorm2", "code").mapInPandas(
        partial_topk, schema="query_id long, neighbor_id long, sq8_cos double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sq8_cos").desc(), F.col("neighbor_id")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


SQ8_RERANK_R = 25  # SQ8 shortlist size fed to the exact rerank stage


def knn_sq8_rerank(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = SQ8_QUERY_MOD,
    k: int = SQ8_K,
    r: int = SQ8_RERANK_R,
) -> DataFrame:
    """SQ8 shortlist → exact rerank (knn_pq_rerank's architecture over
    scalar-quantized codes): the compressed scan produces a top-``r``
    shortlist per query from 8-bit codes alone — the memory-bandwidth-
    bound pass — then ONLY the Q·r shortlisted raw vectors are fetched
    and re-scored with the exact quantized cosine. Recovers brute-force
    top-k whenever the true top-k survive the SQ8 top-r boundary (the
    sq8_recall_check dial says how often), at 1/8th the scan bytes.
    Every boundary is deterministic (sq8_cos / cosine with neighbor_id
    tie-breaks), so both stages are bit-reproducible in DuckDB."""
    shortlist = knn_sq8(spark, sf_dir, query_mod, r).select(
        "query_id", "neighbor_id"
    )
    emb, _ = quantized_corpus(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm2").alias("q_qnorm2"),
    )
    nb = emb.select(F.col("vec_id").alias("neighbor_id"), "qvec", "qnorm2")
    from .similarity import qcosine

    rer = (
        shortlist.join(nb, "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            qcosine(
                F.col("q_qvec"),
                F.col("qvec"),
                F.col("q_qnorm2"),
                F.col("qnorm2"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


SQ8_CTE_SQL = f"""
sq8m AS (
    SELECT vec_id, label, qvec, qnorm2,
        list_max(list_transform(qvec, v -> abs(v))) AS m
    FROM qnormed
),
sq8codes AS (
    SELECT vec_id, label, qnorm2, m,
        list_transform(qvec,
            v -> CAST(ROUND(CAST(v AS DOUBLE) * {SQ8_MAX} / m) AS BIGINT))
            AS code
    FROM sq8m
    WHERE m > 0
)
"""


def _sql_code_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})),"
        f" i -> {a}[i] * {b}[i]))"
    )


def knn_sq8_sql(query_mod: int = SQ8_QUERY_MOD, k: int = SQ8_K) -> str:
    dot = _sql_code_dot("a.q_code", "b.code")
    return f"""(
    WITH sq8q AS (
        SELECT vec_id AS query_id, code AS q_code, m AS q_m,
            qnorm2 AS q_qnorm2
        FROM sq8codes WHERE vec_id % {query_mod} = 0
    ),
    sq8scored AS (
        SELECT a.query_id, b.vec_id AS neighbor_id,
            CAST({dot} AS DOUBLE) * CAST(a.q_m AS DOUBLE)
                * CAST(b.m AS DOUBLE) / {float(SQ8_MAX * SQ8_MAX)}
                / sqrt(CAST(a.q_qnorm2 AS DOUBLE))
                / sqrt(CAST(b.qnorm2 AS DOUBLE)) AS sq8_cos
        FROM sq8q a
        CROSS JOIN sq8codes b
        WHERE b.vec_id != a.query_id
    )
    SELECT query_id, neighbor_id, sq8_cos, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY sq8_cos DESC, neighbor_id) AS rank
        FROM sq8scored
    ) r
    WHERE rank <= {k}
) s"""


IVFSQ8_N_PROBE = 3


def knn_sq8_rerank_sql(
    query_mod: int = SQ8_QUERY_MOD, k: int = SQ8_K, r: int = SQ8_RERANK_R
) -> str:
    """Shortlist-then-exact-rerank over the SQ8 chain (needs QUANT_SQL's
    qnormed and SQ8_CTE_SQL's sq8codes in scope)."""
    from .similarity import sql_qcos

    cos = sql_qcos("a.qvec", "b.qvec", "a.qnorm2", "b.qnorm2")
    return f"""(
    SELECT query_id, neighbor_id, cosine, rank
    FROM (
        SELECT s.query_id, s.neighbor_id, {cos} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                                  ORDER BY {cos} DESC, s.neighbor_id) AS rank
        FROM (
            SELECT query_id, neighbor_id
            FROM {knn_sq8_sql(query_mod, r)}
        ) s
        JOIN qnormed a ON a.vec_id = s.query_id
        JOIN qnormed b ON b.vec_id = s.neighbor_id
    ) ranked
    WHERE rank <= {k}
) s"""


def knn_ivfsq8(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = SQ8_QUERY_MOD,
    k: int = SQ8_K,
    n_probe: int = IVFSQ8_N_PROBE,
    centroid_mod: int | None = None,
) -> DataFrame:
    """Composed IVF + SQ8 search (FAISS ``IVF,SQ8`` — the training-light
    sibling of IVFADC): the coarse quantizer routes each vector to one
    inverted list (same session-cached cells as knn_ivf), vectors are
    stored as int8 codes + per-vector scale (same cached table as
    knn_sq8), and a query scans ONLY its ``n_probe`` nearest cells'
    codes. Selective scan × compressed scan compose multiplicatively,
    like IVFPQ, but with zero codebook training and a cheaper per-pair
    score (one 64-dim int8 dot vs M LUT gathers) at ~8× the code size
    (64 B vs 8 B per vector) — the classic SQ-vs-PQ memory/accuracy
    trade both real systems ship.

    Exactness: probes rank by the exact quantized cosine (same
    expression as knn_ivf); candidate scores are the SQ8 approximate
    cosine (exact int64 code dots + the pinned IEEE op order), so the
    oracle reproduces every boundary bit-for-bit.

    Scale shape: two cached index scans joined on vec_id, probes
    (Q·n_probe rows) broadcast into the code scan; at 100 TB the code
    table is written partitionBy(cell_id) so the probe join becomes
    partition pruning; the probed subset is ~n_probe/C of the corpus,
    so the Catalyst expression path suffices (the distributive GEMM
    kernel applies unchanged if probed volume ever dominates)."""
    from .similarity import (
        MATMUL_ASSIGN_MIN_N,
        adaptive_centroid_mod,
        ivf_index,
        qcosine,
        quantized_corpus,
    )

    emb, n = quantized_corpus(spark, sf_dir)
    if centroid_mod is None:
        centroid_mod = adaptive_centroid_mod(n)
    assign = "matmul" if n >= MATMUL_ASSIGN_MIN_N else "hof"
    _, cent = ivf_index(spark, sf_dir, centroid_mod, assign)
    codes = sq8_index(spark, sf_dir)
    # Inverted-list artifact (optimization r11): codes arrive WITH
    # their cell ids — the per-serve codes⋈assignments corpus join
    # moved into the session-cached index build (ivfsq8_enc_index),
    # where a stored IVF index keeps it.
    enc = ivfsq8_enc_index(spark, sf_dir, centroid_mod)

    queries = (
        codes.filter(F.col("vec_id") % query_mod == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("code").alias("q_code"),
            F.col("m").alias("q_m"),
            F.col("qnorm2").alias("q_qnorm2"),
        )
        .join(
            emb.select(
                F.col("vec_id").alias("query_id"),
                F.col("qvec").alias("q_qvec"),
            ),
            "query_id",
        )
    )
    probe_scored = queries.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "q_code",
        "q_m",
        "q_qnorm2",
        "cell_id",
        qcosine(
            F.col("q_qvec"), F.col("c_qvec"), F.col("q_qnorm2"), F.col("c_qnorm2")
        ).alias("p_cos"),
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("p_cos").desc(), F.col("cell_id")
    )
    probes = (
        probe_scored.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_probe)
        .select(
            "query_id", "q_code", "q_m", "q_qnorm2",
            F.col("cell_id").alias("q_cell"),
        )
    )
    scored = (
        enc.join(F.broadcast(probes), F.col("cell_id") == F.col("q_cell"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "cell_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _code_dot(F.col("q_code"), F.col("code")).cast("double")
                * F.col("q_m").cast("double")
                * F.col("m").cast("double")
                / F.lit(float(SQ8_MAX * SQ8_MAX))
                / F.sqrt(F.col("q_qnorm2").cast("double"))
                / F.sqrt(F.col("qnorm2").cast("double"))
            ).alias("sq8_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sq8_cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def knn_ivfsq8_rerank(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = SQ8_QUERY_MOD,
    k: int = SQ8_K,
    r: int = SQ8_RERANK_R,
    n_probe: int = IVFSQ8_N_PROBE,
) -> DataFrame:
    """The full production composition — route + compress + refine
    (FAISS ``IVF,SQ8`` with a refine stage): coarse cells bound WHICH
    vectors are scanned (n_probe/C of the corpus), int8 codes bound the
    BYTES per scanned vector (8×), and the exact rerank bounds the
    full-precision reads at Q·r rows. Each stage's boundary is
    deterministic (probe cosine / sq8 code score / exact quantized
    cosine, all with id tie-breaks), so the three-stage pipeline is
    bit-reproducible end-to-end in DuckDB. The recall dial factorizes:
    n_probe controls routing loss, r controls quantization loss —
    exactly how a deployed index is tuned."""
    shortlist = knn_ivfsq8(spark, sf_dir, query_mod, r, n_probe).select(
        "query_id", "neighbor_id"
    )
    emb, _ = quantized_corpus(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm2").alias("q_qnorm2"),
    )
    nb = emb.select(F.col("vec_id").alias("neighbor_id"), "qvec", "qnorm2")
    from .similarity import qcosine

    rer = (
        shortlist.join(nb, "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            qcosine(
                F.col("q_qvec"),
                F.col("qvec"),
                F.col("q_qnorm2"),
                F.col("qnorm2"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def knn_ivfsq8_rerank_sql(
    query_mod: int = SQ8_QUERY_MOD,
    k: int = SQ8_K,
    r: int = SQ8_RERANK_R,
    n_probe: int = IVFSQ8_N_PROBE,
) -> str:
    """Needs QUANT_SQL's qnormed + SQ8_CTE_SQL's sq8codes in scope."""
    from .similarity import sql_qcos

    cos = sql_qcos("a.qvec", "b.qvec", "a.qnorm2", "b.qnorm2")
    return f"""(
    SELECT query_id, neighbor_id, cosine, rank
    FROM (
        SELECT s.query_id, s.neighbor_id, {cos} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                                  ORDER BY {cos} DESC, s.neighbor_id) AS rank
        FROM (
            SELECT query_id, neighbor_id
            FROM {knn_ivfsq8_sql(query_mod, r, n_probe)}
        ) s
        JOIN qnormed a ON a.vec_id = s.query_id
        JOIN qnormed b ON b.vec_id = s.neighbor_id
    ) ranked
    WHERE rank <= {k}
) s"""


def knn_ivfsq8_sql(
    query_mod: int = SQ8_QUERY_MOD,
    k: int = SQ8_K,
    n_probe: int = IVFSQ8_N_PROBE,
    centroid_mod: int | None = None,
) -> str:
    from .similarity import ADAPTIVE_MOD_SQL, sql_qcos

    assign_cos = sql_qcos("b.qvec", "a.qvec", "b.qnorm2", "a.qnorm2")
    probe_cos = sql_qcos("q.q_qvec", "a.qvec", "q.q_qnorm2", "a.qnorm2")
    dot = _sql_code_dot("q.q_code", "n.code")
    mod_sql = str(centroid_mod) if centroid_mod is not None else ADAPTIVE_MOD_SQL
    return f"""(
    WITH centroids AS (
        SELECT vec_id AS cell_id, qvec, qnorm2 FROM qnormed
        WHERE vec_id % {mod_sql} = 0
    ),
    cell_scored AS (
        SELECT b.vec_id, b.qvec, b.qnorm2, a.cell_id, {assign_cos} AS c_cos
        FROM qnormed b CROSS JOIN centroids a
    ),
    ivfsq8_assigned AS (
        SELECT vec_id, cell_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_cos DESC, cell_id) AS rn
            FROM cell_scored
        ) t WHERE rn = 1
    ),
    ivfsq8_enc AS (
        SELECT c.vec_id, c.m, c.qnorm2, c.code, a.cell_id
        FROM sq8codes c JOIN ivfsq8_assigned a USING (vec_id)
    ),
    ivfsq8_queries_raw AS (
        SELECT c.vec_id AS query_id, c.code AS q_code, c.m AS q_m,
            c.qnorm2 AS q_qnorm2, e.qvec AS q_qvec
        FROM sq8codes c JOIN qnormed e USING (vec_id)
        WHERE c.vec_id % {query_mod} = 0
    ),
    ivfsq8_probes AS (
        SELECT query_id, q_code, q_m, q_qnorm2, cell_id AS q_cell FROM (
            SELECT q.query_id, q.q_code, q.q_m, q.q_qnorm2, a.cell_id,
                ROW_NUMBER() OVER (
                    PARTITION BY q.query_id
                    ORDER BY {probe_cos} DESC, a.cell_id) AS prn
            FROM ivfsq8_queries_raw q
            CROSS JOIN centroids a
        ) p WHERE prn <= {n_probe}
    ),
    ivfsq8_scored AS (
        SELECT q.query_id, n.cell_id, n.vec_id AS neighbor_id,
            CAST({dot} AS DOUBLE) * CAST(q.q_m AS DOUBLE)
                * CAST(n.m AS DOUBLE) / {float(SQ8_MAX * SQ8_MAX)}
                / sqrt(CAST(q.q_qnorm2 AS DOUBLE))
                / sqrt(CAST(n.qnorm2 AS DOUBLE)) AS sq8_cos
        FROM ivfsq8_enc n
        JOIN ivfsq8_probes q ON n.cell_id = q.q_cell
        WHERE n.vec_id != q.query_id
    )
    SELECT query_id, cell_id, neighbor_id, sq8_cos,
        CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY sq8_cos DESC, neighbor_id) AS rank
        FROM ivfsq8_scored
    ) r
    WHERE rank <= {k}
) s"""
