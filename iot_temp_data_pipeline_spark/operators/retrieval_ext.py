"""Round-8 retrieval extensions: late-interaction (MaxSim) scoring,
matryoshka prefix-dimension recall, and attribute-filtered vector
search.

Three retrieval shapes a production embedding stack adds on top of the
single-vector ANN family (similarity.py / pq.py / sq8.py):

- **Late interaction** (ColBERT-style MaxSim): documents and queries
  are *multi-vector* — one embedding per token/chunk — and the score is
  ``sum over query vectors of (max over doc vectors of cosine)``.
  Published as Khattab & Zaharia, "ColBERT: Efficient and Effective
  Passage Search via Contextualized Late Interaction" (SIGIR 2020).
- **Matryoshka truncation** (Kusupati et al., "Matryoshka
  Representation Learning", NeurIPS 2022): serving stacks truncate
  embeddings to a prefix of the trained dimension to cut index bytes;
  the recall sweep below measures exactly what that costs at this
  corpus, against the session-cached exact ground truth.
- **Filtered search**: top-k restricted to corpus vectors satisfying a
  metadata predicate (here: same ``label`` as the query). The classic
  vector-DB "filtered ANN" feature; expressed relationally the filter
  attribute *becomes the join key*, so Catalyst turns the O(N·Q) cross
  join into a hash join that only scores within-label pairs.

All scores derive from the exact integer-quantized dot products of
``similarity.quantized_corpus`` (every partial sum < 2^53 → the doubles
are bit-identical across engines), and every ranking/aggregation here
is over exact integers (micro-scaled floors of those bit-identical
doubles), so the DuckDB oracles pin results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import local_table
from .similarity import (
    EMB_DIM,
    ground_truth_topk,
    qcosine,
    qnorm2,
    quantized_corpus,
    sql_qcos,
)

# ---------------------------------------------------- late interaction

# Multi-vector layout over the embeddings fixture: consecutive groups of
# TOKENS_PER_DOC vectors form one "document" (the fixture has no native
# multi-vector column; a real corpus stores array<array<float>> or an
# exploded (doc_id, token_idx, vec) table — the layout below IS that
# exploded table, derived deterministically from vec_id).
MAXSIM_TOKENS_PER_DOC = 4
MAXSIM_QUERY_MOD = 25  # query docs: tdoc % 25 == 0
MAXSIM_K = 5
MAXSIM_MICROS = "1000000.0"  # micro-unit scale for the exact floor


def _maxsim_reduce(
    pairs: DataFrame, tokens_per_doc: int, k: int
) -> DataFrame:
    """Shared MaxSim reduction tail over a (q_tdoc, tdoc, q_vec, ms)
    token-score stream: ONE grouped aggregate per (query, doc) pair
    instead of the former two (max by (q, d, q_vec), then sum by
    (q, d)) — optimization r12, guide §2.3/§2.4.

    The fixture's multi-vector layout is ``vec_id = tdoc·m + j``, so a
    query token's slot is ``q_vec % m`` — the per-query-token maxes are
    m conditional MAX aggregates in a single groupBy(q_tdoc, tdoc), and
    the MaxSim score is their sum. A slot a (q, d) group lacks is a NULL
    max and counts as 0, so the sum covers the slots that are present,
    as the chain's does; longs make max-then-sum order-free, so the
    result is bit-identical to the two-aggregate chain. Plan effect:
    the (q, d, q_vec)-keyed hash aggregate pair — and, where the stream
    is not already partitioned by q_tdoc (the exhaustive forms), its
    whole EXCHANGE — disappears;
    the shuffle now carries one pre-aggregated row per (q, d) with m
    max columns instead of m rows."""
    tok_maxes = [
        F.max(
            F.when(F.col("q_vec") % tokens_per_doc == j, F.col("ms"))
        ).alias(f"_tm_{j}")
        for j in range(tokens_per_doc)
    ]
    sc = pairs.groupBy("q_tdoc", "tdoc").agg(*tok_maxes)
    slots = [F.coalesce(F.col(f"_tm_{j}"), F.lit(0)) for j in range(tokens_per_doc)]
    total = slots[0]
    for slot in slots[1:]:
        total = total + slot
    sc = sc.select("q_tdoc", "tdoc", total.alias("maxsim_micros"))
    w = Window.partitionBy("q_tdoc").orderBy(
        F.col("maxsim_micros").desc(), F.col("tdoc")
    )
    return sc.select(
        F.col("q_tdoc").alias("query_doc"),
        F.col("tdoc").alias("neighbor_doc"),
        "maxsim_micros",
        F.row_number().over(w).cast("long").alias("rank"),
    ).filter(F.col("rank") <= k)


def maxsim_topk(
    spark: SparkSession,
    sf_dir: str,
    tokens_per_doc: int = MAXSIM_TOKENS_PER_DOC,
    query_mod: int = MAXSIM_QUERY_MOD,
    k: int = MAXSIM_K,
    strategy: str = "auto",
) -> DataFrame:
    """Late-interaction top-k: score(q, d) = Σ_{qt∈q} max_{dt∈d}
    cos(qt, dt), computed over exact integers end to end.

    Per-pair cosines are floored to micro-units BEFORE the max/sum
    (floor of a bit-identical double is bit-identical; sums of longs
    are order-independent), so unlike a double-sum the score carries no
    summation-order risk and ranks identically in both engines.

    Physical shape: the query token set (|corpus|/query_mod docs ×
    tokens_per_doc vectors) is broadcast; the corpus token table is
    scanned ONCE; the MaxSim reduction is two hash aggregations with
    map-side combine — first keyed by (query_doc, corpus_doc,
    query_token) for the max, then by (query_doc, corpus_doc) for the
    sum — and a per-query top-k window. At 100 TB the corpus-token scan
    stays one pass, the shuffles are bounded by Q_docs·N_docs(·m) score
    rows, and the standard production composition routes through an
    IVF/PQ index on pooled (mean/[CLS]) vectors first so N_docs here is
    a shortlist, not the corpus — the same shortlist-then-refine
    lifecycle as sq8.knn_sq8_rerank.

    ``strategy`` picks the physical form of the token-score pass (both
    bit-identical — same exact int64 dots, same IEEE op order, same
    micro-floor): "catalyst" (crossJoin + HOF cosine — fine while
    N_tok·Q_tok is small, but the HOF dot is interpreted, the 100×
    probe measured 71× wall on 100× pairs), "matmul" (per-partition
    f64-BLAS GEMM over the token matrix with IN-BATCH max pre-reduction
    — the scale form, probe catch #7), or "auto" (the family's
    cost-based pick on the same N·Q statistic as knn_brute_force)."""
    from .similarity import BRUTE_MATMUL_MIN_PAIRS

    if strategy not in ("auto", "catalyst", "matmul"):
        # A typo must not silently fall through to the interpreted-HOF
        # path the 71× probe flagged (ADVICE r8).
        raise ValueError(
            f"strategy must be 'auto', 'catalyst' or 'matmul', got {strategy!r}"
        )
    emb, n = quantized_corpus(spark, sf_dir)
    tok = emb.select(
        F.expr(f"vec_id div {tokens_per_doc}").alias("tdoc"),
        "vec_id",
        "qvec",
        "qnorm2",
    )
    if strategy == "auto":
        strategy = (
            "matmul"
            if n * (n // query_mod) >= BRUTE_MATMUL_MIN_PAIRS
            else "catalyst"
        )
    if strategy == "matmul":
        return _maxsim_matmul(tok, query_mod, k, tokens_per_doc)
    q = tok.filter(F.col("tdoc") % query_mod == 0).select(
        F.col("tdoc").alias("q_tdoc"),
        F.col("vec_id").alias("q_vec"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm2").alias("q_qnorm2"),
    )
    scored = (
        tok.crossJoin(F.broadcast(q))
        .filter(F.col("tdoc") != F.col("q_tdoc"))
        .select(
            "q_tdoc",
            "tdoc",
            "q_vec",
            F.floor(
                F.lit(float(MAXSIM_MICROS))
                * qcosine(
                    F.col("q_qvec"),
                    F.col("qvec"),
                    F.col("q_qnorm2"),
                    F.col("qnorm2"),
                )
            )
            .cast("long")
            .alias("ms"),
        )
    )
    return _maxsim_reduce(scored, tokens_per_doc, k)


def _maxsim_matmul(
    tok: DataFrame,
    query_mod: int,
    k: int,
    tokens_per_doc: int = MAXSIM_TOKENS_PER_DOC,
) -> DataFrame:
    """Scale strategy for :func:`maxsim_topk` (probe catch #7: the
    interpreted HOF cosine went 71× at 100× pairs): the query TOKEN
    matrix is collected once (Q_docs·m rows — the broadcast-bound
    contract of the whole brute-force family), each corpus-token
    partition scores its rows as ONE exact-integer GEMM per Arrow
    batch, micro-floors, and pre-reduces the per-(corpus_doc,
    query_token) MAX inside the batch — emission is bounded by
    docs·Q_tokens per batch, not tokens·Q_tokens. The downstream plan
    is the identical max → sum → top-k window chain, so results are
    bit-identical to the Catalyst form (pinned by test + the shared
    oracle): dots are exact int64 via the f64-BLAS 2^53 bound, the
    cosine applies the same IEEE op order (dot / √q_n2 / √n_n2), and
    floor-of-identical-doubles commutes with MAX."""
    import numpy as np

    q_rows = (
        tok.filter(F.col("tdoc") % query_mod == 0)
        .select("tdoc", "vec_id", "qvec", "qnorm2")
        .collect()
    )
    spark = tok.sparkSession
    if not q_rows:
        return local_table(
            spark,
            [],
            schema="query_doc long, neighbor_doc long,"
            " maxsim_micros long, rank long",
        )
    qmat = np.array([r["qvec"] for r in q_rows], dtype=np.int64)
    qsqrt = np.sqrt(
        np.array([r["qnorm2"] for r in q_rows], dtype=np.int64).astype(
            np.float64
        )
    )
    qvec_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_tdocs = np.array([r["tdoc"] for r in q_rows], dtype=np.int64)
    bc = spark.sparkContext.broadcast((qmat, qsqrt, qvec_ids, q_tdocs))

    def partial_max(batches):
        import numpy as np  # noqa: PLC0415 — worker-side imports
        import pandas as pd  # noqa: PLC0415

        from .similarity import (  # noqa: PLC0415
            MATMUL_Q_CHUNK,
            _exact_f64_matmul,
        )

        qmat, qsqrt, qvec_ids, q_tdocs = bc.value
        nq = qvec_ids.shape[0]
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qvec"]])
            nsqrt = np.sqrt(
                pdf["qnorm2"].to_numpy(dtype=np.int64).astype(np.float64)
            )
            tdocs = pdf["tdoc"].to_numpy(dtype=np.int64)
            # in-batch max over each doc's token rows, vectorized:
            # token rows sharing a tdoc are reduced with reduceat over
            # the stable tdoc grouping (exact integer max — order-free).
            # Score tiled over query-token chunks (catch #9): per-task
            # memory bounded at B×MATMUL_Q_CHUNK regardless of Q.
            order = np.argsort(tdocs, kind="stable")
            ts = tdocs[order]
            starts = np.flatnonzero(np.r_[True, ts[1:] != ts[:-1]])
            docs_u = ts[starts]
            nd = docs_u.shape[0]
            frames = []
            for q0 in range(0, nq, MATMUL_Q_CHUNK):
                q1 = min(q0 + MATMUL_Q_CHUNK, nq)
                cos = _exact_f64_matmul(x, qmat[q0:q1], np)
                cos = cos / qsqrt[None, q0:q1]
                cos = cos / nsqrt[:, None]
                ms = np.floor(1000000.0 * cos).astype(np.int64)
                red = np.maximum.reduceat(ms[order], starts, axis=0)
                frames.append(
                    pd.DataFrame(
                        {
                            "q_tdoc": np.tile(q_tdocs[q0:q1], nd),
                            "tdoc": np.repeat(docs_u, q1 - q0),
                            "q_vec": np.tile(qvec_ids[q0:q1], nd),
                            "ms": red.reshape(-1),
                        }
                    )
                )
            frame = pd.concat(frames, ignore_index=True)
            frame = frame[frame["q_tdoc"] != frame["tdoc"]]
            if frame.empty:
                continue
            yield frame

    partials = tok.select("tdoc", "vec_id", "qvec", "qnorm2").mapInPandas(
        partial_max,
        schema="q_tdoc long, tdoc long, q_vec long, ms long",
    )
    # per-batch partial maxes fold into the same m conditional maxes
    # (max of per-batch maxes == global max — order-free longs)
    return _maxsim_reduce(partials, tokens_per_doc, k)


def maxsim_topk_sql(
    tokens_per_doc: int = MAXSIM_TOKENS_PER_DOC,
    query_mod: int = MAXSIM_QUERY_MOD,
    k: int = MAXSIM_K,
) -> str:
    """DuckDB twin (expects the QUANT_SQL prelude): identical grouping,
    identical micro-floor, identical (score DESC, doc ASC) rank."""
    cos = sql_qcos("q.q_qvec", "t.qvec", "q.q_qnorm2", "t.qnorm2")
    return f"""(
    WITH li_tok AS (
        SELECT vec_id // {tokens_per_doc} AS tdoc, vec_id, qvec, qnorm2
        FROM qnormed
    ),
    li_q AS (
        SELECT tdoc AS q_tdoc, vec_id AS q_vec,
               qvec AS q_qvec, qnorm2 AS q_qnorm2
        FROM li_tok WHERE tdoc % {query_mod} = 0
    ),
    li_scored AS (
        SELECT q.q_tdoc, t.tdoc, q.q_vec,
            CAST(FLOOR({MAXSIM_MICROS} * ({cos})) AS BIGINT) AS ms
        FROM li_tok t CROSS JOIN li_q q
        WHERE t.tdoc != q.q_tdoc
    ),
    li_tokmax AS (
        SELECT q_tdoc, tdoc, q_vec, MAX(ms) AS tok_ms
        FROM li_scored GROUP BY 1, 2, 3
    ),
    li_sc AS (
        SELECT q_tdoc, tdoc, SUM(tok_ms) AS maxsim_micros
        FROM li_tokmax GROUP BY 1, 2
    )
    SELECT q_tdoc AS query_doc, tdoc AS neighbor_doc,
        CAST(maxsim_micros AS BIGINT) AS maxsim_micros,
        CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_tdoc ORDER BY maxsim_micros DESC, tdoc) AS rank
        FROM li_sc
    ) r
    WHERE rank <= {k}
) s"""


# ------------------------------------------- matryoshka recall sweep

MATRYOSHKA_DIMS = (16, 32, EMB_DIM)  # full dim anchors recall=1
MATRYOSHKA_QUERY_MOD = 100
MATRYOSHKA_K = 5


def matryoshka_recall(
    spark: SparkSession,
    sf_dir: str,
    dims: tuple[int, ...] = MATRYOSHKA_DIMS,
    query_mod: int = MATRYOSHKA_QUERY_MOD,
    k: int = MATRYOSHKA_K,
) -> DataFrame:
    """Recall@k of brute-force search over the first ``d`` embedding
    dimensions vs the full-dimension exact top-k, for each prefix d —
    the serving dial a matryoshka deployment tunes (half the index
    bytes ⇄ how much recall?). Ground truth is the session-cached
    exact top-k (ground_truth_topk — build once, serve every eval);
    the whole sweep rides ONE fused GEMM pass: every prefix dim scores
    as a column slice of the same Arrow batch (VERDICT r8 #6), then
    one shared distributive top-k and one recall join keyed by
    (prefix_dim, query_id). The full-dimension branch doubles as a
    self-check (recall exactly 1). The mean is SUM(hits)/COUNT(*) in
    one division, so no summation-order risk.

    Unlike the point-query families there is no cost-based HOF/GEMM
    split here: the sweep's |dims| branches amortize onto one corpus
    scan only in the fused kernel, and the per-dim Catalyst form
    (kept as :func:`matryoshka_recall_catalyst`, pinned bit-identical
    by tests) pays |dims| scans + |dims| join/agg job chains — it lost
    at EVERY scale measured (sf0.1: 0.92 s → the fused kernel's one
    scan; the r8 fcr-5.27 row was all job-count, not compute).

    Serve-path job accounting: the query matrix (its per-dim slices /
    norms) and the ground-truth pair keys are session-cached alongside
    the artifacts they derive from, and the recall join collapses to a
    literal-array membership test (the pair set is Q·k — eval-sized by
    construction, the quality_rank_fusion map-literal precedent), so a
    warm sweep is exactly: one fused kernel scan → one top-k window
    exchange → one |dims|-group aggregate."""
    import numpy as np

    from ..sources.catalog import get_or_build

    dims = tuple(dims)
    emb, _n = quantized_corpus(spark, sf_dir)

    def build():
        bf_rows = (
            ground_truth_topk(spark, sf_dir, query_mod, k)
            .select("query_id", "neighbor_id")
            .collect()
        )
        q_rows = (
            emb.filter(F.col("vec_id") % query_mod == 0)
            .select("vec_id", "qvec")
            .collect()
        )
        if q_rows:
            qfull = np.array([r["qvec"] for r in q_rows], dtype=np.int64)
            qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
            qsqrt_by_dim = {
                d: np.sqrt(
                    (qfull[:, :d] * qfull[:, :d]).sum(axis=1).astype(np.float64)
                )
                for d in dims
            }
            bc = spark.sparkContext.broadcast((qfull, qsqrt_by_dim, qids, dims))
        else:
            bc = None
        # the ground-truth pair table itself is the membership side —
        # it is already session-cached/checkpointed by ground_truth_topk
        n_q = len({r["query_id"] for r in bf_rows})
        return (bc, n_q)

    bc, n_q = get_or_build(
        spark, "matryoshka_serve", sf_dir, build, dims, query_mod, k
    )
    if bc is None:
        return local_table(
            spark,
            [], schema="prefix_dim long, n_queries long, mean_recall_at_k double"
        )
    # Size the GEMM tasks: a kernel task under ~1000 vectors is Arrow/
    # Python-roundtrip overhead, not compute (the checkpointed corpus
    # carries defaultParallelism partitions — 62 rows each at sf0.1).
    # coalesce is narrow (no shuffle); at real corpus sizes n/1000
    # exceeds the core count and this is a no-op.
    par = spark.sparkContext.defaultParallelism
    emb = emb.coalesce(max(1, min(par, _n // 1000)))
    approx = _matryoshka_topk(emb, bc, k)
    # recall via a BROADCAST join against the cached ground-truth pair
    # table, aggregated CONDITIONALLY over the approx side: both sides
    # hold exactly k rows per (dim, query) by construction, so the
    # approx-side sum of join hits equals the oracle's bf-side LEFT
    # JOIN count, and every dim keeps its row even at zero hits. (A
    # Q·k literal-array membership test was reviewed out here: the
    # pair set is corpus-scaled — Q = N/query_mod — unlike the
    # bounded-bin map literals this serve path's precedent uses, so a
    # literal would embed a growing array in the plan and pay O(Q·k)
    # per row; the broadcast hash probe is O(1).)
    bf = ground_truth_topk(spark, sf_dir, query_mod, k).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        approx.join(F.broadcast(bf), ["query_id", "neighbor_id"], "left")
        .groupBy("prefix_dim")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"),
            F.count("*").alias("cnt"),
        )
        .select(
            F.col("prefix_dim").cast("long").alias("prefix_dim"),
            F.lit(n_q).cast("long").alias("n_queries"),
            (F.col("hits").cast("double") / F.col("cnt").cast("double")).alias(
                "mean_recall_at_k"
            ),
        )
    )


def matryoshka_recall_catalyst(
    spark: SparkSession,
    sf_dir: str,
    dims: tuple[int, ...] = MATRYOSHKA_DIMS,
    query_mod: int = MATRYOSHKA_QUERY_MOD,
    k: int = MATRYOSHKA_K,
) -> DataFrame:
    """Per-dim Catalyst twin of :func:`matryoshka_recall` — |dims|
    sliced crossJoin+window branches, union-stacked. Kept as the
    bit-parity pin for the fused GEMM kernel (tests compare both forms
    row-for-row), not as a serving path."""
    bf = ground_truth_topk(spark, sf_dir, query_mod, k).select(
        "query_id", "neighbor_id"
    )
    emb, n = quantized_corpus(spark, sf_dir)
    out = None
    for d in dims:
        tr = emb.select(
            "vec_id", "label", F.slice("qvec", 1, d).alias("qvec")
        ).withColumn("qnorm2", qnorm2(F.col("qvec")))
        q = tr.filter(F.col("vec_id") % query_mod == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("qvec").alias("q_qvec"),
            F.col("qnorm2").alias("q_qnorm2"),
        )
        scored = (
            tr.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
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
        approx = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id")
        )
        joined = bf.join(
            approx.withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        r = joined.agg(
            F.countDistinct("query_id").alias("n_queries"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count("*").cast("double")
            ).alias("mean_recall_at_k"),
        ).select(
            F.lit(d).cast("long").alias("prefix_dim"),
            "n_queries",
            "mean_recall_at_k",
        )
        out = r if out is None else out.unionByName(r)
    return out


def _matryoshka_topk(emb: DataFrame, bc, k: int) -> DataFrame:
    """One-scan matryoshka top-k kernel (VERDICT r8 #6): ``bc``
    broadcasts (qfull, qsqrt_by_dim, qids, dims) — the query matrix
    collected once at full dimension and sliced driver-side; each
    corpus Arrow batch is loaded once and every prefix dim scores as a
    column slice of the same in-memory block — |dims| GEMMs per batch,
    ONE corpus pass, one shared distributive top-k window.

    Bit-identical per dim to knn_brute_force_matmul over the sliced
    corpus: the prefix dot is the same exact int64 GEMM under the 2^53
    bound (a prefix sum of the full dot's terms), prefix norms are the
    same integer sum-of-squares (np int64 here ≡ the Catalyst qnorm2
    fold), and selection applies the same strict total order
    (cosine DESC, neighbor_id ASC) per batch and in the final window."""
    from .similarity import MATMUL_Q_CHUNK, _exact_f64_matmul

    def partial_topk(batches):
        import numpy as np  # noqa: PLC0415 — worker-side imports
        import pandas as pd  # noqa: PLC0415

        qfull, qsqrt_by_dim, qids, dims = bc.value
        m = k + 1  # self-match removed post-selection
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qvec"]])
            vec_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out = {"prefix_dim": [], "query_id": [], "neighbor_id": [], "cosine": []}
            for d in dims:
                xd = x[:, :d]
                nsqrt = np.sqrt((xd * xd).sum(axis=1).astype(np.float64))
                qsqrt = qsqrt_by_dim[d]
                qmat = qfull[:, :d]
                # same query-chunk tiling as every matmul kernel
                # (catch #9): the cos block stays B×MATMUL_Q_CHUNK
                for q0 in range(0, qids.shape[0], MATMUL_Q_CHUNK):
                    q1 = min(q0 + MATMUL_Q_CHUNK, qids.shape[0])
                    cos = (
                        _exact_f64_matmul(xd, qmat[q0:q1], np)
                        / qsqrt[None, q0:q1]
                        / nsqrt[:, None]
                    )
                    for jj in range(q1 - q0):
                        j = q0 + jj
                        order = np.lexsort((vec_ids, -cos[:, jj]))[:m]
                        keep = order[vec_ids[order] != qids[j]][:k]
                        out["prefix_dim"].extend([int(d)] * keep.shape[0])
                        out["query_id"].extend([int(qids[j])] * keep.shape[0])
                        out["neighbor_id"].extend(vec_ids[keep].tolist())
                        out["cosine"].extend(cos[keep, jj].tolist())
            yield pd.DataFrame(out)

    candidates = emb.select("vec_id", "qvec").mapInPandas(
        partial_topk,
        schema="prefix_dim long, query_id long, neighbor_id long, cosine double",
    )
    w = Window.partitionBy("prefix_dim", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("prefix_dim", "query_id", "neighbor_id")
    )


def _matryoshka_branch_sql(d: int, query_mod: int, k: int) -> str:
    cos = sql_qcos("a.qvec", "b.qvec", "a.qnorm2", "b.qnorm2")
    return f"""(
    WITH tq{d} AS (
        SELECT vec_id, qvec[1:{d}] AS qvec,
            list_sum(list_transform(generate_series(1, {d}),
                     i -> qvec[i] * qvec[i])) AS qnorm2
        FROM qnormed
    ),
    qr{d} AS (
        SELECT vec_id AS query_id, qvec, qnorm2 FROM tq{d}
        WHERE vec_id % {query_mod} = 0
    ),
    ap{d} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT a.query_id, b.vec_id AS neighbor_id,
                ROW_NUMBER() OVER (PARTITION BY a.query_id
                    ORDER BY {cos} DESC, b.vec_id) AS rank
            FROM qr{d} a CROSS JOIN tq{d} b
            WHERE b.vec_id != a.query_id
        ) r WHERE rank <= {k}
    )
    SELECT CAST({d} AS BIGINT) AS prefix_dim,
        COUNT(DISTINCT bf.query_id) AS n_queries,
        CAST(SUM(CASE WHEN ap{d}.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_recall_at_k
    FROM mr_bf bf
    LEFT JOIN ap{d} ON bf.query_id = ap{d}.query_id
                   AND bf.neighbor_id = ap{d}.neighbor_id
) b{d}"""


def matryoshka_recall_sql(
    dims: tuple[int, ...] = MATRYOSHKA_DIMS,
    query_mod: int = MATRYOSHKA_QUERY_MOD,
    k: int = MATRYOSHKA_K,
) -> str:
    """Sweep oracle body (expects QUANT_SQL + an ``mr_bf`` CTE holding
    the exact full-dimension top-k pairs)."""
    return (
        "(\n    "
        + "\n    UNION ALL\n    ".join(
            f"SELECT * FROM {_matryoshka_branch_sql(d, query_mod, k)}"
            for d in dims
        )
        + "\n) mr"
    )


# ------------------------------------------------- filtered search

FILTERED_QUERY_MOD = 50
FILTERED_K = 5


def knn_label_filtered(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = FILTERED_QUERY_MOD,
    k: int = FILTERED_K,
) -> DataFrame:
    """Attribute-filtered exact top-k: neighbors restricted to corpus
    vectors sharing the query's ``label`` (the vector-DB "filtered
    ANN" / same-category retrieval feature). Relationally the metadata
    predicate IS the join key: instead of crossJoin-then-filter, the
    corpus joins the broadcast query set ON label, so only within-label
    pairs are ever scored — the selectivity of the filter prunes the
    score work, exactly like partition pruning prunes a scan. At 100 TB
    the same shape holds with the corpus bucketed by the filter
    attribute (or the label routed into per-label IVF cells), keeping
    filtered search a partition-local scan instead of a post-filter
    over an unfiltered candidate list."""
    emb, _ = quantized_corpus(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm2").alias("q_qnorm2"),
    )
    scored = (
        emb.join(
            F.broadcast(q),
            (F.col("label") == F.col("q_label"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").cast("long").alias("label"),
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
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def knn_label_filtered_sql(
    query_mod: int = FILTERED_QUERY_MOD, k: int = FILTERED_K
) -> str:
    cos = sql_qcos("a.qvec", "b.qvec", "a.qnorm2", "b.qnorm2")
    return f"""(
    WITH fq AS (
        SELECT vec_id AS query_id, label AS q_label, qvec, qnorm2
        FROM qnormed WHERE vec_id % {query_mod} = 0
    ),
    fscored AS (
        SELECT a.query_id, b.vec_id AS neighbor_id,
            CAST(b.label AS BIGINT) AS label, {cos} AS cosine
        FROM fq a JOIN qnormed b
          ON b.label = a.q_label AND b.vec_id != a.query_id
    )
    SELECT query_id, neighbor_id, label, cosine, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM fscored
    ) r
    WHERE rank <= {k}
) s"""


# ----------------------------- pooled shortlist → MaxSim rerank

MAXSIM_SHORTLIST_R = 20  # pooled-cosine shortlist fed to the exact rerank


def pooled_index(
    spark: SparkSession,
    sf_dir: str,
    tokens_per_doc: int = MAXSIM_TOKENS_PER_DOC,
) -> DataFrame:
    """Session-cached pooled routing table — one integer vector per
    multi-vector doc (elementwise SUM of its token vectors; cosine of
    the sum == cosine of the mean, and the sum stays exact int64).
    The stored-index artifact of the late-interaction family: same
    build-once/serve-many lifecycle and determinism contract as
    sq8.sq8_index (localCheckpoint keyed by every shape parameter;
    cold and warm caches agree — the from-scratch DuckDB oracle still
    hash-matches)."""
    from ..sources.catalog import get_or_build

    def build():
        emb, _ = quantized_corpus(spark, sf_dir)
        tok = emb.select(
            F.expr(f"vec_id div {tokens_per_doc}").alias("tdoc"), "qvec"
        )
        zeros = F.array_repeat(F.lit(0).cast("long"), EMB_DIM)
        return (
            tok.groupBy("tdoc")
            .agg(F.collect_list("qvec").alias("vs"))
            .select(
                "tdoc",
                F.aggregate(
                    "vs",
                    zeros,
                    lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                ).alias("pvec"),
            )
            .withColumn("pnorm2", qnorm2(F.col("pvec")))
            .localCheckpoint(eager=True)
        )

    return get_or_build(spark, "maxsim_pooled", sf_dir, build, tokens_per_doc)


def cached_maxsim_truth(
    spark: SparkSession,
    sf_dir: str,
    tokens_per_doc: int = MAXSIM_TOKENS_PER_DOC,
    query_mod: int = MAXSIM_QUERY_MOD,
    k: int = MAXSIM_K,
) -> DataFrame:
    """Session-cached exhaustive-MaxSim top-k pair table — the
    late-interaction analog of similarity.ground_truth_topk (build the
    exact ground truth once per version of sf_dir, serve every recall
    eval from it). Deterministic exact-integer reduction, so cold and
    warm agree and the from-scratch DuckDB oracle still hash-matches;
    the exhaustive BUILD stays bench-measured via colbert_maxsim_topk,
    which bypasses this cache."""
    from ..sources.catalog import get_or_build

    return get_or_build(
        spark, "maxsim_truth", sf_dir,
        lambda: maxsim_topk(spark, sf_dir, tokens_per_doc, query_mod, k)
        .select("query_doc", "neighbor_doc")
        .localCheckpoint(eager=True),
        tokens_per_doc, query_mod, k,
    )


def maxsim_pooled_rerank(
    spark: SparkSession,
    sf_dir: str,
    tokens_per_doc: int = MAXSIM_TOKENS_PER_DOC,
    query_mod: int = MAXSIM_QUERY_MOD,
    k: int = MAXSIM_K,
    r: int = MAXSIM_SHORTLIST_R,
) -> DataFrame:
    """The production late-interaction composition (route → refine, the
    knn_ivfsq8_rerank architecture applied to multi-vector retrieval —
    and how ColBERT deployments actually serve: a cheap single-vector
    candidate pass, exact MaxSim only on the shortlist):

    1. POOL: one integer vector per doc — the elementwise SUM of its
       token vectors (cosine of the sum == cosine of the mean, and the
       sum stays exact int64: 4 tokens × 1e6-scaled dims keeps every
       dot < 2^53).
    2. ROUTE: pooled-cosine top-``r`` shortlist per query (broadcast
       query pool, one pooled-table scan — N_docs rows, 1/m of the
       token table).
    3. REFINE: exact MaxSim (same micro-unit integer reduction as
       :func:`maxsim_topk`) computed ONLY on the Q·r shortlisted doc
       pairs — token work bounded at Q·r·m², not Q·N·m.

    With r ≥ N_docs the refine sees every pair and the result equals
    maxsim_topk exactly (pinned by test). At 100 TB the pooled table is
    the IVF-indexed artifact and the token table is fetched per
    shortlist — the same bounded-fetch contract as the SQ8 rerank's
    raw-vector reads."""
    emb, _ = quantized_corpus(spark, sf_dir)
    tok = emb.select(
        F.expr(f"vec_id div {tokens_per_doc}").alias("tdoc"),
        "vec_id",
        "qvec",
        "qnorm2",
    )
    pooled = pooled_index(spark, sf_dir, tokens_per_doc)
    qp = pooled.filter(F.col("tdoc") % query_mod == 0).select(
        F.col("tdoc").alias("q_tdoc"),
        F.col("pvec").alias("q_pvec"),
        F.col("pnorm2").alias("q_pnorm2"),
    )
    routed = (
        pooled.crossJoin(F.broadcast(qp))
        .filter(F.col("tdoc") != F.col("q_tdoc"))
        .select(
            "q_tdoc",
            "tdoc",
            qcosine(
                F.col("q_pvec"),
                F.col("pvec"),
                F.col("q_pnorm2"),
                F.col("pnorm2"),
            ).alias("pcos"),
        )
    )
    wr = Window.partitionBy("q_tdoc").orderBy(
        F.col("pcos").desc(), F.col("tdoc")
    )
    shortlist = (
        routed.withColumn("srank", F.row_number().over(wr))
        .filter(F.col("srank") <= r)
        .select("q_tdoc", "tdoc")
    )
    qt = tok.filter(F.col("tdoc") % query_mod == 0).select(
        F.col("tdoc").alias("q_tdoc"),
        F.col("vec_id").alias("q_vec"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm2").alias("q_qnorm2"),
    )
    pairs = (
        shortlist.join(tok, "tdoc")
        .join(F.broadcast(qt), "q_tdoc")
        .select(
            "q_tdoc",
            "tdoc",
            "q_vec",
            F.floor(
                F.lit(float(MAXSIM_MICROS))
                * qcosine(
                    F.col("q_qvec"),
                    F.col("qvec"),
                    F.col("q_qnorm2"),
                    F.col("qnorm2"),
                )
            )
            .cast("long")
            .alias("ms"),
        )
    )
    return _maxsim_reduce(pairs, tokens_per_doc, k)


def maxsim_pooled_rerank_sql(
    tokens_per_doc: int = MAXSIM_TOKENS_PER_DOC,
    query_mod: int = MAXSIM_QUERY_MOD,
    k: int = MAXSIM_K,
    r: int = MAXSIM_SHORTLIST_R,
) -> str:
    """DuckDB twin (expects QUANT_SQL): pooled vectors rebuilt via the
    per-dimension SUM + ordered list() aggregate; identical routing and
    micro-floor refine."""
    pcos = sql_qcos("q.q_pvec", "p.pvec", "q.q_pnorm2", "p.pnorm2")
    tcos = sql_qcos("q.q_qvec", "t.qvec", "q.q_qnorm2", "t.qnorm2")
    return f"""(
    WITH pr_tok AS (
        SELECT vec_id // {tokens_per_doc} AS tdoc, vec_id, qvec, qnorm2
        FROM qnormed
    ),
    pr_pool AS (
        SELECT tdoc, list(s ORDER BY i) AS pvec FROM (
            SELECT tdoc, i, SUM(qvec[i]) AS s
            FROM pr_tok, unnest(generate_series(1, {EMB_DIM})) AS u(i)
            GROUP BY tdoc, i
        ) GROUP BY tdoc
    ),
    pr_pooln AS (
        SELECT tdoc, pvec,
            list_sum(list_transform(generate_series(1, {EMB_DIM}),
                     i -> pvec[i] * pvec[i])) AS pnorm2
        FROM pr_pool
    ),
    pr_qp AS (
        SELECT tdoc AS q_tdoc, pvec AS q_pvec, pnorm2 AS q_pnorm2
        FROM pr_pooln WHERE tdoc % {query_mod} = 0
    ),
    pr_short AS (
        SELECT q_tdoc, tdoc FROM (
            SELECT q.q_tdoc, p.tdoc,
                ROW_NUMBER() OVER (PARTITION BY q.q_tdoc
                    ORDER BY {pcos} DESC, p.tdoc) AS srank
            FROM pr_pooln p CROSS JOIN pr_qp q
            WHERE p.tdoc != q.q_tdoc
        ) rr WHERE srank <= {r}
    ),
    pr_qt AS (
        SELECT tdoc AS q_tdoc, vec_id AS q_vec,
               qvec AS q_qvec, qnorm2 AS q_qnorm2
        FROM pr_tok WHERE tdoc % {query_mod} = 0
    ),
    pr_pairs AS (
        SELECT s.q_tdoc, s.tdoc, q.q_vec,
            CAST(FLOOR({MAXSIM_MICROS} * ({tcos})) AS BIGINT) AS ms
        FROM pr_short s
        JOIN pr_tok t ON t.tdoc = s.tdoc
        JOIN pr_qt q ON q.q_tdoc = s.q_tdoc
    ),
    pr_tokmax AS (
        SELECT q_tdoc, tdoc, q_vec, MAX(ms) AS tok_ms
        FROM pr_pairs GROUP BY 1, 2, 3
    ),
    pr_sc AS (
        SELECT q_tdoc, tdoc, SUM(tok_ms) AS maxsim_micros
        FROM pr_tokmax GROUP BY 1, 2
    )
    SELECT q_tdoc AS query_doc, tdoc AS neighbor_doc,
        CAST(maxsim_micros AS BIGINT) AS maxsim_micros,
        CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_tdoc ORDER BY maxsim_micros DESC, tdoc) AS rank
        FROM pr_sc
    ) rr
    WHERE rank <= {k}
) s"""


# --------------------------------------- hybrid sparse+dense fusion

RRF_K0 = 60  # the standard reciprocal-rank-fusion damping constant
RRF_SCALE = 1_000_000_000  # exact integer contributions: RRF_SCALE div (k0+rank)
RRF_DEPTH = 10  # per-ranker candidate depth fed into the fusion
HYBRID_K = 5


def hybrid_rrf_topk(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = 100,
    k: int = HYBRID_K,
    depth: int = RRF_DEPTH,
    k0: int = RRF_K0,
) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack/Clarke/
    Buettcher, SIGIR 2009) — the production "dense + sparse" search
    shape: the BM25 inverted-index ranking and the exact embedding-
    cosine ranking each nominate their top-``depth``, and fusion scores
    every nominated (query, doc) by Σ_lists 1/(k0 + rank), which
    rewards documents BOTH retrievers like without comparing their
    incomparable raw scores. Contributions are exact integers
    (RRF_SCALE div (k0+rank)), so fused ordering is bit-identical
    cross-engine — the rank-fusion discipline of quality_rank_fusion
    applied to retrieval.

    The rankers cover different id spaces by design (BM25 ranks the
    dup-injected corpus, the dense index only embedded originals):
    queries are aligned to the dense query set, while candidate DOCS
    legitimately differ per ranker — docs missing from one list simply
    collect one contribution, the standard RRF treatment.

    Scale shape: each ranker is its own probed machinery (inverted-
    index join / brute-force-family scan); fusion itself is one
    full-outer join keyed by (query, doc) — bounded by Q·2·depth rows —
    plus the per-query top-k window."""
    from .similarity import ground_truth_topk
    from .tfidf import bm25_topk

    dense = ground_truth_topk(spark, sf_dir, query_mod, depth).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("rank_dense"),
    )
    qd = dense.select("query_id").distinct()
    sparse = (
        bm25_topk(spark, sf_dir, query_mod, depth)
        .join(qd, "query_id", "left_semi")
        .select(
            "query_id",
            "doc_id",
            F.col("rank").alias("rank_sparse"),
        )
    )
    fused = (
        sparse.join(dense, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            F.expr(
                f"CASE WHEN rank_sparse IS NOT NULL"
                f" THEN div({RRF_SCALE}, {k0} + rank_sparse) ELSE 0 END"
                f" + CASE WHEN rank_dense IS NOT NULL"
                f" THEN div({RRF_SCALE}, {k0} + rank_dense) ELSE 0 END"
            ).alias("rrf_scaled"),
            F.when(F.col("rank_sparse").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("in_sparse"),
            F.when(F.col("rank_dense").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("in_dense"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_scaled").desc(), F.col("doc_id")
    )
    return fused.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def hybrid_rrf_sql(
    query_mod: int = 100,
    k: int = HYBRID_K,
    depth: int = RRF_DEPTH,
    k0: int = RRF_K0,
) -> str:
    """DuckDB twin (expects corpus + QUANT_SQL preludes): the same two
    rankers' SQL bodies, the same integer fusion."""
    from .similarity import knn_brute_force_sql
    from .tfidf import bm25_topk_sql

    return f"""(
    WITH hy_dense AS (
        SELECT query_id, neighbor_id AS doc_id, rank AS rank_dense
        FROM {knn_brute_force_sql(query_mod, depth)}
    ),
    hy_sparse AS (
        SELECT query_id, doc_id, rank AS rank_sparse
        FROM {bm25_topk_sql(query_mod, depth)}
        WHERE query_id IN (SELECT DISTINCT query_id FROM hy_dense)
    ),
    hy_fused AS (
        SELECT COALESCE(s.query_id, d.query_id) AS query_id,
            COALESCE(s.doc_id, d.doc_id) AS doc_id,
            (CASE WHEN s.rank_sparse IS NOT NULL
                  THEN {RRF_SCALE} // ({k0} + s.rank_sparse) ELSE 0 END
             + CASE WHEN d.rank_dense IS NOT NULL
                    THEN {RRF_SCALE} // ({k0} + d.rank_dense) ELSE 0 END)
                AS rrf_scaled,
            CASE WHEN s.rank_sparse IS NOT NULL THEN 1 ELSE 0 END
                AS in_sparse,
            CASE WHEN d.rank_dense IS NOT NULL THEN 1 ELSE 0 END
                AS in_dense
        FROM hy_sparse s
        FULL OUTER JOIN hy_dense d
            ON s.query_id = d.query_id AND s.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, rrf_scaled, in_sparse, in_dense,
        CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id) AS rank
        FROM hy_fused
    ) r
    WHERE rank <= {k}
) s"""


# ----------------------------- BM25 hard-negative mining (DPR recipe)

HN_POOL = 10  # candidate pool depth per query before near-dup exclusion
HN_K = 5


def bm25_hard_negatives(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = 100,
    k: int = HN_K,
    pool: int = HN_POOL,
) -> DataFrame:
    """DPR-style hard-negative mining (Karpukhin et al., EMNLP 2020
    §4.2: contrastive retrieval training mines its negatives from
    BM25's top results): for each query doc, the top-``k`` BM25-ranked
    docs that are NOT near-duplicates of the query. A near-duplicate
    "negative" is a FALSE negative — the contrastive objective would
    learn to push apart paraphrases — so mining excludes it at the
    source (the same failure mode batch_contamination_audit detects
    at dataloader time, cut off one stage earlier).

    Composition of two session artifacts: the COST-ROUTED BM25 serve
    (bm25_serve_topk — exact below the Σ df·df_q budget, impact-pruned
    above; the oracle routes on the same statistic) pools
    top-``pool`` per query (deeper than ``k`` so exclusions don't
    starve the negative set; a query can still return < k rows if its
    pool is near-dup-heavy — production mines deeper pools for the
    same reason), then the VERIFIED winnowing pair index
    (cached_winnowing_pairs — the plagiarism-grade near-dup artifact,
    not a cosine guess) anti-joins in both orientations, and the
    survivors re-rank on the original (score DESC, doc_id) total
    order. Scale shape: the pool is Q·pool rows, the pair table is
    report-bounded, the anti-join is keyed (query_id, doc_id) — AQE
    broadcasts the smaller side; no corpus-sized work beyond the BM25
    serve itself."""
    from .text_analysis import cached_winnowing_pairs
    from .tfidf import bm25_serve_topk

    pool_df = bm25_serve_topk(spark, sf_dir, query_mod, pool).select(
        "query_id", "doc_id", "score_scaled"
    )
    pairs = cached_winnowing_pairs(spark, sf_dir).select("doc_a", "doc_b")
    excl = pairs.select(
        F.col("doc_a").alias("query_id"), F.col("doc_b").alias("doc_id")
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("query_id"), F.col("doc_a").alias("doc_id")
        )
    )
    surv = pool_df.join(excl, ["query_id", "doc_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_scaled").desc(), F.col("doc_id")
    )
    return (
        surv.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def bm25_hard_negatives_sql(
    query_mod: int = 100, k: int = HN_K, pool: int = HN_POOL
) -> str:
    """DuckDB twin (expects the dedup CORPUS_SQL prelude): the
    COST-ROUTED BM25 pool (bm25_serve_topk_sql — routes on the same
    Σ df·df_q statistic as the Spark serve), the winnowing pair
    index, a NOT EXISTS anti-join in both orientations, and the
    re-rank."""
    from .text_analysis import winnowing_pair_index_sql
    from .tfidf import bm25_serve_topk_sql

    return f"""(
    WITH hn_pool AS (
        SELECT query_id, doc_id, score_scaled
        FROM {bm25_serve_topk_sql(query_mod, pool)}
    ),
    hn_pairs AS (
        SELECT doc_a, doc_b FROM {winnowing_pair_index_sql("corpus")}
    ),
    hn_excl AS (
        SELECT doc_a AS query_id, doc_b AS doc_id FROM hn_pairs
        UNION ALL
        SELECT doc_b AS query_id, doc_a AS doc_id FROM hn_pairs
    ),
    hn_surv AS (
        SELECT p.query_id, p.doc_id, p.score_scaled FROM hn_pool p
        WHERE NOT EXISTS (
            SELECT 1 FROM hn_excl e
            WHERE e.query_id = p.query_id AND e.doc_id = p.doc_id
        )
    )
    SELECT query_id, doc_id, score_scaled, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY score_scaled DESC, doc_id) AS rank
        FROM hn_surv
    ) r
    WHERE rank <= {k}
) s"""
