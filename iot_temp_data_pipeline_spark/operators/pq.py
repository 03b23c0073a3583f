"""Product-quantization ANN over the embeddings table (beyond-reference
surface: the ANN family's memory-bound scale path).

PQ is the standard trick for ANN over corpora whose raw vectors don't
fit executor memory: split each D-dim vector into M subvectors, learn a
small per-subspace codebook (k-means on the subspace), and store each
vector as M one-byte codes — a 64-dim float vector becomes 8 bytes.
Search runs Asymmetric Distance Computation (ADC): the query keeps its
exact subvectors, each candidate contributes only codebook lookups, so
the scan touches codes, not vectors.

Determinism (the oracle story, same playbook as operators/clustering.py):

- vectors are integer-quantized (similarity.quantize);
- codebook seeds are a FIXED rule — the ``NCENT`` lowest vec_ids with
  ``vec_id % SEED_MOD == SEED_REM`` — not a random sample;
- one Lloyd refinement step runs with exact int64 squared-L2 distances
  (ties to the smallest code), and the refined centroid is the
  per-dimension ``floor(sum/count)`` — floor of ONE IEEE division of
  exact small ints, identical in any engine;
- encoding and ADC are then PURE int64 arithmetic end-to-end: there is
  no float anywhere in the scored path, so DuckDB reproduces every
  distance bit-for-bit.

Execution shape (the 100 TB plan):

- both codebooks are tiny (M·NCENT·SUBDIM ints ≈ 32 KB) — they are
  collected as a driver digest (the sanctioned k-row pattern) and
  shipped to every task, so encoding is a single map-side pass over
  the corpus: no shuffle, no join. The physical form is cost-based
  (pq_encode strategy): literal Catalyst expressions while M·NCENT is
  small, an Arrow-batched int64 kernel beyond that (the literal tree's
  fixed plan-processing cost dwarfs the data pass at NCENT=64 —
  measured ~25 s at ANY input size);
- the refinement pass emits per-batch partial sums (j, code, count,
  per-dim sums) — the mergeable-sketch shape — so the groupBy reduces
  ≤ M·NCENT rows per batch, never the corpus;
- ADC search keeps the query side bounded (same contract as
  knn_brute_force: queries fit in memory, the corpus streams). At
  scale adc_topm's distributive form ranks only #partitions·Q·(m+1)
  locally-selected candidates in the final exact window instead of
  shuffling all N·Q scored pairs. Per-pair work is M LUT gathers on
  8-byte codes — the point of PQ.

Cited parity anchor: reference has no ANN surface; extends SURVEY.md §2
extension block (similarity-search family: brute force / IVF / LSH /
PQ + recall checks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import local_table
from .similarity import QUANT_SQL, qcosine, sql_qcos

M = 8           # subspaces
SUBDIM = 8      # dims per subspace (M * SUBDIM == EMB_DIM == 64)
NCENT = 64      # centroids per subspace
SEED_MOD = 7    # deterministic seed rule: vec_id % SEED_MOD == SEED_REM
SEED_REM = 3
PQ_QUERY_MOD = 100
PQ_K = 5
PQ_RERANK_R = 50  # ADC shortlist size fed to the exact rerank stage

UNIT_SCALE = 1024  # re-quantization scale for unit-normalized vectors

Codebook = dict[int, list[tuple[int, list[int]]]]  # j -> [(code, cent)]


def _with_unit(q: DataFrame) -> DataFrame:
    """PQ ranks by subspace L2, ground truth is cosine — so vectors are
    unit-normalized first (L2 on unit vectors is monotone with cosine).
    The normalized coordinate is re-quantized from EXACT integers:
    ``round(qv·UNIT_SCALE / sqrt(qnorm2))`` is three IEEE ops in a fixed
    order on exact int64 inputs, so DuckDB reproduces it bit-for-bit."""
    uv = F.transform(
        F.col("qvec"),
        lambda v: F.round(
            v.cast("double") * UNIT_SCALE / F.sqrt(F.col("qnorm2").cast("double"))
        ).cast("long"),
    )
    return q.select("vec_id", "qvec", "qnorm2", uv.alias("uvec"))


def _subvec(qvec: Column, j: int) -> Column:
    return F.slice(qvec, j * SUBDIM + 1, SUBDIM)


def _l2(a: Column, b: Column) -> Column:
    """Exact int64 squared L2 between two integer vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _cb_entries(cb_j: list[tuple[int, list[int]]]) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(code).cast("int").alias("code"),
                F.array(*[F.lit(v).cast("long") for v in cent]).alias("cent"),
            )
            for code, cent in sorted(cb_j)
        ]
    )


def _argmin_code(sub: Column, cb_j: list[tuple[int, list[int]]]) -> Column:
    """code = argmin_c ‖sub − cent_c‖² over the literal codebook; a fold
    in ascending-code order with strict ``<`` keeps the smallest code on
    ties — same total order as the SQL twin's ORDER BY dist, code."""
    init = F.struct(
        F.lit(2**62).cast("long").alias("d"),
        F.lit(-1).cast("int").alias("code"),
    )
    best = F.aggregate(
        _cb_entries(cb_j),
        init,
        lambda acc, e: F.when(
            _l2(sub, e["cent"]) < acc["d"],
            F.struct(_l2(sub, e["cent"]).alias("d"), e["code"].alias("code")),
        ).otherwise(acc),
    )
    return best["code"]


def _cb_lookup(cb_j: list[tuple[int, list[int]]], code: Column) -> Column:
    """Literal map<code, cent> lookup — map-side, no join."""
    codes = F.array(*[F.lit(c).cast("int") for c, _ in sorted(cb_j)])
    cents = F.array(
        *[
            F.array(*[F.lit(v).cast("long") for v in cent])
            for _, cent in sorted(cb_j)
        ]
    )
    return F.element_at(F.map_from_arrays(codes, cents), code)


def _seed_codebook(q: DataFrame) -> Codebook:
    """NCENT deterministic seed vectors → per-subspace init codebook.
    Driver digest: ≤ NCENT rows collected, inlined as literals."""
    rows = (
        q.filter(F.col("vec_id") % SEED_MOD == SEED_REM)
        .orderBy("vec_id")
        .limit(NCENT)
        .select("uvec")
        .collect()
    )
    return {
        j: [
            (i, list(r["uvec"][j * SUBDIM : (j + 1) * SUBDIM]))
            for i, r in enumerate(rows)
        ]
        for j in range(M)
    }


def _cb_arrays(cb: Codebook):
    """codebook dict → per-subspace (codes K_j, centroid matrix K_j×SUBDIM)
    int64 arrays, ascending code order (argmin's first-min tie rule then
    equals the expression fold's smallest-code rule)."""
    import numpy as np

    out = []
    for j in range(M):
        entries = sorted(cb[j])
        out.append(
            (
                np.array([c for c, _ in entries], dtype=np.int64),
                np.array([cent for _, cent in entries], dtype=np.int64),
            )
        )
    return out


def _assign_codes_numpy(q: DataFrame, cb: Codebook) -> DataFrame:
    """(vec_id, c0..c{M-1}) via an Arrow-batched int64 kernel — the
    default once the codebook is big: a literal-expression argmin over
    M·NCENT struct literals builds a 100k-node Catalyst tree whose
    analysis/codegen time dwarfs the data pass (measured ~25 s fixed at
    ANY input size with NCENT=64), while this kernel is a plain
    B×K×SUBDIM integer distance matrix per batch. Still map-side only:
    no shuffle, no join; bit-identical to pq_encode(strategy="expr")
    (exact int64 distances, first-min == smallest code)."""
    bc = q.sparkSession.sparkContext.broadcast(_cb_arrays(cb))

    def enc(batches):
        import numpy as np  # noqa: PLC0415 — worker-side imports
        import pandas as pd  # noqa: PLC0415

        cents = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["uvec"]])
            out = {"vec_id": pdf["vec_id"].to_numpy(dtype=np.int64)}
            for j in range(M):
                sub = x[:, j * SUBDIM : (j + 1) * SUBDIM]
                codes, mat = cents[j]
                d = ((sub[:, None, :] - mat[None, :, :]) ** 2).sum(-1)
                out[f"c{j}"] = codes[np.argmin(d, axis=1)].astype(np.int32)
            yield pd.DataFrame(out)

    schema = "vec_id long, " + ", ".join(f"c{j} int" for j in range(M))
    return q.select("vec_id", "uvec").mapInPandas(enc, schema=schema)


def _refine(q: DataFrame, cb0: Codebook) -> Codebook:
    """One Lloyd step: assign every subvector to its nearest seed
    centroid and re-center as per-dim floor(sum/count). The assignment
    kernel emits PER-BATCH partial sums (j, code, count, per-dim sums)
    — the mergeable-sketch shape — so the groupBy reduces ≤ M·NCENT
    rows per batch, never the corpus."""
    bc = q.sparkSession.sparkContext.broadcast(_cb_arrays(cb0))

    def partial(batches):
        import numpy as np  # noqa: PLC0415 — worker-side imports
        import pandas as pd  # noqa: PLC0415

        cents = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["uvec"]])
            rows = []
            for j in range(M):
                sub = x[:, j * SUBDIM : (j + 1) * SUBDIM]
                codes, mat = cents[j]
                d = ((sub[:, None, :] - mat[None, :, :]) ** 2).sum(-1)
                a = np.argmin(d, axis=1)
                for k_idx in np.unique(a):
                    sel = sub[a == k_idx]
                    rows.append(
                        (j, int(codes[k_idx]), sel.shape[0])
                        + tuple(int(v) for v in sel.sum(axis=0))
                    )
            cols = ["j", "code", "c"] + [f"s{d}" for d in range(SUBDIM)]
            yield pd.DataFrame(rows, columns=cols)

    schema = "j int, code int, c long, " + ", ".join(
        f"s{d} long" for d in range(SUBDIM)
    )
    st = (
        q.select("vec_id", "uvec")
        .mapInPandas(partial, schema=schema)
        .groupBy("j", "code")
        .agg(
            F.sum("c").alias("c"),
            *[F.sum(f"s{d}").alias(f"s{d}") for d in range(SUBDIM)],
        )
    )
    cent = F.array(
        *[
            F.floor(F.col(f"s{d}").cast("double") / F.col("c")).cast("long")
            for d in range(SUBDIM)
        ]
    )
    rows = st.select("j", "code", cent.alias("cent")).collect()
    cb: Codebook = {j: [] for j in range(M)}
    for r in rows:
        cb[int(r["j"])].append((int(r["code"]), list(r["cent"])))
    return cb


def train_codebook(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, Codebook]:
    """(quantized corpus, refined codebook). Two driver digests total:
    the NCENT seed rows and the ≤ M·NCENT refined centroid rows.

    Cached per version of sf_dir: PQ training is the index-BUILD pass
    (FAISS ``train()``), run once per corpus, not per query — the same
    build-once/serve-many lifecycle as similarity.quantized_corpus /
    ivf_index. Deterministic seed + one deterministic Lloyd step, so a
    cold cache reproduces the warm cache bit-for-bit (the DuckDB oracle
    retrains from scratch every run and still matches)."""
    from ..sources.catalog import get_or_build
    from .similarity import quantized_corpus

    def build():
        corpus, _ = quantized_corpus(spark, sf_dir)
        q = _with_unit(corpus).localCheckpoint(eager=True)
        cb0 = _seed_codebook(q)
        return (q, _refine(q, cb0))

    return get_or_build(spark, "pq_codebook", sf_dir, build)


def pq_codes(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, Codebook]:
    """(encoded corpus codes, codebook) — the stored PQ index (FAISS
    ``add()``), session-cached like :func:`train_codebook`: the code
    table is WHAT A PQ INDEX IS; re-encoding the corpus per query would
    defeat the architecture. At 100 TB the codes are a written table
    (8 bytes/vector), here a localCheckpoint."""
    from ..sources.catalog import get_or_build

    def build():
        q, cb = train_codebook(spark, sf_dir)
        return (pq_encode(q, cb).localCheckpoint(eager=True), cb)

    return get_or_build(spark, "pq_codes", sf_dir, build)


def pq_encode(q: DataFrame, cb: Codebook, strategy: str = "auto") -> DataFrame:
    """(vec_id, c0..c{M-1}): map-side only — the corpus is never
    shuffled. "expr" inlines the codebook as literal expressions (pure
    JVM, right while M·NCENT is small); "auto" switches to the
    Arrow-batched kernel for big codebooks, where the literal tree's
    fixed Catalyst cost dominates (see _assign_codes_numpy)."""
    if strategy == "auto":
        strategy = "expr" if M * NCENT <= 64 else "numpy"
    if strategy == "numpy":
        return _assign_codes_numpy(q, cb)
    return q.select(
        "vec_id",
        *[
            _argmin_code(_subvec(F.col("uvec"), j), cb[j]).alias(f"c{j}")
            for j in range(M)
        ],
    )


PQ_GEMM_MIN_PAIRS = 2_000_000  # same cost-model style as knn_brute_force


def _adc_expr(cb: Codebook) -> Column:
    adc = F.lit(0).cast("long")
    for j in range(M):
        adc = adc + _l2(
            _subvec(F.col("q_uvec"), j), _cb_lookup(cb[j], F.col(f"c{j}"))
        )
    return adc


def adc_topm(
    enc: DataFrame,
    cb: Codebook,
    queries: DataFrame,
    m: int,
    n_pairs: int,
    strategy: str = "auto",
) -> DataFrame:
    """Top-``m`` candidates per query by exact int64 ADC distance
    (ties to the smaller neighbor_id), over the code table only.

    ``strategy`` picks the physical form (bit-identical results):
    "catalyst" (broadcast crossJoin + window — fine while N·Q is
    small), "numpy" (per-partition LUT gather + distributive partial
    top-m: each Arrow batch emits only its local top-(m+1) per query,
    so the final exact window ranks #partitions·Q·(m+1) rows instead
    of shuffling all N·Q scored pairs — the shape that keeps the ADC
    scan linear at 100 TB), or "auto" (cost-based on N·Q, the same
    plan-time statistic style as knn_brute_force). Selection under the
    strict total order (adc_dist, neighbor_id) makes the partial top-m
    lossless."""
    if strategy == "auto":
        # numpy wins on EITHER axis of the cost model: many pairs (the
        # window would shuffle N·Q rows) or a big codebook (the literal
        # lookup maps alone push the Catalyst tree past ~100k nodes —
        # fixed plan-processing cost dwarfing the data pass).
        big_cb = M * NCENT > 64
        strategy = (
            "numpy"
            if n_pairs >= PQ_GEMM_MIN_PAIRS or big_cb
            else "catalyst"
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    if strategy == "catalyst":
        pairs = (
            enc.crossJoin(F.broadcast(queries.select("query_id", "q_uvec")))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                _adc_expr(cb).alias("adc_dist"),
            )
        )
        return (
            pairs.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= m)
        )

    import numpy as np

    q_rows = queries.select("query_id", "q_uvec").collect()
    if not q_rows:
        # Empty query set: return the Catalyst path's clean empty result
        # instead of building a zero-row LUT (same guard as
        # sq8.knn_sq8_matmul / similarity.knn_brute_force_matmul).
        return local_table(
            enc.sparkSession,
            [],
            schema="query_id long, neighbor_id long, adc_dist long,"
            " rank long",
        )
    qids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    lut = np.full((len(q_rows), M, NCENT), 2**62, dtype=np.int64)
    for qi, row in enumerate(q_rows):
        uv = np.asarray(row["q_uvec"], dtype=np.int64)
        for j in range(M):
            sub = uv[j * SUBDIM : (j + 1) * SUBDIM]
            for code, cent in cb[j]:
                diff = sub - np.asarray(cent, dtype=np.int64)
                lut[qi, j, code] = int((diff * diff).sum())
    bc = enc.sparkSession.sparkContext.broadcast((qids, lut))

    def partial_topm(batches):
        import numpy as np  # noqa: PLC0415 — worker-side imports
        import pandas as pd  # noqa: PLC0415

        qids, lut = bc.value
        jdx = np.arange(M)[None, :]
        mm = m + 1  # self-match removed post-selection
        for pdf in batches:
            if pdf.empty:
                continue
            codes = pdf[[f"c{j}" for j in range(M)]].to_numpy(dtype=np.int64)
            vec_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out = {"query_id": [], "neighbor_id": [], "adc_dist": []}
            for qi in range(qids.shape[0]):
                d = lut[qi, jdx, codes].sum(axis=1)
                order = np.lexsort((vec_ids, d))[:mm]
                keep = order[vec_ids[order] != qids[qi]][:m]
                out["query_id"].extend([int(qids[qi])] * keep.shape[0])
                out["neighbor_id"].extend(vec_ids[keep].tolist())
                out["adc_dist"].extend(d[keep].tolist())
            yield pd.DataFrame(out)

    cand = enc.mapInPandas(
        partial_topm, schema="query_id long, neighbor_id long, adc_dist long"
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= m)
    )


def knn_pq(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = PQ_QUERY_MOD,
    k: int = PQ_K,
    strategy: str = "auto",
) -> DataFrame:
    """ADC top-k: queries keep exact subvectors, candidates contribute
    codebook lookups only. adc_dist is EXACT int64 (no float in the
    scored path); rank ties break on neighbor_id. Physical form via
    :func:`adc_topm` (cost-based catalyst / distributive-numpy)."""
    q, _ = train_codebook(spark, sf_dir)
    enc, cb = pq_codes(spark, sf_dir)
    from .similarity import quantized_corpus

    n = quantized_corpus(spark, sf_dir)[1]
    queries = q.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("uvec").alias("q_uvec")
    )
    return adc_topm(enc, cb, queries, k, n * (n // query_mod), strategy)


def knn_pq_rerank(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = PQ_QUERY_MOD,
    k: int = PQ_K,
    r: int = PQ_RERANK_R,
    strategy: str = "auto",
) -> DataFrame:
    """The production PQ architecture (IVFADC-with-rerank shape): the
    ADC scan produces a top-``r`` shortlist per query from codes alone
    (:func:`adc_topm` — distributive partial top-m at scale), then ONLY
    the shortlisted raw vectors are fetched and re-scored with the
    exact quantized cosine. The expensive full-vector read is bounded
    at Q·r rows regardless of corpus size; the shortlist boundary is
    deterministic (adc_dist, neighbor_id total order) and the rerank
    cosine is the same exact-int single-division form as
    knn_brute_force, so the whole pipeline stays bit-reproducible."""
    q, _ = train_codebook(spark, sf_dir)
    enc, cb = pq_codes(spark, sf_dir)
    from .similarity import quantized_corpus

    n = quantized_corpus(spark, sf_dir)[1]
    queries = q.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("uvec").alias("q_uvec"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm2").alias("q_qnorm2"),
    )
    shortlist = adc_topm(
        enc, cb, queries, r, n * (n // query_mod), strategy
    ).select("query_id", "neighbor_id")
    return _exact_rerank(q, shortlist, query_mod, k)


IVFPQ_N_PROBE = 3


def _ivf_queries_probes(
    q: DataFrame, cent: DataFrame, query_mod: int, n_probe: int
) -> tuple[DataFrame, DataFrame]:
    """(queries, probes): the IVF probe selection shared VERBATIM by
    both IVFADC variants (review r11 — the (p_cos DESC, cell_id)
    total order is oracle-pinned; one definition site keeps the two
    serves bit-identical on it). queries carries the raw/unit columns
    both consumers need; probes is (query_id, q_cell), top ``n_probe``
    cells per query by exact-int cosine."""
    queries = q.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm2").alias("q_qnorm2"),
        F.col("uvec").alias("q_uvec"),
    )
    probe_scored = queries.crossJoin(F.broadcast(cent)).select(
        "query_id",
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
        .select("query_id", F.col("cell_id").alias("q_cell"))
    )
    return queries, probes


def _exact_rerank(
    q: DataFrame, shortlist: DataFrame, query_mod: int, k: int
) -> DataFrame:
    """Exact quantized-cosine rerank of a (query_id, neighbor_id)
    shortlist — the refine stage shared by knn_pq_rerank and
    knn_ivfpq_residual_rerank (review r11: the cosine form and the
    (cosine DESC, neighbor_id) total order are oracle-pinned; one
    definition site). The full-vector read is bounded at the
    shortlist size regardless of corpus size."""
    queries = q.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm2").alias("q_qnorm2"),
    )
    nb = q.select(F.col("vec_id").alias("neighbor_id"), "qvec", "qnorm2")
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


def knn_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = PQ_QUERY_MOD,
    k: int = PQ_K,
    n_probe: int = IVFPQ_N_PROBE,
    centroid_mod: int | None = None,
) -> DataFrame:
    """Composed IVF-PQ search — the FAISS "IVFADC" production index
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011, §IV): a coarse quantizer routes each vector to one
    inverted list (the IVF cell assignment, exact-int cosine, same
    machinery as knn_ivf), vectors are stored as M one-byte PQ codes,
    and a query ADC-scans ONLY its ``n_probe`` nearest cells' codes.
    Cost per query: n_probe/C of the corpus touched, 8 bytes per
    candidate — the two savings (selective scan + compressed scan)
    compose multiplicatively, which is why this is the architecture
    disk-resident ANN actually ships.

    Deviation from the paper, documented: codes quantize the RAW unit
    vector, not the residual (vector − cell centroid); residual
    encoding couples the codebook to the coarse quantizer and buys
    accuracy, but the deterministic-seed codebook story (the oracle
    contract) stays engine-reproducible either way. The recall dial is
    still (n_probe, NCENT).

    Scale shape: cell assignment is the cost-based map-side pass
    (Arrow matmul kernel above MATMUL_ASSIGN_MIN_N); codes+cells is a
    vec_id equi-join of two map-side outputs; probes are Q·n_probe rows
    broadcast into the code scan; ADC is the literal-LUT Catalyst
    expression over the probed subset (at 100 TB the inverted lists are
    written `partitionBy(cell_id)` so the probe join becomes partition
    pruning, and the per-cell scan reuses adc_topm's distributive
    Arrow-LUT kernel). All-int64 distances — the oracle re-trains the
    codebook and re-derives the cells in SQL and matches bit-for-bit."""
    from .similarity import (
        MATMUL_ASSIGN_MIN_N,
        adaptive_centroid_mod,
        ivf_index,
        quantized_corpus,
    )

    emb, n = quantized_corpus(spark, sf_dir)
    if centroid_mod is None:
        centroid_mod = adaptive_centroid_mod(n)
    assign = "matmul" if n >= MATMUL_ASSIGN_MIN_N else "hof"
    assigned, cent = ivf_index(spark, sf_dir, centroid_mod, assign)

    q, _ = train_codebook(spark, sf_dir)
    codes, cb = pq_codes(spark, sf_dir)
    enc = codes.join(assigned.select("vec_id", "cell_id"), "vec_id")

    queries, probes = _ivf_queries_probes(q, cent, query_mod, n_probe)
    cand = enc.join(
        F.broadcast(probes), F.col("cell_id") == F.col("q_cell")
    ).filter(F.col("vec_id") != F.col("query_id"))

    # ADC scoring via the Arrow LUT kernel, not the literal Catalyst
    # expression: at M·NCENT = 512 the inlined lookup tree's FIXED
    # plan-processing cost dominates any input size (measured ~14 s at
    # sf0.1 — the same pathology adc_topm's cost model documents). The
    # kernel precomputes each query's M×NCENT distance table once on
    # the driver (Q·M·NCENT ints, query-side-bounded) and scores each
    # probed candidate with M int64 gathers.
    import numpy as np

    q_rows = queries.select("query_id", "q_uvec").collect()
    if not q_rows:
        # Empty query set: probes (and thus cand) would be empty anyway;
        # return the clean empty frame without planning the LUT kernel.
        return local_table(
            spark,
            [],
            schema="query_id long, neighbor_id long, adc_dist long,"
            " rank long",
        )
    qidx = {int(r["query_id"]): i for i, r in enumerate(q_rows)}
    lut = np.full((len(q_rows), M, NCENT), 2**62, dtype=np.int64)
    for qi, row in enumerate(q_rows):
        uv = np.asarray(row["q_uvec"], dtype=np.int64)
        for j in range(M):
            sub = uv[j * SUBDIM : (j + 1) * SUBDIM]
            for code, centv in cb[j]:
                diff = sub - np.asarray(centv, dtype=np.int64)
                lut[qi, j, code] = int((diff * diff).sum())
    bc = spark.sparkContext.broadcast((qidx, lut))

    def score(batches):
        import numpy as np  # noqa: PLC0415 — worker-side imports
        import pandas as pd  # noqa: PLC0415

        qidx, lut = bc.value
        jdx = np.arange(M)[None, :]
        for pdf in batches:
            if pdf.empty:
                continue
            codes = pdf[[f"c{j}" for j in range(M)]].to_numpy(dtype=np.int64)
            qi = pdf["query_id"].map(qidx).to_numpy(dtype=np.int64)
            d = lut[qi[:, None], jdx, codes].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "neighbor_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "adc_dist": d,
                }
            )

    scored = cand.select(
        "query_id", "vec_id", *[f"c{j}" for j in range(M)]
    ).mapInPandas(score, schema="query_id long, neighbor_id long, adc_dist long")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# Residual IVF-PQ (VERDICT r10 #6) --------------------------------------


def _unit_centroids(cent: DataFrame) -> DataFrame:
    """(cell_id, ucvec): the coarse centroids re-quantized onto the
    UNIT_SCALE grid by DELEGATING to :func:`_with_unit` (review r11:
    the rounding rule is parity-critical and already lives in
    _with_unit + the two SQL twins — a third Python copy here would
    silently desynchronize the residual grid if the rule ever
    changed), so residuals are int64 subtractions on the SAME grid as
    the vectors."""
    return _with_unit(
        cent.select(
            F.col("cell_id").alias("vec_id"),
            F.col("c_qvec").alias("qvec"),
            F.col("c_qnorm2").alias("qnorm2"),
        )
    ).select(
        F.col("vec_id").alias("cell_id"), F.col("uvec").alias("ucvec")
    )


def residual_pq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, Codebook, DataFrame, DataFrame, DataFrame]:
    """Session-cached RESIDUAL IVF-PQ index build — the actual FAISS
    IVFADC (Jégou et al. 2011 §IV.B): codes quantize the residual
    ``uvec − ucent(cell)`` instead of the raw unit vector, coupling the
    codebook to the coarse quantizer. Residuals concentrate near the
    origin (the coarse step removed the cell mean), so the same
    M·NCENT codebook budget spends its codes on a tighter distribution
    — the accuracy the paper buys with this coupling.

    Returns (codes+cells, codebook, centroid table, unit centroids,
    unit corpus). Build shape: cell assignment and unit-normalize are
    the cached map-side passes (ivf_index / train_codebook); residuals
    are one broadcast join against the ~√N centroid table + a zip_with
    — no new corpus exchange; seeding/refinement/encoding reuse the
    raw-PQ machinery verbatim on the residual frame (same seed rule,
    same Lloyd step, same int64 kernels), so determinism and the
    oracle contract carry over unchanged.

    MEASURED FIXTURE FINDING (r11): the accuracy benefit REQUIRES the
    corpus to cluster around its cell centers. The synthetic
    embeddings fixture is isotropic — vectors are near-orthogonal, so
    the mod-selected coarse centroid is far from its members and
    residual norm² measures ≈1.53× raw norm² (400-row sample, sf0.01);
    the same codebook budget then covers a WIDER distribution and
    recall@5 reads 150 vs the flat serve's 180 permille at sf0.1
    (ivfpq_residual_recall exposes both). The implementation delivers
    the coupling's benefit where its premise holds — pinned by
    tests/test_r11_ops.py::test_residual_coupling_wins_on_clustered_data
    (clustered synth → residual quantization error strictly below
    raw); the isotropy of the fixture itself is pinned by
    test_residual_fixture_isotropy_finding so a future fixture change
    re-opens the recall question."""
    from ..sources.catalog import get_or_build
    from .similarity import (
        MATMUL_ASSIGN_MIN_N,
        adaptive_centroid_mod,
        ivf_index,
        quantized_corpus,
    )

    def build():
        _, n = quantized_corpus(spark, sf_dir)
        centroid_mod = adaptive_centroid_mod(n)
        assign = "matmul" if n >= MATMUL_ASSIGN_MIN_N else "hof"
        assigned, cent = ivf_index(spark, sf_dir, centroid_mod, assign)
        q, _ = train_codebook(spark, sf_dir)
        ucent = _unit_centroids(cent).localCheckpoint(eager=True)
        res = (
            q.select("vec_id", "uvec")
            .join(assigned.select("vec_id", "cell_id"), "vec_id")
            .join(F.broadcast(ucent), "cell_id")
            .select(
                "vec_id",
                "cell_id",
                F.zip_with(
                    "uvec", "ucvec", lambda a, b: a - b
                ).alias("uvec"),
            )
            .localCheckpoint(eager=True)
        )
        cb = _refine(res, _seed_codebook(res))
        enc = (
            pq_encode(res, cb)
            .join(res.select("vec_id", "cell_id"), "vec_id")
            .localCheckpoint(eager=True)
        )
        return (enc, cb, cent, ucent, q)

    return get_or_build(spark, "ivfpq_residual", sf_dir, build)


def knn_ivfpq_residual(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = PQ_QUERY_MOD,
    k: int = PQ_K,
    n_probe: int = IVFPQ_N_PROBE,
) -> DataFrame:
    """Residual-encoded IVF-PQ search: probe selection is identical to
    :func:`knn_ivfpq` (exact-int cosine to the coarse centroids, top
    ``n_probe``); ADC then scores each probed candidate against the
    QUERY'S RESIDUAL IN THAT CELL — the LUT is per (query, probed
    cell), Q·n_probe·M·NCENT ints, still query-side-bounded (the
    brute-force broadcast contract; the per-cell centroid rows are
    collected via the probes join, Q·n_probe rows, never the ~√N
    centroid table). Candidate-side work is unchanged: M int64 LUT
    gathers per 8-byte code row. Output schema and plan shape match
    knn_ivfpq exactly (broadcast probe join into the code scan → Arrow
    LUT kernel → per-query top-k window); only the LUT contents — and
    therefore the accuracy — differ."""
    enc, cb, cent, ucent, q = residual_pq_index(spark, sf_dir)

    queries, probes = _ivf_queries_probes(q, cent, query_mod, n_probe)

    import numpy as np

    q_rows = queries.select("query_id", "q_uvec").collect()
    if not q_rows:
        return local_table(
            spark,
            [],
            schema="query_id long, neighbor_id long, adc_dist long,"
            " rank long",
        )
    quv = {int(r["query_id"]): np.asarray(r["q_uvec"], dtype=np.int64) for r in q_rows}
    # per-(query, probed cell) residual LUTs: Q·n_probe rows collected
    pc_rows = (
        probes.join(ucent, probes["q_cell"] == ucent["cell_id"])
        .select("query_id", "q_cell", "ucvec")
        .collect()
    )
    # The candidate join's probe side is REBUILT from the collected
    # rows (review r11): one evaluation of the probe-selection plan
    # instead of two, and the LUT kernel's (query_id, cell_id) lookup
    # is then keyed by the SAME materialized probe set by
    # construction, not by deterministic re-execution.
    probes = local_table(
        spark,
        [(int(r["query_id"]), int(r["q_cell"])) for r in pc_rows],
        "query_id long, q_cell long",
    )
    cand = enc.join(
        F.broadcast(probes), F.col("cell_id") == F.col("q_cell")
    ).filter(F.col("vec_id") != F.col("query_id"))
    pcidx: dict[tuple[int, int], int] = {}
    luts = np.full((len(pc_rows), M, NCENT), 2**62, dtype=np.int64)
    cents = _cb_arrays(cb)
    for i, row in enumerate(pc_rows):
        qid, cid = int(row["query_id"]), int(row["q_cell"])
        pcidx[(qid, cid)] = i
        qres = quv[qid] - np.asarray(row["ucvec"], dtype=np.int64)
        for j in range(M):
            sub = qres[j * SUBDIM : (j + 1) * SUBDIM]
            codes, mat = cents[j]
            luts[i, j, codes] = ((sub[None, :] - mat) ** 2).sum(-1)
    bc = spark.sparkContext.broadcast((pcidx, luts))

    def score(batches):
        import numpy as np  # noqa: PLC0415 — worker-side imports
        import pandas as pd  # noqa: PLC0415

        pcidx, luts = bc.value
        jdx = np.arange(M)[None, :]
        for pdf in batches:
            if pdf.empty:
                continue
            codes = pdf[[f"c{j}" for j in range(M)]].to_numpy(dtype=np.int64)
            li = np.fromiter(
                (
                    pcidx[(int(a), int(b))]
                    for a, b in zip(pdf["query_id"], pdf["cell_id"])
                ),
                dtype=np.int64,
                count=len(pdf),
            )
            d = luts[li[:, None], jdx, codes].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "neighbor_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "adc_dist": d,
                }
            )

    scored = cand.select(
        "query_id", "cell_id", "vec_id", *[f"c{j}" for j in range(M)]
    ).mapInPandas(score, schema="query_id long, neighbor_id long, adc_dist long")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# SQL twins ------------------------------------------------------------
#
# The oracle recomputes the ENTIRE pipeline — seeds, refinement, encode,
# ADC — from the parquet, independently of the collected digests; both
# sides are exact-integer so every adc_dist matches bit-for-bit.

def _sql_sub_l2(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {SUBDIM}),"
        f" d -> ({a}[d] - {b}[d]) * ({a}[d] - {b}[d])))"
    )


def pq_cte_sql(query_mod: int = PQ_QUERY_MOD) -> str:
    """CTE chain (expects the similarity QUANT_SQL prelude in scope):
    subs → seeds → cb0 → assign0 → refined → encode → pqueries → pairs."""
    floor_cents = ", ".join(
        f"CAST(FLOOR(CAST(SUM(sub[{d + 1}]) AS DOUBLE) / COUNT(*)) AS BIGINT)"
        for d in range(SUBDIM)
    )
    return f"""
unormed AS (
    SELECT vec_id,
        list_transform(qvec, v -> CAST(ROUND(
            CAST(v AS DOUBLE) * {UNIT_SCALE} / sqrt(CAST(qnorm2 AS DOUBLE))
        ) AS BIGINT)) AS uvec
    FROM qnormed
),
subs AS (
    SELECT vec_id, j, list_slice(uvec, j * {SUBDIM} + 1, j * {SUBDIM} + {SUBDIM}) AS sub
    FROM unormed, (SELECT unnest(generate_series(0, {M - 1})) AS j) js
),
seeds AS (
    SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
    FROM unormed WHERE vec_id % {SEED_MOD} = {SEED_REM}
    ORDER BY vec_id LIMIT {NCENT}
),
cb0 AS (
    SELECT s.j, se.code, s.sub AS cent
    FROM subs s JOIN seeds se USING (vec_id)
),
assign0 AS (
    SELECT s.vec_id, s.j, s.sub, c.code,
           {_sql_sub_l2("s.sub", "c.cent")} AS dist
    FROM subs s JOIN cb0 c ON s.j = c.j
    QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                               ORDER BY dist, c.code) = 1
),
refined AS (
    SELECT j, code, [{floor_cents}] AS cent
    FROM assign0 GROUP BY j, code
),
encode AS (
    SELECT s.vec_id, s.j, r.code,
           {_sql_sub_l2("s.sub", "r.cent")} AS dist
    FROM subs s JOIN refined r ON s.j = r.j
    QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                               ORDER BY dist, r.code) = 1
),
pqueries AS (
    SELECT vec_id AS query_id, j, sub FROM subs WHERE vec_id % {query_mod} = 0
),
pq_pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           SUM({_sql_sub_l2("q.sub", "r.cent")}) AS adc_dist
    FROM pqueries q
    JOIN encode e ON e.j = q.j AND e.vec_id <> q.query_id
    JOIN refined r ON r.j = e.j AND r.code = e.code
    GROUP BY q.query_id, e.vec_id
)"""


def knn_pq_sql(k: int = PQ_K) -> str:
    """Final subselect over the pq_cte_sql chain."""
    return f"""(
    SELECT query_id, neighbor_id, adc_dist, rank
    FROM (
        SELECT query_id, neighbor_id, adc_dist, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
        FROM pq_pairs
    ) r
    WHERE rank <= {k}
) s"""


def knn_pq_rerank_sql(k: int = PQ_K, r: int = PQ_RERANK_R) -> str:
    """Shortlist-then-exact-rerank over the pq_cte_sql chain (also
    needs the QUANT_SQL prelude's qnormed in scope)."""
    cos = sql_qcos("a.qvec", "b.qvec", "a.qnorm2", "b.qnorm2")
    return f"""(
    SELECT query_id, neighbor_id, cosine, rank
    FROM (
        SELECT s.query_id, s.neighbor_id, {cos} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                                  ORDER BY {cos} DESC, s.neighbor_id) AS rank
        FROM (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY adc_dist, neighbor_id) AS srank
                FROM pq_pairs
            ) t WHERE srank <= {r}
        ) s
        JOIN qnormed a ON a.vec_id = s.query_id
        JOIN qnormed b ON b.vec_id = s.neighbor_id
    ) ranked
    WHERE rank <= {k}
) s"""


def ivfpq_cte_sql(
    query_mod: int = PQ_QUERY_MOD, n_probe: int = IVFPQ_N_PROBE
) -> str:
    """IVF coarse-quantizer CTEs for the composed index (expects the
    QUANT_SQL prelude and the pq_cte_sql chain in scope): the same
    deterministic centroid rule, exact-int cosine assignment, and
    multi-probe selection as knn_ivf_sql, re-expressed as named CTEs so
    the ADC join can filter to probed cells."""
    from .similarity import ADAPTIVE_MOD_SQL, sql_qcos

    assign_cos = sql_qcos("b.qvec", "a.qvec", "b.qnorm2", "a.qnorm2")
    probe_cos = sql_qcos("q.qvec", "a.qvec", "q.qnorm2", "a.qnorm2")
    return f"""
ivf_centroids AS (
    SELECT vec_id AS cell_id, qvec, qnorm2 FROM qnormed
    WHERE vec_id % {ADAPTIVE_MOD_SQL} = 0
),
ivf_assigned AS (
    SELECT vec_id, cell_id FROM (
        SELECT b.vec_id, a.cell_id, ROW_NUMBER() OVER (
            PARTITION BY b.vec_id ORDER BY {assign_cos} DESC, a.cell_id) AS rn
        FROM qnormed b CROSS JOIN ivf_centroids a
    ) t WHERE rn = 1
),
ivfpq_probes AS (
    SELECT query_id, cell_id AS q_cell FROM (
        SELECT q.vec_id AS query_id, a.cell_id, ROW_NUMBER() OVER (
            PARTITION BY q.vec_id ORDER BY {probe_cos} DESC, a.cell_id) AS prn
        FROM qnormed q CROSS JOIN ivf_centroids a
        WHERE q.vec_id % {query_mod} = 0
    ) p WHERE prn <= {n_probe}
),
ivfpq_pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           SUM({_sql_sub_l2("q.sub", "r.cent")}) AS adc_dist
    FROM pqueries q
    JOIN ivfpq_probes pr ON pr.query_id = q.query_id
    JOIN ivf_assigned a ON a.cell_id = pr.q_cell AND a.vec_id <> q.query_id
    JOIN encode e ON e.vec_id = a.vec_id AND e.j = q.j
    JOIN refined r ON r.j = e.j AND r.code = e.code
    GROUP BY q.query_id, e.vec_id
)"""


def knn_ivfpq_sql(k: int = PQ_K) -> str:
    """Final subselect over pq_cte_sql + ivfpq_cte_sql."""
    return f"""(
    SELECT query_id, neighbor_id, adc_dist, rank
    FROM (
        SELECT query_id, neighbor_id, adc_dist, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
        FROM ivfpq_pairs
    ) r
    WHERE rank <= {k}
) s"""


def residual_cte_sql() -> str:
    """Residual-IVFADC CTEs (expects QUANT_SQL + pq_cte_sql +
    ivfpq_cte_sql in scope — reuses ``unormed``/``seeds``/
    ``ivf_centroids``/``ivf_assigned``/``ivfpq_probes``): the residual
    chain mirrors the raw chain stage for stage — residuals vs the
    unit-requantized cell centroid, SAME seed vec_ids (the rule selects
    by id, not value), one Lloyd step on residual subvectors, encode,
    per-(query, probed cell) query residuals, ADC. All int64."""
    dim = M * SUBDIM
    floor_cents = ", ".join(
        f"CAST(FLOOR(CAST(SUM(sub[{d + 1}]) AS DOUBLE) / COUNT(*)) AS BIGINT)"
        for d in range(SUBDIM)
    )
    res_list = (
        f"list_transform(generate_series(1, {dim}),"
        " i -> u.uvec[i] - c.ucvec[i])"
    )
    return f"""
r_ucent AS (
    SELECT cell_id,
        list_transform(qvec, v -> CAST(ROUND(
            CAST(v AS DOUBLE) * {UNIT_SCALE} / sqrt(CAST(qnorm2 AS DOUBLE))
        ) AS BIGINT)) AS ucvec
    FROM ivf_centroids
),
r_res AS (
    SELECT u.vec_id, a.cell_id, {res_list} AS uvec
    FROM unormed u
    JOIN ivf_assigned a ON a.vec_id = u.vec_id
    JOIN r_ucent c ON c.cell_id = a.cell_id
),
r_subs AS (
    SELECT vec_id, cell_id, j,
        list_slice(uvec, j * {SUBDIM} + 1, j * {SUBDIM} + {SUBDIM}) AS sub
    FROM r_res, (SELECT unnest(generate_series(0, {M - 1})) AS j) js
),
r_cb0 AS (
    SELECT s.j, se.code, s.sub AS cent
    FROM r_subs s JOIN seeds se USING (vec_id)
),
r_assign0 AS (
    SELECT s.vec_id, s.j, s.sub, c.code,
           {_sql_sub_l2("s.sub", "c.cent")} AS dist
    FROM r_subs s JOIN r_cb0 c ON s.j = c.j
    QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                               ORDER BY dist, c.code) = 1
),
r_refined AS (
    SELECT j, code, [{floor_cents}] AS cent
    FROM r_assign0 GROUP BY j, code
),
r_encode AS (
    SELECT s.vec_id, s.cell_id, s.j, r.code,
           {_sql_sub_l2("s.sub", "r.cent")} AS dist
    FROM r_subs s JOIN r_refined r ON s.j = r.j
    QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                               ORDER BY dist, r.code) = 1
),
r_qres AS (
    SELECT p.query_id, p.q_cell, {res_list} AS uvec
    FROM ivfpq_probes p
    JOIN unormed u ON u.vec_id = p.query_id
    JOIN r_ucent c ON c.cell_id = p.q_cell
),
r_qsubs AS (
    SELECT query_id, q_cell, j,
        list_slice(uvec, j * {SUBDIM} + 1, j * {SUBDIM} + {SUBDIM}) AS sub
    FROM r_qres, (SELECT unnest(generate_series(0, {M - 1})) AS j) js
),
r_pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           SUM({_sql_sub_l2("q.sub", "r.cent")}) AS adc_dist
    FROM r_qsubs q
    JOIN r_encode e ON e.cell_id = q.q_cell AND e.j = q.j
        AND e.vec_id <> q.query_id
    JOIN r_refined r ON r.j = e.j AND r.code = e.code
    GROUP BY q.query_id, e.vec_id
)"""


def knn_ivfpq_residual_sql(k: int = PQ_K) -> str:
    """Final subselect over pq_cte_sql + ivfpq_cte_sql +
    residual_cte_sql."""
    return f"""(
    SELECT query_id, neighbor_id, adc_dist, rank
    FROM (
        SELECT query_id, neighbor_id, adc_dist, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
        FROM r_pairs
    ) r
    WHERE rank <= {k}
) s"""


def knn_ivfpq_residual_rerank(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = PQ_QUERY_MOD,
    k: int = PQ_K,
    r: int = PQ_RERANK_R,
    n_probe: int = IVFPQ_N_PROBE,
) -> DataFrame:
    """The FULL production IVFADC-with-refine architecture (FAISS
    IndexIVFPQ + refine): coarse cells route the scan, residual codes
    compress it, the residual ADC produces a top-``r`` shortlist per
    query, and ONLY the shortlisted raw vectors are fetched and
    re-scored with the exact quantized cosine — the knn_pq_rerank
    composition with the IVF-routed residual shortlist. The
    full-vector read is bounded at Q·r rows regardless of corpus
    size; every boundary (probe set, shortlist, rerank) is a
    deterministic total order, so the pipeline stays
    bit-reproducible. NOTE the rerank stage also erases the
    shortlist's quantization ranking — which is exactly why the
    refine stage is how production deployments neutralize the
    isotropy sensitivity measured on the plain residual serve (see
    residual_pq_index)."""
    q, _ = train_codebook(spark, sf_dir)
    shortlist = knn_ivfpq_residual(
        spark, sf_dir, query_mod, r, n_probe
    ).select("query_id", "neighbor_id")
    return _exact_rerank(q, shortlist, query_mod, k)


def knn_ivfpq_residual_rerank_sql(k: int = PQ_K, r: int = PQ_RERANK_R) -> str:
    """Shortlist-then-exact-rerank over the residual chain (also needs
    the QUANT_SQL prelude's qnormed in scope) — knn_pq_rerank_sql with
    r_pairs as the shortlist source."""
    cos = sql_qcos("a.qvec", "b.qvec", "a.qnorm2", "b.qnorm2")
    return f"""(
    SELECT query_id, neighbor_id, cosine, rank
    FROM (
        SELECT s.query_id, s.neighbor_id, {cos} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                                  ORDER BY {cos} DESC, s.neighbor_id) AS rank
        FROM (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY adc_dist, neighbor_id) AS srank
                FROM r_pairs
            ) t WHERE srank <= {r}
        ) s
        JOIN qnormed a ON a.vec_id = s.query_id
        JOIN qnormed b ON b.vec_id = s.neighbor_id
    ) ranked
    WHERE rank <= {k}
) s"""


PQ_PRELUDE_SQL = "WITH " + QUANT_SQL.strip() + ",\n" + pq_cte_sql().strip()
