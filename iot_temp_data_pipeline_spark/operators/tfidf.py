"""TF-IDF inverted-index retrieval (beyond-reference surface).

Sparse text similarity the way a search engine does it: postings =
(doc, term, tf) from word 3-gram shingles, IDF-weighted, queries scored
against ONLY the docs that share a term — the inverted-index join. The
complement of the dense-vector paths in operators/similarity.py:
embeddings need ANN structures (IVF/LSH); text gets sparsity for free
because most doc pairs share no term.

Scale shape (the 100 TB stance):
- The postings join does work Σ_term df_q(term)·df(term), NOT O(Q·N).
  The document-frequency cap (reusing dedup.MAX_SHINGLE_DF, same
  rationale) bounds any single term's contribution, keeping total work
  ~linear in corpus size; dropped ultra-common shingles carry ~zero IDF
  weight anyway, so the recall cost of the cap is smallest exactly where
  it saves the most.
- At scale the postings table is written bucketed by term, so the
  query-side join co-locates without a corpus shuffle; the query side
  (1% of docs here) broadcasts.

Exactness: IDF is integer-quantized — w(term) = (IDF_SCALE // df)², all
dot products and norms are exact integer sums, and the final cosine is
int / sqrt(int) / sqrt(int) in correctly-rounded IEEE double — the same
determinism recipe as the quantized-cosine ANN operators, so the DuckDB
oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import shingles_of_tokens, tokens
from ..maintenance import materialize_bucketed
from ..sources.catalog import get_or_build, load_table
from .dedup import CORPUS_SQL, MAX_SHINGLE_DF, dedup_corpus

IDF_SCALE = 1000



# Above this corpus size the query-side postings (~corpus/query_mod
# rows x ~shingles/doc) outgrow a sane broadcast — drop the hint and
# let AQE pick (shuffle join on term, the partitioning the index
# already has). The 100x probe (500 K docs) GC-thrashed the hinted
# form; the threshold keeps the hint for every fixture scale and
# removes it exactly where it breaks.
BROADCAST_DOC_MAX = 100_000


def _doc_count(spark: SparkSession, sf_dir: str) -> int:
    """Session-cached documents row count (table statistic, the ANALYZE
    analog — same lifecycle as similarity.embedding_corpus_count)."""
    return get_or_build(
        spark, "doc_count", sf_dir,
        lambda: load_table(spark, sf_dir, "documents").count(),
    )


def _query_side_hint(spark: SparkSession, sf_dir: str):
    if _doc_count(spark, sf_dir) <= BROADCAST_DOC_MAX:
        return F.broadcast
    return lambda df: df


def doc_postings(corpus: DataFrame, n: int = 3, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """(doc_id, term, tf, w): term frequencies of word n-gram shingles
    (NON-distinct — tf is the point of TF-IDF), df-capped, with integer
    IDF² weight w = (IDF_SCALE // df)².

    ONE exchange builds the whole index: the exploded shingles are
    hash-partitioned on ``term`` once, and every downstream step is
    satisfied by that partitioning — the (doc_id, term) tf aggregation
    (term is a subset of its grouping keys, so same-key rows are
    already co-located), the per-term df aggregation, AND the tf⋈w
    equi-join on term. The naive formulation shuffles three times
    (tf agg on (doc_id, term), df agg on term, then both join sides
    on term); this was the repo's steepest scale slope (6.6× at the
    30× probe) before the rework. ``tf`` is persisted because both the
    df aggregation and the join consume it, and the cached relation
    advertises the term partitioning, so the reuse stays exchange-free
    (same pattern as the CC/PageRank exchange-reuse reworks)."""
    tf = (
        corpus.select("doc_id", tokens(F.col("text")).alias("tk"))
        .select("doc_id", F.explode(shingles_of_tokens(F.col("tk"), n)).alias("term"))
        .repartition(F.col("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    w = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select(
            "term",
            (F.expr(f"div({IDF_SCALE}, df)") * F.expr(f"div({IDF_SCALE}, df)")).alias("w"),
        )
    )
    return tf.join(w, "term").select("doc_id", "term", "tf", "w")


def materialize_postings_bucketed(
    spark: SparkSession,
    corpus: DataFrame,
    table: str = "tfidf_postings",
    n_buckets: int = 8,
    n: int = 3,
    max_df: int = MAX_SHINGLE_DF,
) -> None:
    """Persist the inverted index as a table hash-BUCKETED by term —
    the repeated-retrieval layout the module docstring promises: every
    later query-batch join on ``term`` reads bucket-aligned scans and
    runs with NO exchange on the corpus side (the 100 TB index is
    shuffled exactly once, at build time; per-query-batch cost is a
    bucket-local join). Buckets are sorted by term so the join can be
    a zip-merge within each bucket.

    tests/test_plan_shape.py::test_tfidf_bucketed_index_join_no_shuffle
    pins the exchange-free plan."""
    materialize_bucketed(
        spark,
        doc_postings(corpus, n, max_df),
        table,
        bucket_col="term",
        n_buckets=n_buckets,
        sort_col="term",
    )


def tfidf_topk(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = 100,
    k: int = 5,
    n: int = 3,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Top-k TF-IDF-cosine matches for query docs (doc_id % query_mod
    == 0), over the dedup corpus (originals + exact + truncated
    replicas — so queries have known high-similarity hits). Docs sharing
    no surviving term with a query are never scored (that's the index)."""
    postings = get_or_build(
        spark, "tfidf_index", sf_dir,
        lambda: doc_postings(dedup_corpus(spark, sf_dir), n, max_df)
        .localCheckpoint(eager=True),
        n, max_df,
    )
    norms = postings.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf") * F.col("w")).alias("norm2")
    )
    # NOTE: no `w` in the query projection — the joined term's `w` from
    # postings is identical (w is a per-term value), and carrying both
    # would make F.col("w") ambiguous after the equi-join on term.
    # Broadcast bound: the query side is 1/query_mod of the corpus's
    # postings; at corpus scale, raise query_mod (or drop the hint and
    # let AQE decide) so the broadcast stays executor-memory-sized.
    qp = postings.filter(F.col("doc_id") % query_mod == 0).select(
        F.col("doc_id").alias("query_id"),
        "term",
        F.col("tf").alias("q_tf"),
    )
    hint = _query_side_hint(spark, sf_dir)
    dots = (
        postings.join(hint(qp), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.col("q_tf") * F.col("tf") * F.col("w")).alias("dot"),
            F.count("*").alias("shared_terms"),
        )
    )
    qnorm = norms.select(
        F.col("doc_id").alias("query_id"), F.col("norm2").alias("q_norm2")
    )
    scored = (
        dots.join(hint(qnorm), "query_id")
        .join(norms, "doc_id")
        .select(
            "query_id",
            "doc_id",
            "shared_terms",
            (
                F.col("dot").cast("double")
                / F.sqrt(F.col("q_norm2").cast("double"))
                / F.sqrt(F.col("norm2").cast("double"))
            ).alias("score"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------------------------------------ BM25

# Okapi BM25 with the textbook constants k1 = 1.2 and b = 0.75, kept as
# exact rationals (k1 = 6/5, b = 3/4) so every per-term score is a ratio
# of bounded integers. The per-term contribution
#     idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
# becomes, after substituting avgdl = A/1000 (A = integer milli-token
# average doc length) and clearing denominators by 10A:
#     w · (22·A·tf) / (10·A·tf + 3·A + 9000·dl)
# quantized to BM25_SCALE fixed-point by integer division. A is bounded
# by 1000·(max doc length), NOT corpus size, so the products stay far
# inside signed-64 at any corpus scale (A ≈ 6·10⁴ here: worst term
# ≈ BM25_SCALE·22/10·IDF_SCALE ≈ 2.2·10⁷, summed over ≤ dl terms).
BM25_SCALE = 10_000


def bm25_postings(corpus: DataFrame) -> DataFrame:
    """(doc_id, dl, term, tf, w): word-bigram term frequencies with
    the document's term count ``dl`` carried through (BM25's length
    normalization needs it at scoring time — carrying it through the
    explode costs one column and saves a doc-length join later), plus
    the integer IDF proxy w = IDF_SCALE // df (monotone in 1/df, the
    same integer-exactness recipe as :func:`doc_postings`).

    Terms are word BIGRAMS, and pruning is the RELATIVE stopword rule
    2·df ≤ N (a term in more than half the docs carries no ranking
    signal and dominates postings cost). Both choices were measured,
    not guessed: over unigrams this fixture's small uniformly-common
    vocabulary (df 400–513 of ~680 docs) either loses every term to a
    df rule or degenerates the index join to all-pairs without one —
    bigrams recover the mid-frequency sparsity an inverted index lives
    on (the same combinatorial trick as the TF-IDF family's 3-gram
    shingles, one notch shorter so tf saturation still has work to do).
    Relative pruning keeps the postings join at Σ_term df_q·df ≤
    Σ df_q·N/2 — impact-ordered index layouts are the next lever at
    100 TB, not a tighter df cut.

    Same ONE-exchange build as the TF-IDF index: hash-partition the
    exploded tokens on ``term`` once; the tf aggregation (term ∈ keys),
    the df aggregation, and the tf⋈w join all reuse that partitioning
    (the doc-count side is a broadcast 1-row literal). ``dl`` is
    functionally dependent on ``doc_id`` so adding it to the tf
    grouping keys changes nothing about the aggregate's size."""
    n_docs = corpus.agg(F.count("*").alias("n_docs"))
    tf = (
        corpus.select("doc_id", tokens(F.col("text")).alias("tk"))
        .select(
            "doc_id",
            F.greatest(F.size("tk") - 1, F.lit(0)).cast("long").alias("dl"),
            F.explode(shingles_of_tokens(F.col("tk"), 2)).alias("term"),
        )
        .repartition(F.col("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    w = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(2 * F.col("df") <= F.col("n_docs"))
        .select("term", F.expr(f"div({IDF_SCALE}, df)").alias("w"))
    )
    return tf.join(w, "term").select("doc_id", "dl", "term", "tf", "w")


def _cached_bm25_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cached BM25 inverted index — one cache key, one build
    lambda, shared by every consumer (bm25_topk, the impact-pruned
    variants, hybrid fusion) so the index can never fork. Postings
    tables are the stored INDEX of a sparse-retrieval system — Lucene
    builds segments at ingest, not per query — so they share the
    build-once/serve-many lifecycle of similarity.quantized_corpus /
    ivf_index. At 100 TB the postings are a written table bucketed by
    term."""
    return get_or_build(
        spark, "bm25_index", sf_dir,
        lambda: bm25_postings(dedup_corpus(spark, sf_dir))
        .localCheckpoint(eager=True),
    )


def _cached_bm25_avgdl(
    spark: SparkSession, sf_dir: str, postings: DataFrame
) -> DataFrame:
    """avgdl is a TABLE STATISTIC of the postings index (Lucene stores
    it in segment metadata) — cached alongside the index (r10) instead
    of re-running a postings-wide groupBy(doc_id) exchange on every
    serve call. One definition site (review r10): the statistic and
    its cache key can never diverge between consumers."""
    return get_or_build(
        spark, "bm25_avgdl", sf_dir,
        lambda: postings.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(F.expr("div(1000 * sum(dl), count(*))").alias("a_milli"))
        .localCheckpoint(eager=True),
    )


def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = 100,
    k: int = 5,
) -> DataFrame:
    """Top-k Okapi BM25 matches for query docs (doc_id % query_mod == 0)
    over the dedup corpus — the rank function every sparse-retrieval
    baseline actually ships (TF-IDF-cosine's production sibling: same
    inverted-index join, but saturating tf and length normalization).

    Integer fixed-point throughout: per-term scores are
    w · ((BM25_SCALE·22·A·tf) div (10·A·tf + 3·A + 9000·dl)) with A the
    corpus milli-token average doc length (one 1-row aggregate,
    broadcast), so the summed ``score_scaled`` is an exact integer the
    DuckDB oracle reproduces bit-for-bit — no float summation order
    anywhere. Work is Σ_term df_q·df (inverted-index sparsity + df cap),
    never O(Q·N); the query side broadcasts (1/query_mod of the corpus)."""
    postings = _cached_bm25_postings(spark, sf_dir)
    avg = _cached_bm25_avgdl(spark, sf_dir, postings)
    qp = postings.filter(F.col("doc_id") % query_mod == 0).select(
        F.col("doc_id").alias("query_id"), "term", F.col("tf").alias("q_tf")
    )
    # same cost-based query-side hint as tfidf_topk (the 1-row avg
    # stays an unconditional broadcast)
    hint = _query_side_hint(spark, sf_dir)
    scored = (
        postings.join(hint(qp), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .crossJoin(F.broadcast(avg))
        .select(
            "query_id",
            "doc_id",
            (
                F.col("q_tf")
                * F.col("w")
                * F.expr(
                    f"div({BM25_SCALE} * 22 * a_milli * tf,"
                    " 10 * a_milli * tf + 3 * a_milli + 9000 * dl)"
                )
            ).alias("s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score_scaled"), F.count("*").alias("shared_terms"))
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score_scaled").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= k)
    )


def bm25_topk_sql(query_mod: int = 100, k: int = 5) -> str:
    """DuckDB twin (expects the dedup CORPUS_SQL prelude): identical
    unigram postings, integer IDF proxy, milli-token avgdl, and the
    exact cleared-denominator fixed-point per-term score."""
    return f"""(
    WITH doc_tokens AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk FROM corpus
    ),
    tf AS (
        SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
            SELECT doc_id, greatest(len(tk) - 1, 0) AS dl,
                unnest(list_transform(
                    generate_series(1, greatest(len(tk) - 1, 0)),
                    i -> tk[i] || ' ' || tk[i+1])) AS term
            FROM doc_tokens
        ) GROUP BY doc_id, dl, term
    ),
    wt AS (
        SELECT term, {IDF_SCALE} // df AS w FROM (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ) d WHERE 2 * df <= (SELECT COUNT(*) FROM corpus)
    ),
    postings AS (
        SELECT t.doc_id, t.dl, t.term, t.tf, wt.w FROM tf t JOIN wt USING (term)
    ),
    avgdl AS (
        SELECT 1000 * SUM(dl) // COUNT(*) AS a_milli FROM (
            SELECT doc_id, ANY_VALUE(dl) AS dl FROM postings GROUP BY doc_id
        )
    ),
    dots AS (
        SELECT q.doc_id AS query_id, d.doc_id AS doc_id,
            SUM(q.tf * d.w * (({BM25_SCALE} * 22 * a_milli * d.tf)
                // (10 * a_milli * d.tf + 3 * a_milli + 9000 * d.dl)))
                AS score_scaled,
            COUNT(*) AS shared_terms
        FROM postings q
        JOIN postings d ON q.term = d.term AND d.doc_id != q.doc_id
        CROSS JOIN avgdl
        WHERE q.doc_id % {query_mod} = 0
        GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score_scaled, shared_terms,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS rank
        FROM dots
    ) r
    WHERE rank <= {k}
) s"""


def tfidf_topk_sql(
    query_mod: int = 100, k: int = 5, n: int = 3, max_df: int = MAX_SHINGLE_DF
) -> str:
    """DuckDB twin (expects the dedup CORPUS_SQL prelude): identical
    postings algebra, integer weights, and rank tie-break. ``n`` generates
    the same word n-gram expression the Spark side uses."""
    gram = " || ' ' || ".join(f"tk[i+{j}]" if j else "tk[i]" for j in range(n))
    return f"""(
    WITH doc_tokens AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk FROM corpus
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM (
            SELECT doc_id, unnest(list_transform(
                generate_series(1, greatest(len(tk) - {n - 1}, 0)),
                i -> {gram})) AS term
            FROM doc_tokens
        ) GROUP BY doc_id, term
    ),
    wt AS (
        SELECT term, ({IDF_SCALE} // df) * ({IDF_SCALE} // df) AS w FROM (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ) d WHERE df <= {max_df}
    ),
    postings AS (
        SELECT t.doc_id, t.term, t.tf, wt.w FROM tf t JOIN wt USING (term)
    ),
    norms AS (
        SELECT doc_id, SUM(tf * tf * w) AS norm2 FROM postings GROUP BY doc_id
    ),
    dots AS (
        SELECT q.doc_id AS query_id, d.doc_id AS doc_id,
            SUM(q.tf * d.tf * q.w) AS dot, COUNT(*) AS shared_terms
        FROM postings q
        JOIN postings d ON q.term = d.term AND d.doc_id != q.doc_id
        WHERE q.doc_id % {query_mod} = 0
        GROUP BY 1, 2
    )
    , scored AS (
        SELECT dots.query_id, dots.doc_id, dots.shared_terms,
            CAST(dot AS DOUBLE) / sqrt(CAST(nq.norm2 AS DOUBLE))
                / sqrt(CAST(nd.norm2 AS DOUBLE)) AS score
        FROM dots
        JOIN norms nq ON nq.doc_id = dots.query_id
        JOIN norms nd ON nd.doc_id = dots.doc_id
    )
    SELECT query_id, doc_id, shared_terms, score, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        FROM scored
    ) r
    WHERE rank <= {k}
) s"""


# ------------------------------------ impact-ordered BM25 pruning

# Postings kept per term in the impact-ordered index. The fixture's
# synthetic text draws from a tiny near-uniform vocabulary (931 bigram
# terms, dfs clustered 300-450), so per-posting impacts are nearly
# tied — the hardest possible regime for static pruning; m=256 prunes
# ~35% of postings at recall@5 ≈ 0.65 (measured sweep: m=64 → 0.18,
# 128 → 0.30, 256 → 0.65, 512 ≥ max df → 1.0 trivially). On a real
# zipf-vocabulary corpus the impact distribution is heavy-tailed and
# the same m retains far more of the ranking.
BM25_IMPACT_M = 256


def bm25_impact_postings(
    spark: SparkSession, sf_dir: str, m: int = BM25_IMPACT_M
) -> DataFrame:
    """Impact-ordered static index pruning (Anh & Moffat, "Pruned query
    evaluation using pre-computed impacts", SIGIR 2006; Broder et al.'s
    static pruning family): pre-compute every posting's q_tf=1 BM25
    contribution c = w·sat(tf, dl) as an exact integer and keep only
    each term's TOP-``m`` postings by (c desc, doc_id) — the index
    layout that bounds per-term scoring work at m regardless of df,
    the documented "next lever at 100 TB" of the bm25_postings df-cap
    note. c is the right static order for ANY query: the query's own
    q_tf multiplies the stored contribution, so per-term ranking by c
    is query-independent.

    Plan: the cached full postings cross-join the 1-row avgdl digest
    (broadcast), one window per term (the index's own exchange — at
    scale this IS the index build's sort order, paid at write time),
    deterministic integer contributions throughout."""
    postings = _cached_bm25_postings(spark, sf_dir)
    avg = _cached_bm25_avgdl(spark, sf_dir, postings)
    base = postings.crossJoin(F.broadcast(avg)).select(
        "doc_id",
        "term",
        (
            F.col("w")
            * F.expr(
                f"div({BM25_SCALE} * 22 * a_milli * tf,"
                " 10 * a_milli * tf + 3 * a_milli + 9000 * dl)"
            )
        ).alias("c"),
    )
    win = Window.partitionBy("term").orderBy(F.col("c").desc(), F.col("doc_id"))
    return (
        base.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= m)
        .select("doc_id", "term", "c")
    )


def bm25_impact_topk(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = 100,
    k: int = 5,
    m: int = BM25_IMPACT_M,
) -> DataFrame:
    """Top-k BM25 over the impact-PRUNED index: identical scoring
    algebra to :func:`bm25_topk` (score = Σ q_tf·c, exact integers)
    restricted to each term's top-``m`` impact postings — per-term
    join work bounded at df_q·m instead of df_q·df. Deterministic by
    construction (the pruned set and all scores are exact-integer
    functions of the corpus), so the DuckDB twin reproduces the
    approximation bit-for-bit; the approximation QUALITY is measured
    by bm25_impact_recall against the unpruned ranking."""
    postings = _cached_bm25_postings(spark, sf_dir)
    pruned = bm25_impact_postings(spark, sf_dir, m)
    qp = postings.filter(F.col("doc_id") % query_mod == 0).select(
        F.col("doc_id").alias("query_id"), "term", F.col("tf").alias("q_tf")
    )
    hint = _query_side_hint(spark, sf_dir)
    scored = (
        pruned.join(hint(qp), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.col("q_tf") * F.col("c")).alias("score_scaled"),
            F.count("*").alias("shared_terms"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score_scaled").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= k)
    )


def bm25_impact_recall(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = 100,
    k: int = 5,
    m: int = BM25_IMPACT_M,
) -> DataFrame:
    """Recall@k of the impact-pruned ranking vs the exact BM25 top-k —
    the static-pruning family's quality dial (the sq8_recall_check
    pattern applied to the sparse index): one inner join of two
    Q·k-bounded rank tables + a 1-row digest."""
    exact = bm25_topk(spark, sf_dir, query_mod, k).select("query_id", "doc_id")
    appr = bm25_impact_topk(spark, sf_dir, query_mod, k, m).select(
        "query_id", "doc_id"
    )
    hits = exact.join(appr, ["query_id", "doc_id"]).agg(
        F.count("*").alias("hits")
    )
    return (
        exact.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count("*").alias("n_exact"),
        )
        .crossJoin(F.broadcast(hits))
        .select(
            "n_queries",
            "n_exact",
            "hits",
            (
                F.col("hits").cast("double") / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
    )


# --------------------------------- cost-routed BM25 serve default

# Scored-pair budget for the EXACT serve (VERDICT r10 #2): the exact
# inverted-index join does Σ_term df(term)·df_q(term) work; the
# impact-pruned serve bounds it at Σ_term min(df, m)·df_q at a
# measured recall (the bm25_impact_recall dial). Routing threshold:
# 10⁸ scored pairs ≈ 88× the sf0.1 workload (measured 1.14e6 pairs →
# 0.65 s on local[32]; linear extrapolation puts 10⁸ near ~50 s
# locally, ~fractions of a second per executor on a 1000-executor
# cluster) — the point where the exact serve's latency materially
# exceeds the pruned serve plus its recall audit. The 100× grown-Q
# probe (queries AND corpus ×100 → 10⁴× pair work ≈ 1.3e10) routes to
# the impact serve, whose measured slope is 12.8× vs the exact
# serve's 21.5× under the same protocol.
BM25_EXACT_PAIRWORK_MAX = 100_000_000


def _cached_bm25_pairwork(
    spark: SparkSession, sf_dir: str, query_mod: int = 100
) -> int:
    """Session-cached scored-pair work statistic of the exact BM25
    serve: Σ_term df·df_q over the postings index — a TABLE STATISTIC
    like avgdl (one aggregate riding the cached index, collected as a
    single driver-side long; the ANALYZE lifecycle, not a hot-path
    collect)."""
    def build():
        postings = _cached_bm25_postings(spark, sf_dir)
        per_term = postings.groupBy("term").agg(
            F.count("*").alias("df"),
            F.sum(
                (F.col("doc_id") % query_mod == 0).cast("long")
            ).alias("df_q"),
        )
        row = per_term.agg(
            F.sum(F.col("df") * F.col("df_q")).alias("pairs")
        ).collect()[0]
        return int(row["pairs"] or 0)

    return get_or_build(spark, "bm25_pairwork", sf_dir, build, query_mod)


def bm25_serve_topk(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = 100,
    k: int = 5,
    m: int = BM25_IMPACT_M,
) -> DataFrame:
    """The BM25 serve DEFAULT: cost-routed between the exact serve
    (:func:`bm25_topk`) and the impact-pruned serve
    (:func:`bm25_impact_topk`) on the cached Σ df·df_q work statistic
    — the same decide-by-table-statistic discipline as
    ``_query_side_hint``. Below ``BM25_EXACT_PAIRWORK_MAX`` the exact
    ranking is cheap enough to be the answer; above it the per-term
    m-bounded index serves, with :func:`bm25_impact_recall` as the
    quality dial. The registry row's DuckDB twin
    (:func:`bm25_serve_topk_sql`) routes on the SAME statistic with
    the same budget, so oracle and serve select the same branch at
    any corpus size (review r11 — an exact-only oracle would go red
    as a false mismatch past the budget); both rankings are
    exact-integer deterministic, so whichever branch fires is
    reproducible bit-for-bit."""
    if _cached_bm25_pairwork(spark, sf_dir, query_mod) <= BM25_EXACT_PAIRWORK_MAX:
        return bm25_topk(spark, sf_dir, query_mod, k)
    return bm25_impact_topk(spark, sf_dir, query_mod, k, m)


def _bm25_impact_ctes(query_mod: int, m: int) -> str:
    """Shared CTE chain for the impact-pruned twins (expects the dedup
    CORPUS_SQL prelude): the bm25_topk_sql postings/avgdl chain plus
    the per-term top-m impact pruning."""
    return f"""doc_tokens AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk FROM corpus
    ),
    tf AS (
        SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
            SELECT doc_id, greatest(len(tk) - 1, 0) AS dl,
                unnest(list_transform(
                    generate_series(1, greatest(len(tk) - 1, 0)),
                    i -> tk[i] || ' ' || tk[i+1])) AS term
            FROM doc_tokens
        ) GROUP BY doc_id, dl, term
    ),
    wt AS (
        SELECT term, {IDF_SCALE} // df AS w FROM (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ) d WHERE 2 * df <= (SELECT COUNT(*) FROM corpus)
    ),
    postings AS (
        SELECT t.doc_id, t.dl, t.term, t.tf, wt.w FROM tf t JOIN wt USING (term)
    ),
    avgdl AS (
        SELECT 1000 * SUM(dl) // COUNT(*) AS a_milli FROM (
            SELECT doc_id, ANY_VALUE(dl) AS dl FROM postings GROUP BY doc_id
        )
    ),
    impact_base AS (
        SELECT doc_id, term,
            w * (({BM25_SCALE} * 22 * a_milli * tf)
                // (10 * a_milli * tf + 3 * a_milli + 9000 * dl)) AS c
        FROM postings CROSS JOIN avgdl
    ),
    impact AS (
        SELECT doc_id, term, c FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY term ORDER BY c DESC, doc_id) AS rn
            FROM impact_base
        ) x WHERE rn <= {m}
    ),
    impact_dots AS (
        SELECT q.doc_id AS query_id, i.doc_id AS doc_id,
            SUM(q.tf * i.c) AS score_scaled,
            COUNT(*) AS shared_terms
        FROM postings q
        JOIN impact i ON q.term = i.term AND i.doc_id != q.doc_id
        WHERE q.doc_id % {query_mod} = 0
        GROUP BY 1, 2
    )"""


def bm25_serve_topk_sql(
    query_mod: int = 100,
    k: int = 5,
    m: int = BM25_IMPACT_M,
    budget: int = BM25_EXACT_PAIRWORK_MAX,
) -> str:
    """DuckDB twin of :func:`bm25_serve_topk` that ROUTES ON THE SAME
    STATISTIC (review r11): the previous oracle pinned the exact serve
    unconditionally, which silently scale-bounded the contract — on a
    corpus whose Σ df·df_q crosses the budget the Spark row would have
    served the impact ranking against an exact oracle and gone red as
    a false mismatch. Here the pairwork statistic is computed in SQL
    from the identical postings table and the SAME ``≤ budget``
    comparison selects between the two rankings, so oracle and serve
    route together at ANY corpus size. (Every driver fixture routes
    exact; the 100× probe corpus routes impact — both branches are
    covered by their own standalone oracle rows as well.)"""
    return f"""(
    WITH {_bm25_impact_ctes(query_mod, m)},
    sv_pairwork AS (
        SELECT COALESCE(SUM(df * df_q), 0) AS pairs FROM (
            SELECT term, COUNT(*) AS df,
                SUM(CASE WHEN doc_id % {query_mod} = 0 THEN 1 ELSE 0 END)
                    AS df_q
            FROM postings GROUP BY term
        ) pt
    ),
    sv_exact_dots AS (
        SELECT q.doc_id AS query_id, d.doc_id AS doc_id,
            SUM(q.tf * d.w * (({BM25_SCALE} * 22 * a_milli * d.tf)
                // (10 * a_milli * d.tf + 3 * a_milli + 9000 * d.dl)))
                AS score_scaled,
            COUNT(*) AS shared_terms
        FROM postings q
        JOIN postings d ON q.term = d.term AND d.doc_id != q.doc_id
        CROSS JOIN avgdl
        WHERE q.doc_id % {query_mod} = 0
        GROUP BY 1, 2
    ),
    sv_exact AS (
        SELECT query_id, doc_id, score_scaled, shared_terms,
               CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY score_scaled DESC, doc_id) AS rank
            FROM sv_exact_dots
        ) r WHERE rank <= {k}
    ),
    sv_impact AS (
        SELECT query_id, doc_id, score_scaled, shared_terms,
               CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY score_scaled DESC, doc_id) AS rank
            FROM impact_dots
        ) r WHERE rank <= {k}
    )
    SELECT * FROM sv_exact
    WHERE (SELECT pairs FROM sv_pairwork) <= {budget}
    UNION ALL
    SELECT * FROM sv_impact
    WHERE (SELECT pairs FROM sv_pairwork) > {budget}
) s"""


def bm25_impact_topk_sql(
    query_mod: int = 100, k: int = 5, m: int = BM25_IMPACT_M
) -> str:
    return f"""(
    WITH {_bm25_impact_ctes(query_mod, m)}
    SELECT query_id, doc_id, score_scaled, shared_terms,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS rank
        FROM impact_dots
    ) r
    WHERE rank <= {k}
) s"""


def bm25_impact_recall_sql(
    query_mod: int = 100, k: int = 5, m: int = BM25_IMPACT_M
) -> str:
    exact = bm25_topk_sql(query_mod, k)
    return f"""(
    WITH {_bm25_impact_ctes(query_mod, m)},
    ir_appr AS (
        SELECT query_id, doc_id FROM (
            SELECT query_id, doc_id, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score_scaled DESC, doc_id
            ) AS rank FROM impact_dots
        ) a WHERE rank <= {k}
    ),
    ir_exact AS (
        SELECT query_id, doc_id FROM {exact}
    )
    SELECT (SELECT COUNT(DISTINCT query_id) FROM ir_exact) AS n_queries,
        (SELECT COUNT(*) FROM ir_exact) AS n_exact,
        (SELECT COUNT(*) FROM ir_exact e
         JOIN ir_appr a ON e.query_id = a.query_id
            AND e.doc_id = a.doc_id) AS hits,
        CAST((SELECT COUNT(*) FROM ir_exact e
              JOIN ir_appr a ON e.query_id = a.query_id
                AND e.doc_id = a.doc_id) AS DOUBLE)
            / (SELECT COUNT(*) FROM ir_exact) AS recall
) s"""
