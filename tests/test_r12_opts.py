"""Semantic tests for the round-12 optimizations (oracle parity is
pinned separately by test_registry_parity; these pin the MATH of each
restructured internal against a naive reference)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from iot_temp_data_pipeline_spark.operators import dedup as dd
from iot_temp_data_pipeline_spark.operators import quality as qa
from iot_temp_data_pipeline_spark.operators import sq8 as sq
from iot_temp_data_pipeline_spark.operators.retrieval_ext import _maxsim_reduce


def test_band_tuning_single_pass_equals_per_config_aggregates(spark, sf_dir):
    """The one-digest-pass band tuning (r12) must emit exactly the rows
    the old per-config aggregate loop produced: recompute each config's
    statistics with its own independent aggregate and compare."""
    corpus = dd.dedup_corpus(spark, sf_dir)
    fused = {
        (r["bands"], r["rows_per_band"]): r
        for r in dd.minhash_band_tuning(corpus).collect()
    }
    pairs = dd.ngram_jaccard_pairs(corpus).select("jaccard").localCheckpoint()
    one = F.lit(1.0)
    assert set(fused) == set(dd.LSH_TUNING_CONFIGS)
    for b, r in dd.LSH_TUNING_CONFIGS:
        p = one - dd._pow2_col(one - dd._pow2_col(F.col("jaccard"), r), b)
        ref = pairs.agg(
            F.count("*").alias("n_pairs"),
            F.sum(p).alias("sum_p"),
            F.min(p).alias("min_p"),
            F.sum(one - p).alias("miss"),
        ).collect()[0]
        got = fused[(b, r)]
        assert got["n_pairs"] == ref["n_pairs"]
        assert abs(got["mean_detect_prob"] - ref["sum_p"] / ref["n_pairs"]) < 1e-9
        assert got["min_detect_prob"] == ref["min_p"]
        assert abs(got["expected_missed"] - ref["miss"]) < 1e-9


def test_contaminated_docs_single_pass_counts(spark):
    """The fused left-join+groupBy form must reproduce the naive
    per-doc overlap/total counts, and emit NO row for docs with zero
    eval overlap (the old inner-join semantics)."""
    # eval doc 0 (doc_id % EVAL_MOD == 0): shares an 8-gram with doc 1
    # (full copy) but not with doc 2 (disjoint text)
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    other = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    df = spark.createDataFrame(
        [
            (0, base, "en", "s"),
            (1, base + " tail", "en", "s"),
            (2, other, "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {r["doc_id"]: r for r in qa.contaminated_docs(df).collect()}
    assert 0 not in rows  # eval split is not reported
    assert 2 not in rows  # zero-overlap doc: no row (old inner join)
    r1 = rows[1]
    # doc 1 has 3 distinct 8-grams (10 tokens), 2 of them inside doc 0
    assert r1["n_ngrams"] == 3
    assert r1["n_overlap"] == 2
    assert abs(r1["contamination_frac"] - 2 / 3) < 1e-12


def test_token_budget_pick_null_and_empty_text(spark):
    """The r12 `text IS NOT NULL` gate must equal the old
    `size(tk) > 0` filter on the edge rows: NULL text dropped, empty
    and whitespace-only text KEPT (split yields >= 1 element)."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in qa.token_budget_pick(df, budget=10**9).collect()}
    assert set(out) == {1, 3, 4}
    assert out[1]["n_tokens"] == 3
    assert out[3]["n_tokens"] == 1  # "" -> [""]
    assert out[4]["n_tokens"] == 2  # "   " -> ["", ""]
    # greedy order and prefix sums still hold over the kept rows
    ranks = sorted((r["pick_rank"], d) for d, r in out.items())
    assert [r for r, _ in ranks] == [1, 2, 3]


def test_maxsim_reduce_equals_two_level_aggregate(spark):
    """The m-conditional-max single aggregate (r12) must equal the old
    max-by-(q,d,q_vec)-then-sum chain bit-for-bit on a frame with
    duplicate scores and negative values, and on a (q, d) group missing
    a token slot (the chain sums the slots that are present)."""
    m, k = 4, 3
    rows = []
    for q in (0, 4):  # q_tdoc values
        for d in (1, 2, 3):
            for j in range(m):
                if (q, d, j) == (4, 2, 1):  # one group lacks slot 1
                    continue
                for dup in range(2):  # two doc tokens per slot
                    rows.append((q, d, q * m + j, (q + d * 7 - j * 3) * (dup + 1) - 5))
    pairs = spark.createDataFrame(
        rows, "q_tdoc long, tdoc long, q_vec long, ms long"
    )
    got = sorted(
        map(tuple, _maxsim_reduce(pairs, m, k).collect())
    )
    tokmax = pairs.groupBy("q_tdoc", "tdoc", "q_vec").agg(
        F.max("ms").alias("tok_ms")
    )
    sc = tokmax.groupBy("q_tdoc", "tdoc").agg(
        F.sum("tok_ms").alias("maxsim_micros")
    )
    w = Window.partitionBy("q_tdoc").orderBy(
        F.col("maxsim_micros").desc(), F.col("tdoc")
    )
    ref = sorted(
        map(
            tuple,
            sc.select(
                F.col("q_tdoc").alias("query_doc"),
                F.col("tdoc").alias("neighbor_doc"),
                "maxsim_micros",
                F.row_number().over(w).cast("long").alias("rank"),
            )
            .filter(F.col("rank") <= k)
            .collect(),
        )
    )
    assert got == ref


def test_ivfsq8_index_build_matches_cached_artifact(spark, sf_dir):
    """The from-scratch build row (r12) must reproduce the session
    artifact's inverted-list content exactly (vec_id -> cell, scale,
    norm, codes) — the build path and the serve artifact may never
    diverge."""
    from iot_temp_data_pipeline_spark.plans.extensions_r12 import (
        _ivfsq8_index_build,
    )

    built = {
        r["vec_id"]: (r["cell_id"], r["m"], r["qnorm2"], r["code_checksum"])
        for r in _ivfsq8_index_build(spark, sf_dir).collect()
    }
    enc = sq.ivfsq8_enc_index(spark, sf_dir)
    checksum = F.expr(
        "aggregate(zip_with(code, sequence(1, size(code)), (c, i) -> c * i),"
        " 0L, (acc, x) -> acc + x)"
    )
    cached = {
        r["vec_id"]: (r["cell_id"], r["m"], r["qnorm2"], r["cs"])
        for r in enc.select(
            "vec_id", "cell_id", "m", "qnorm2", checksum.alias("cs")
        ).collect()
    }
    assert built == cached and len(built) > 0
