"""Semantic tests for the round-7 operators (oracle parity is pinned
separately by test_registry_parity; these pin the MATH)."""

from __future__ import annotations

from pyspark.sql import functions as F

from iot_temp_data_pipeline_spark.operators import dedup as dd
from iot_temp_data_pipeline_spark.operators import sq8
from iot_temp_data_pipeline_spark.operators.profiling import trimmed_mean_events
from iot_temp_data_pipeline_spark.operators.similarity import ground_truth_topk
from iot_temp_data_pipeline_spark.operators.text_analysis import char_entropy
from iot_temp_data_pipeline_spark.plans.retrieval_specs import _ivf_recall_sweep


def test_trimmed_mean_matches_naive_sorted(spark):
    """The cdf-window overlap arithmetic must equal the naive
    sort-drop-k-average on a small frame, including duplicate values
    straddling the trim boundary."""
    vals = [1.0, 1.0, 2.0, 2.0, 3.0, 100.0, -50.0, 3.0, 3.0, 4.0,
            4.0, 5.0, 5.0, 5.0, 5.0, 6.0, 7.0, 8.0, 9.0, 200.0]
    df = spark.createDataFrame(
        [("a", v) for v in vals], "event_type string, value double"
    )
    out = trimmed_mean_events(df, trim_pct=10).collect()[0]
    cents = sorted(round(v * 100) for v in vals)
    k = len(cents) * 10 // 100
    trimmed = cents[k: len(cents) - k]
    assert out["n"] == len(cents)
    assert out["trim_k"] == k
    assert out["trimmed_n"] == len(trimmed)
    assert out["trimmed_sum_cents"] == sum(trimmed)
    assert out["trimmed_mean_millicents"] == int(
        1000 * sum(trimmed) / len(trimmed)
    ) or out["trimmed_mean_millicents"] == (1000 * sum(trimmed)) // len(trimmed)


def test_trimmed_mean_resists_outliers(spark):
    """One enormous outlier must not move the 10%-trimmed mean."""
    base = [("t", float(i % 10)) for i in range(100)]
    clean = spark.createDataFrame(base, "event_type string, value double")
    dirty = spark.createDataFrame(
        base + [("t", 1e9)] * 2 + [("t", -1e9)] * 2,
        "event_type string, value double",
    )
    m_clean = trimmed_mean_events(clean).collect()[0]["trimmed_mean_millicents"]
    m_dirty = trimmed_mean_events(dirty).collect()[0]["trimmed_mean_millicents"]
    assert abs(m_clean - m_dirty) < 200  # < 0.2 cents drift


def test_char_entropy_orders_degenerate_below_diverse(spark):
    df = spark.createDataFrame(
        [(1, "aaaaaaaaaaaaaaaa"), (2, "abcdefghijklmnop"), (3, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert 3 not in rows  # empty text filtered (no 0-division row)
    const, div = rows[1], rows[2]
    # constant text: c = L, so total = L*bitlen(L) - L*bitlen(L) = 0
    assert const["total_floorbits"] == 0 and const["is_low_entropy"]
    # all-distinct: total = L*bitlen(L) - L*bitlen(1) = 16*5 - 16 = 64
    assert div["total_floorbits"] == 64
    assert div["mean_millifloorbits"] == 4000 and not div["is_low_entropy"]
    assert const["n_distinct_chars"] == 1 and div["n_distinct_chars"] == 16


def test_band_tuning_s_curve_monotone(spark, sf_dir):
    """For near-dup pairs (j >= 0.6), more bands with shorter rows can
    only raise the detection probability: p = 1-(1-j^r)^b with b·r = 16
    is monotone in b along that frontier for j in (0,1]."""
    out = dd.minhash_band_tuning(dd.dedup_corpus(spark, sf_dir)).collect()
    by_bands = {r["bands"]: r for r in out}
    assert set(by_bands) == {1, 2, 4, 8, 16}
    n_pairs = {r["n_pairs"] for r in out}
    assert len(n_pairs) == 1 and n_pairs.pop() > 0
    last = -1.0
    for b in (1, 2, 4, 8, 16):
        r = by_bands[b]
        assert 0.0 <= r["min_detect_prob"] <= r["mean_detect_prob"] <= 1.0
        assert r["mean_detect_prob"] >= last
        last = r["mean_detect_prob"]


def test_ivf_recall_sweep_monotone_in_probes(spark, sf_dir):
    rows = {r["n_probe"]: r for r in _ivf_recall_sweep(spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 4}
    r1, r2, r4 = (rows[p]["mean_recall_at_5"] for p in (1, 2, 4))
    assert 0.0 <= r1 <= r2 <= r4 <= 1.0
    assert rows[1]["n_queries"] == rows[4]["n_queries"] > 0


def test_sq8_rerank_recall_at_least_plain_sq8(spark, sf_dir):
    """Reranking the top-25 SQ8 shortlist with exact cosines can only
    improve (or tie) recall@5 against exact ground truth vs taking the
    SQ8 top-5 directly: the rerank sees a superset of the candidates."""
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in ground_truth_topk(spark, sf_dir).collect()
    }
    plain = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8.knn_sq8(spark, sf_dir).collect()
    }
    rer = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8.knn_sq8_rerank(spark, sf_dir).collect()
    }
    assert len(rer & bf) >= len(plain & bf)
    # contract: exactly k rows per query, ranks 1..k
    per_q: dict[int, int] = {}
    for q, _ in rer:
        per_q[q] = per_q.get(q, 0) + 1
    assert set(per_q.values()) == {sq8.SQ8_K}


def test_t_closeness_flags_skewed_classes(spark):
    """A class whose sensitive distribution is a point mass in a
    balanced table must show t ≈ (1 - 1/n_segs); a perfectly
    representative class must show t = 0."""
    from iot_temp_data_pipeline_spark.operators.governance import (
        t_closeness_audit,
    )

    rows = []
    # global: two segments 50/50 across two nations
    # nation 0: all AUTO (point mass)  -> t = |1-0.5|+|0-0.5| over 2 = 0.5
    rows += [(0, 100.0, "AUTO")] * 10
    # nation 1: 10 AUTO + 10 BIKE (representative) -> t = 0
    rows += [(1, 100.0, "AUTO")] * 10 + [(1, 100.0, "BIKE")] * 10
    df = spark.createDataFrame(
        rows, "c_nationkey long, c_acctbal double, c_mktsegment string"
    )
    out = {r["nationkey"]: r for r in t_closeness_audit(df, t_ppm=0).collect()}
    assert out[0]["t_ppm"] in (333333, 333334)  # global AUTO share = 2/3
    assert 1 not in out or out[1]["t_ppm"] < 333333


def test_zipf_fit_slope_negative_on_natural_text(spark, sf_dir):
    from iot_temp_data_pipeline_spark.operators.text_analysis import zipf_fit
    from iot_temp_data_pipeline_spark.sources.catalog import load_table

    r = zipf_fit(load_table(spark, sf_dir, "documents")).collect()[0]
    assert r["n_terms"] > 0 and r["n_freq_groups"] > 1
    # frequency falls with rank — negative slope, valid correlation.
    # (The synthetic fixture vocabulary is tiny (~31 terms at sf0.001)
    # and nowhere near Zipf-shaped, so only the SIGN is asserted; the
    # exact values are pinned by the DuckDB oracle.)
    assert r["slope_bits"] < 0
    assert -1.0 <= r["corr_xy"] < 0


def test_zipf_fit_counts_every_term_exactly(spark):
    """The bit-level overlap arithmetic must enumerate each rank exactly
    once: n_terms == vocabulary size, and on a hand-built corpus the
    moment identity Σx over ranks 1..V equals the direct sum."""
    from iot_temp_data_pipeline_spark.operators.text_analysis import zipf_fit

    # vocab: a x4, b x2, c x1, d x1  -> ranks 1..4
    df = spark.createDataFrame(
        [(1, "a a a a b b c d")], "doc_id long, text string"
    )
    r = zipf_fit(df).collect()[0]
    assert r["n_terms"] == 4
    assert r["n_freq_groups"] == 3  # freqs {4, 2, 1}


def test_char_entropy_strategies_bit_identical(spark, sf_dir):
    """The lambda and explode physical forms must agree exactly (the
    cost-based auto switch may pick either at any scale); also pins the
    load-bearing split('') semantics: exactly the characters, no empty
    elements for non-empty input."""
    from iot_temp_data_pipeline_spark.sources.catalog import load_table

    assert spark.sql("SELECT split('abc', '')").collect()[0][0] == [
        "a", "b", "c",
    ]
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(map(tuple, char_entropy(docs, strategy="lambda").collect()))
    b = sorted(map(tuple, char_entropy(docs, strategy="explode").collect()))
    assert a == b and a


def test_streaming_mad_partials_matches_batch(spark, sf_dir):
    """Merged micro-batch (type, cents, cnt) partials must reproduce
    the batch MAD gate exactly — grouped counts are a pure function of
    the value multiset, so the result is batching-invariant."""
    from iot_temp_data_pipeline_spark.operators.profiling import (
        mad_outlier_gate,
    )
    from iot_temp_data_pipeline_spark.plans.streaming_specs import (
        _streaming_mad,
    )
    from iot_temp_data_pipeline_spark.sources.catalog import load_table

    streamed = sorted(map(tuple, _streaming_mad(spark, sf_dir).collect()))
    batch = sorted(
        map(tuple, mad_outlier_gate(load_table(spark, sf_dir, "events")).collect())
    )
    assert streamed == batch and streamed


def test_ivfsq8_rerank_recall_dominates_ivfsq8(spark, sf_dir):
    """Within the probed candidate pool, exact rerank of the top-25
    SQ8 shortlist must contain every ground-truth neighbor the plain
    ivfsq8 top-5 contains (rerank top-5 = exact-cosine-best of a
    SUPERSET of the plain top-5's pool)."""
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in ground_truth_topk(spark, sf_dir).collect()
    }
    plain = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8.knn_ivfsq8(spark, sf_dir).collect()
    }
    rer = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8.knn_ivfsq8_rerank(spark, sf_dir).collect()
    }
    assert len(rer & bf) >= len(plain & bf)
    per_q: dict[int, int] = {}
    for q, _ in rer:
        per_q[q] = per_q.get(q, 0) + 1
    assert set(per_q.values()) == {sq8.SQ8_K}
