"""Regenerate PLANS.md: the formatted physical plans of representative
queries, with the shape properties each one is expected to exhibit
(and that tests/test_plan_shape.py pins). Usage:

    python scripts/dump_plans.py [out.md]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iot_temp_data_pipeline_spark.plans.registry import REGISTRY
from iot_temp_data_pipeline_spark.session import get_spark

SF = os.environ.get("SF", "/root/testdata/sf0.01")

# query -> what to look for in the plan
SHOWCASE = {
    "anomaly_scores_t2": (
        "The dedup table (max_by aggform) and its GROUPING SETS stats "
        "digest are session-cached materializations (the dbt "
        "materialized-table shape; r7); the serving plan is a scan of "
        "the checkpointed table with ONE BroadcastHashJoin (device "
        "stats — the only side that grows with the data) while the "
        "global/location/environment stats appear as literal CASE/const "
        "expressions, not joins; the probe side never shuffles for "
        "enrichment."
    ),
    "mad_outlier_gate": (
        "Serve path over the session-cached cents-CDF table statistic "
        "(r8, shared with trimmed_mean_events): median falls out of the "
        "materialized cum/n columns; deviations, MAD and the flag count "
        "run inside one event_type partitioning — the dev-ordered "
        "second window is a re-sort, not a re-shuffle; no joins, no "
        "broadcasts, <= 3 Exchanges, no output sort."
    ),
    "char_entropy_quality": (
        "Cost-based dual strategy (r7): below ENTROPY_EXPLODE_MIN_DOCS "
        "a pure-map array-expression projection (zero aggregates, the "
        "only Exchange is the conditional under-partitioned-scan "
        "spread); above it, explode(split(text,'')) into a map-side-"
        "combined (doc, char) hash aggregate — O(length) per row in "
        "whole-stage codegen, shuffle bounded at docs x alphabet."
    ),
    "bm25_topk": (
        "Same one-term-exchange inverted-index contract as tfidf_topk "
        "with BM25's saturating integer fixed-point scorer: doc length "
        "rides the tf aggregation keys (no doc-length join), avgdl is a "
        "1-row broadcast, the query side broadcasts into the postings."
    ),
    "quality_classifier_filter": (
        "Model-based filtering with ZERO corpus shuffle: the hashed "
        "linear score is an F.aggregate over the token array evaluated "
        "in the scan projection (no Generate/explode anywhere); the only "
        "Exchange is the final (source, lang) report aggregate with "
        "map-side partials."
    ),
    "corpus_shuffle_manifest": (
        "A global random permutation decomposed into per-shard sorts: "
        "Exchange hashpartitioning(shard_id) then per-partition Sort + "
        "Window row_number - no SinglePartition node; reseeding "
        "reshuffles without rewriting data."
    ),
    "dedup_incremental_delta": (
        "Increment-vs-history dedup: exact side is a hash equi-join on "
        "md5(text); near side joins the increment's band table against "
        "history's (never a self-join), so candidate work tracks the "
        "increment's size; verdict derivation is two left joins sized by "
        "the increment."
    ),
    "corpus_filter_funnel": (
        "Four sequential gates audited in ONE aggregate over one corpus "
        "scan: conditional sums give each stage's survivor count, a "
        "conditional distinct-hash count gives the dedup stage, and the "
        "4-row report explodes from the single agg row."
    ),
    "tfidf_topk": (
        "ONE Exchange (REPARTITION_BY_COL on term) builds the whole "
        "inverted index: the (doc_id, term) tf aggregate, the per-term df "
        "aggregate, and the tf-to-weights join all run on that "
        "partitioning (term is a subset of the tf grouping keys); the "
        "query side broadcasts into the postings."
    ),
    "pack_sequences_sharded": (
        "The prefix-sum Window is keyed by dataloader shard: Exchange "
        "hashpartitioning(shard_id) — NO SinglePartition anywhere — then "
        "per-partition Sort + Window + the segment explode; shards pack "
        "in parallel where the global grid form would serialize through "
        "one sort partition."
    ),
    "curriculum_score_phases": (
        "Sort-free curriculum quartiles: the corpus is scanned once "
        "(map-side score + bin), the ordered window runs over the "
        "score-range-sized BIN table (hundreds of rows), and phase "
        "assignment is a stateless compare against 3 broadcast cut "
        "bins - no NTILE SinglePartition sort anywhere."
    ),
    "drift_embedding_centroids": (
        "Vector-drift monitor whose shuffle is label-sized: 64 "
        "map-side-combined component sums per (label, cohort), then a "
        "|labels|-row self-join - corpus size never appears in an "
        "exchange."
    ),
    "tpch_q9_product_type_profit": (
        "Part (LIKE-filtered) and supplier⋈nation broadcast; the only "
        "fact-fact exchange is lineitem⋈orders on orderkey; aggregation is "
        "partial (map-side) then final — check the two HashAggregate "
        "levels around the exchange."
    ),
    "tpch_q21_suppliers_who_kept_waiting": (
        "The double-correlated EXISTS/NOT EXISTS is decorrelated to ONE "
        "per-order aggregate joined back — no nested-loop join appears; "
        "the per-order stats and probe rows share the orderkey exchange."
    ),
    "staging_readings": (
        "Column pruning: ReadSchema omits events.props (wide JSON); the "
        "whole staging expression chain runs inside one WholeStageCodegen "
        "span over the scan."
    ),
    "tpch_q6_forecast_revenue": (
        "All three predicates reach the parquet scan as PushedFilters; "
        "the aggregate is a two-level partial/final over the pruned scan."
    ),
    "events_resample_hourly_ffill": (
        "The grid generate (Expand via explode(sequence)) never touches "
        "the fact table; the fill Window sorts only within event_type "
        "partitions — no global Sort node outside the final presentation "
        "OrderBy."
    ),
    "chunk_documents_cdc": (
        "Entirely map-side: one Generate (explode of the per-row chunk "
        "array) over one WholeStageCodegen projection span — NO Exchange "
        "anywhere in the plan; chunking parallelizes per input split."
    ),
    "knn_ivf_cosine": (
        "SERVING plan over the session-cached IVF index: the cell-assigned "
        "corpus is a localCheckpoint scan (Scan ExistingRDD — the argmax "
        "assignment ran ONCE at index build, as a BroadcastNestedLoopJoin "
        "+ partial/final max_by pair, and is not re-run per query); probes "
        "broadcast into it, the final top-k is the rank window over the "
        "probed subset only."
    ),
    "knn_sq8_cosine": (
        "Scalar-quantized compressed scan: the SQ8 code table is a cached "
        "index scan (8x smaller rows than raw vectors — the point of SQ8); "
        "queries broadcast (BroadcastNestedLoopJoin), scores are exact "
        "int64 code dots in the projection, top-k via rank window. Above "
        "BRUTE_MATMUL_MIN_PAIRS the scan switches to the per-partition "
        "GEMM kernel with distributive partial top-k (bit-identical)."
    ),
    "token_budget_pick": (
        "Greedy budget selection WITHOUT a corpus-wide sort: the only "
        "all-rows window is partitioned by score_permille (parallel); the "
        "global prefix offsets come from a <=1001-row score histogram "
        "whose window runs on the digest, broadcast back as a "
        "BroadcastHashJoin build side."
    ),
    "quality_repetition_rules": (
        "The dup-5-gram fraction computes inside the per-row projection "
        "(no shuffle); only the top-bigram mode aggregates, with "
        "partial/final HashAggregate pairs keyed by doc_id — map-side "
        "combine before both exchanges."
    ),
    "jdbc_roundtrip": (
        "The read side is a JDBC scan with numPartitions=4 range "
        "predicates on s_suppkey (4 parallel connections, not one serial "
        "pull); nation joins as an explicit BroadcastHashJoin so the "
        "JDBC probe side never shuffles."
    ),
    "zorder_events_box": (
        "The final scan reads the Z-ordered copy: the box predicate on "
        "(value_centi, user_id) appears in PushedFilters AND prunes at "
        "the file level because each file covers one Morton curve box "
        "(per-box directories, tests/test_layout.py)."
    ),
    "weighted_sample_topk": (
        "One window rank per language over the exponential sampling key "
        "— a single hash-partition exchange on lang, WindowGroupLimit "
        "pre-truncates to k rows per partition before the full Window "
        "sort materializes."
    ),
    "knn_ivfpq_adc": (
        "Composed IVFADC: the cell-assignment and code-encoding passes "
        "are map-side (Arrow matmul / literal argmin — no corpus "
        "shuffle), codes join their cell ids on vec_id, the Q·n_probe "
        "probe table broadcasts into the code scan (BroadcastHashJoin "
        "— at 100 TB the inverted lists are written partitionBy(cell_id) "
        "and this becomes partition pruning), and ADC scoring is an "
        "Arrow LUT MapInPandas (per-query M×NCENT distance tables, M "
        "int64 gathers per candidate) — the literal Catalyst lookup "
        "tree at M·NCENT=512 would cost ~14 s of fixed plan processing."
    ),
    "vocab_coverage_curve": (
        "One map-side-combined tf shuffle per n-gram order over the "
        "corpus; the rank window, the broadcast size grid, and the "
        "conditional sums all run on the AGGREGATED vocabulary "
        "(|vocab| << corpus) — the corpus is never shuffled on content."
    ),
    "dedup_apply_substring_removal": (
        "The rewrite stage stays JVM-side end-to-end: span detection is "
        "the shared fingerprint count + window merge, the per-doc span "
        "list is a bounded collect_list (n_tokens/window per doc), and "
        "the token cut is a nested higher-order-function projection "
        "(filter-over-exists) inside whole-stage codegen — no Python, "
        "no corpus-sized shuffle beyond the fingerprint groupBy."
    ),
    "ingest_file_log": (
        "Per-file ingest mechanics: each file's read is a narrow map "
        "stage (PERMISSIVE csv scan + native-expression transforms), "
        "row numbering is a per-file window (partitioned on the file "
        "hash literal, so files parallelize independently), and the "
        "audit join is a broadcast of the file-count-sized audit frame."
    ),
    "knn_pq_rerank": (
        "PQ shortlist-then-rerank: the ADC scan is an Arrow-batched "
        "MapInPandas over the 8-byte code table emitting only per-batch "
        "local top-(R+1) candidates (distributive partial top-m); the "
        "final exact window ranks #partitions·Q·(R+1) rows — never N·Q "
        "— and the full-vector rerank fetch joins only the Q·R "
        "shortlist rows, with the query vectors broadcast."
    ),
    "mixture_token_budget": (
        "One corpus-sized aggregation (partial/final HashAggregate on "
        "source), then the entire waterfilling state machine runs as "
        "THREE 1-row broadcast cross joins (BroadcastNestedLoopJoin "
        "over the |domains|-row table) — no collect, nothing leaves "
        "the JVM, integer division end-to-end."
    ),
    "dup_source_matrix": (
        "Both source lookups broadcast the pair-sized side "
        "(BroadcastHashJoin ×2): the corpus is scanned, never shuffled, "
        "for the rollup — the 30x probe dropped 15.7x → 4.2x when the "
        "shuffle joins were replaced by these broadcasts."
    ),
    "cms_frequency_check": (
        "Mergeable-sketch shuffle contract: the cell build is partial "
        "HashAggregate then final — each task emits at most depth×width "
        "rows regardless of corpus size — and the probe side broadcasts "
        "into the (tiny) cell table."
    ),
    "decontaminate_bloom_prefilter": (
        "The probe is a stateless map against a BROADCAST fixed-size "
        "bitset (BroadcastHashJoin on the packed-word key): the corpus "
        "gram stream never shuffles to meet the eval side; only the "
        "per-doc rollup exchanges, keyed by doc_id."
    ),
    "dsir_importance_weights": (
        "Both distributions come from ONE conditional-aggregation pass "
        "over the gram stream (partial/final HashAggregate on bucket); "
        "the fixed 8192-row weight table broadcasts back into a "
        "stateless per-gram map — the corpus never shuffles on content."
    ),
    "quality_rank_fusion": (
        "Percentile-rank fusion: the doc-sized bin table materializes "
        "ONCE (localCheckpoint feeds five consumers — count, two bin "
        "CDFs, the blend join), the ordered windows run only over the "
        "two bin tables (no data-sized sort), and rank lookup returns "
        "as two BroadcastHashJoins on bin id."
    ),
    "vocab_divergence_tvd": (
        "Single-exchange postings shape: tokens aggregate once by "
        "(term, source); vocabulary and totals re-aggregate FROM that "
        "table; per-source totals and the grand total come back as "
        "broadcasts — the corpus is never shuffled twice."
    ),
    "datacard_rollup": (
        "One Expand (3 grouping levels) feeding one hash aggregate with "
        "map-side partials — the exchange carries group rows, not data "
        "rows; no join, no window."
    ),
    "range_partition_audit": (
        "Sort-free range bounds: histogram aggregate (map-side "
        "combined), a bin-table-sized window for the CDF, then the "
        "(n_buckets-1) cut points return as a 1-row broadcast; bucket "
        "assignment is a stateless compare chain in the scan projection "
        "— no SinglePartition sort anywhere."
    ),
    "graph_triangle_count": (
        "Degree-ordered node-iterator: the canonical edge list "
        "localCheckpoints once and fans out to degree/orientation/"
        "wedge/closing-edge consumers; the wedge self-join probes the "
        "ORIENTED (fan-out-bounded) edges, and the closing-edge check "
        "is an equi-join back to the materialized list."
    ),
    "merge_error_intervals": (
        "Gaps-and-islands: one Exchange hashpartitioning(user_id), one "
        "partition-local Sort shared by the prefix-max and island-sum "
        "Windows, then a hash aggregate on (user, island) — no "
        "self-join, no global sort."
    ),
    "record_linkage_blocked": (
        "Sorted-neighborhood linkage: rank within block (partition-"
        "local sort), Generate explode into <= W probe ranks per "
        "record, equi-join on (block, rank) — pair count O(n*W) by "
        "construction, never a block-quadratic self-join (the naive "
        "form was probe-caught and replaced, SCALE.md)."
    ),
    "salted_event_type_stats": (
        "Skew-safe two-phase aggregate: partial HashAggregate on "
        "(event_type, __salt) spreads each hot key over 16 reducers, "
        "final HashAggregate recombines per key — both map-side "
        "combined; the plain GROUP BY oracle pins that the salt "
        "changed only the exchange topology."
    ),
    "hll_set_intersection": (
        "Sketch set algebra: user ids hash ONCE into per-type "
        "registers (groupBy max, partial-aggregated to <= groups x 64 "
        "rows per task); the union is a register max-merge and the "
        "intersection pure arithmetic on three 1-row digests — no "
        "user-id join anywhere in the plan."
    ),
    "mad_outlier_gate": (
        "Robust MAD gate, sort-free: both medians come from cumulative "
        "windows over the session-cached cents-CDF materialization "
        "(shared with trimmed_mean_events; r8) — exchanges are "
        "value-range bounded; the deviation table is re-derived from "
        "the grouped pairs, never from a second raw scan."
    ),
    "time_weighted_avg": (
        "LOCF integral: ONE lead window per event_type (partition-"
        "local sort) produces holding durations; the integral is a "
        "single map-side-combined aggregate of vm * hold_s — no "
        "self-join, no grid materialization."
    ),
    "events_ohlc_hourly": (
        "OHLC/M4 in ONE hash aggregate: open/close are min_by/max_by "
        "on a decimal-packed (ts, event_id) total order evaluated in "
        "the scan projection; partial aggregation shrinks each task to "
        "one candidate bar per (type, hour) before the exchange."
    ),
    "events_variant_props": (
        "Spark 4 VARIANT: one try_parse_json per row in the scan "
        "projection, typed variant_get reads from the binary open type "
        "— then a single map-side-combined aggregate; no string "
        "re-parse per path."
    ),
    "colbert_maxsim_topk": (
        "Late-interaction MaxSim (r8): broadcast query-token set, one "
        "corpus-token scan, micro-floored integer cosines, then the "
        "max -> sum reduction as two map-side-combined hash aggregates "
        "and a per-query top-k window. At fixture N·Q this is the "
        "Catalyst HOF form; above BRUTE_MATMUL_MIN_PAIRS the scoring "
        "flips to the per-partition GEMM kernel with in-batch reduceat "
        "pre-reduction (probe catch #7) — same downstream plan."
    ),
    "maxsim_pooled_rerank": (
        "The production late-interaction serve (r8): pooled integer "
        "vectors (one hash aggregate over token rows), a pooled-cosine "
        "shortlist window, then the exact MaxSim refine joins token "
        "tables ONLY for the Q·r shortlist (hash join on tdoc + "
        "broadcast query tokens) — token work Q·r·m², never Q·N·m."
    ),
    "knn_label_filtered": (
        "Filtered vector search (r8): the label predicate IS the join "
        "key — a BroadcastHashJoin on label scores only within-label "
        "pairs (no BroadcastNestedLoopJoin, no post-filter over an "
        "unfiltered candidate list), then the standard top-k window."
    ),
    "pmi_collocations": (
        "PMI collocations (r8): unigram and bigram count aggregates "
        "both map-side combined off one token scan; the two marginal "
        "joins broadcast the vocabulary-bounded unigram table; lift is "
        "exact DECIMAL(38) floor-division (log-free ordering); top-k "
        "via TakeOrderedAndProject."
    ),
    "corpus_dedup_curve": (
        "Corpus novelty curve (r8): one scan into (bucket, md5), two "
        "bounded hash aggregations (hash -> min bucket, bucket -> "
        "counts); the only SinglePartition exchange is the "
        "n_buckets-row cumulative window — bounded by the batch count, "
        "never the corpus."
    ),
    "quality_quantile_normalize": (
        "Per-source quantile calibration (r8): one exchange on source "
        "feeds BOTH the rank and count windows (same partitioning, one "
        "sort); percentile ppm and decile are exact integer "
        "expressions in the projection — no joins, no second shuffle."
    ),
    "doc_fingerprints_winnowing": (
        "Winnowing build (r10): the sliding w-window minimum runs "
        "INSIDE each document's token array (transform over positions, "
        "least() over bound-column reads; per-doc distinct is "
        "array_distinct), so the whole build is a shuffle-free "
        "projection chain — NO Exchange, NO Window, NO Join anywhere "
        "in the plan (pinned by test_plan_shape)."
    ),
    "dedup_winnowing_pair_index": (
        "MOSS pair-index build (r10): ONE groupBy(fp_hash) collects "
        "each fingerprint's sorted doc list off the checkpointed "
        "fingerprint artifact (the scan is an ExistingRDD), the "
        "size<=40 boilerplate prune filters that same aggregate, "
        "in-bucket i<j pairs are emitted array-side, and one count "
        "aggregate finishes — exactly two exchanges, zero joins."
    ),
    "dedup_incremental_winnowing": (
        "Delta-crawl probe (r10): the history-side df prune is a count "
        "window riding the SAME fp_hash exchange the increment-vs-"
        "history join consumes (subset-clustering satisfaction), the "
        "per-doc count lookups and the best-match digest are "
        "BroadcastHashJoins — per-crawl work is increment-proportional "
        "fan-out over df-bounded buckets, never a self-join."
    ),
    "quality_bigram_surprisal": (
        "Per-doc bigram-LM gate (r10): the persisted exploded-bigram "
        "table (InMemoryTableScan) feeds one map-side-combined "
        "groupBy(bg) model build; context counts are a window over the "
        "vocab-sized model keyed by the context token; the bits table "
        "BROADCASTS onto the bigram stream and the per-doc aggregate "
        "map-side-combines — the only corpus-sized exchange is the "
        "model build."
    ),
    "bm25_impact_topk": (
        "Impact-ordered static pruning (r10): per-posting q_tf=1 "
        "contributions off the cached postings (ExistingRDD scan + a "
        "1-row broadcast avgdl digest), ONE per-term top-m window — "
        "the index's own sort order, paid at build time at scale — "
        "then the same broadcast-query-side scoring join and top-k "
        "window as exact BM25, with per-term join work bounded at m."
    ),
    "semantic_dedup_keep": (
        "SemDeDup serve (r10): the session-cached cell index scans as "
        "an ExistingRDD, ONE exchange on cell_id feeds "
        "FlatMapGroupsInPandas (the per-cell exact-int64 GEMM kernel "
        "that also aggregates the keep rule cell-locally — dup edges "
        "never cross cells), and the survivor flags come back through "
        "a single vec_id join; no N^1.5 pairwise rows ever materialize "
        "in the plan."
    ),
    "corpus_refresh_report": (
        "Delta-crawl refresh (r11): the frozen history artifacts (hash "
        "set, pruned fingerprint index, per-doc counts, bigram bits) "
        "all scan as ExistingRDDs — the build-once/serve-many split — "
        "and every gate is an increment-proportional probe join into "
        "them: the exact gate a left join on md5, the near-dup gate an "
        "fp_hash equi-join + two count joins under the cost-based "
        "hint, the LM gate a vocab-bounded broadcast. The "
        "contamination side is pair-table-sized. No |history|-squared "
        "term, no self-join, anywhere."
    ),
    "quality_trigram_surprisal": (
        "Smoothed trigram LM (r11): the model tables (trigram counts, "
        "context totals, the 1-row vocab size) are all vocab-bounded "
        "aggregates of the HISTORY side, broadcast onto the scored "
        "side's trigram stream — BroadcastHashJoins plus a "
        "BroadcastNestedLoopJoin for the 1-row V — then one per-doc "
        "hash aggregate. The corpus is exchanged exactly once (the "
        "final groupBy(doc_id)); smoothing itself is pure projection "
        "arithmetic (bitlen(c12+V) - bitlen(c3+1)) inside codegen."
    ),
    "knn_ivfpq_residual": (
        "Residual IVFADC serve (r11): identical plan shape to "
        "knn_ivfpq_adc — cached residual codes scan as an ExistingRDD, "
        "the Q*n_probe probe table broadcasts into the code scan, ADC "
        "is one Arrow mapInPandas over 8-byte codes, then the "
        "per-query top-k window. Only the LUT contents differ (per-"
        "(query, probed cell) residuals); the candidate-side work and "
        "exchange count are unchanged."
    ),
    "knn_ivfpq_residual_rerank": (
        "IVFADC + refine (r11): the residual-ADC shortlist plan above "
        "feeds the shared exact-rerank stage — the Q*R shortlist joins "
        "the raw-vector table (corpus side) plus a broadcast of the "
        "query vectors, the exact quantized cosine is projection "
        "arithmetic inside codegen, and one per-query window takes "
        "top-k. The full-vector read is shortlist-bounded regardless "
        "of corpus size."
    ),
    "summary_overall": (
        "The report's overall summary (A8 + A10) over the written mart: "
        "scan -> partial ObjectHashAggregate -> ONE Exchange -> final "
        "ObjectHashAggregate (collect_set is an object aggregate). Its "
        "four distinct counts are set "
        "aggregates (size(collect_set(...)), functions.stats."
        "distinct_count), so there is no Expand and no second "
        "aggregation level with its own shuffle (pinned by "
        "test_mart_summaries_single_exchange)."
    ),
}


def section(spark, name: str) -> str:
    """One PLANS.md section: the showcase blurb, then the plan."""
    df = REGISTRY[name].spark(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # keep the operator tree + the scan details; trim long field lists
    lines = [
        ln[:120]
        for ln in plan.splitlines()
        if not ln.startswith("Arguments:") or "PushedFilters" in ln or "ReadSchema" in ln
    ]
    return (
        f"\n## {name}\n\n{SHOWCASE[name]}\n\n```\n" + "\n".join(lines) + "\n```\n"
    )


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "PLANS.md"
    spark = get_spark(app_name="plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    chunks = [
        "# PLANS — physical-plan showcase\n\n"
        "Regenerate with `python scripts/dump_plans.py`. Each section: the\n"
        "plan property the query is designed around (pinned by\n"
        "`tests/test_plan_shape.py` / `tests/test_tpch_extra.py` where\n"
        "noted), then `explain('formatted')` output at sf0.01.\n"
    ]
    chunks += [section(spark, name) for name in SHOWCASE]
    with open(out_path, "w") as f:
        f.write("".join(chunks))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
