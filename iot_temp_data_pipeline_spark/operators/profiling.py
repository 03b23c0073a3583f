"""Distribution profiling & cleaning operators (beyond-reference
surface): the dataset-health checks a large-scale training-data
pipeline runs between ingest and training — cohort drift detection,
percentile winsorization, and key-skew diagnostics.

All three stay in exact integer arithmetic (cents / ppm / permille) so
the DuckDB oracle reproduces every value bit-for-bit — the same
integer-rational discipline as the DSIR and HLL entries. All three are
built from grouped aggregations whose shuffle size is bounded by the
HISTOGRAM (distinct bins / distinct keys), never the row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stats import exact_long_sum

DRIFT_BIN_CENTS = 5_000  # $50 equi-width value bins
WINSOR_LO_PCT = 1
WINSOR_HI_PCT = 99
SKEW_TOPN = 10


# ---------------------------------------------------------- cohort drift

def value_drift_chi2(events: DataFrame, width: int = DRIFT_BIN_CENTS) -> DataFrame:
    """Two-cohort distribution-drift check per event type — the
    train/serve (or yesterday/today) drift gate run before a new data
    slice is admitted. Cohorts are the first and second halves of the
    time range (split at the midpoint of [min ts, max ts], a 1-row
    broadcast like the anomaly chain's global stats); each cohort's
    `value` distribution is binned into integer-cent equi-width bins
    and compared with a chi-square-style statistic on exact ppm shares:

        chi2_ppm = sum over bins of (s1 - s2)^2 div (s1 + s2),
        s_i = (o_i * 1e6) div n_i      (parts-per-million, floored)

    Shares are floored ppm integers, so the statistic is scale-bounded
    (no o1*n2 cross products that overflow int64 at 100 TB row counts)
    and bit-exact cross-engine. PSI's ln() term is deliberately avoided
    (libm — cross-engine risk); on ppm shares chi-square is the standard
    libm-free alternative and is monotone in the same drift direction.

    Plan shape: one scan → groupBy(event_type, cohort, bin) with
    map-side combine (shuffle rows capped at types x 2 x bins), cohort
    totals rolled up FROM the binned table (no second scan), bins
    full-outer-merged per type so a bin present in only one cohort
    still contributes its full (s1 - 0)^2 term.

    Output per event_type: (event_type, n_ref, n_cur, n_bins,
    chi2_ppm)."""
    mid = events.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").alias(
            "mid_us"
        )
    )
    cents = F.round(F.col("value") * 100).cast("long")
    binned = (
        events.crossJoin(F.broadcast(mid))
        .select(
            "event_type",
            F.when(F.unix_micros(F.col("ts")) < F.col("mid_us"), F.lit(0))
            .otherwise(F.lit(1))
            .alias("cohort"),
            (cents / width).cast("long").alias("bin"),
        )
        .groupBy("event_type", "cohort", "bin")
        .agg(F.count("*").alias("o"))
    )
    totals = binned.groupBy("event_type", "cohort").agg(
        F.sum("o").alias("n")
    )
    shares = (
        binned.join(totals, ["event_type", "cohort"])
        .select(
            "event_type",
            "bin",
            "cohort",
            F.expr("(o * 1000000) div n").alias("s"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("cohort") == 0, F.col("s")).otherwise(0)).alias("s1"),
            F.sum(F.when(F.col("cohort") == 1, F.col("s")).otherwise(0)).alias("s2"),
        )
        .filter(F.col("s1") + F.col("s2") > 0)
        .withColumn(
            "term", F.expr("((s1 - s2) * (s1 - s2)) div (s1 + s2)")
        )
    )
    wide_totals = totals.groupBy("event_type").agg(
        F.sum(F.when(F.col("cohort") == 0, F.col("n")).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("cohort") == 1, F.col("n")).otherwise(0)).alias("n_cur"),
    )
    return (
        shares.groupBy("event_type")
        .agg(
            F.count("*").alias("n_bins"),
            F.sum("term").alias("chi2_ppm"),
        )
        .join(F.broadcast(wide_totals), "event_type")
        .select("event_type", "n_ref", "n_cur", "n_bins", "chi2_ppm")
        .orderBy("event_type")
    )


def value_drift_chi2_sql(source: str = "events", width: int = DRIFT_BIN_CENTS) -> str:
    """DuckDB twin of :func:`value_drift_chi2`."""
    return f"""(
    WITH dr_mid AS (
        SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid_us
        FROM {source}
    ),
    dr_binned AS (
        SELECT event_type,
            CASE WHEN epoch_us(ts) < (SELECT mid_us FROM dr_mid)
                 THEN 0 ELSE 1 END AS cohort,
            CAST(ROUND(value * 100) AS BIGINT) // {width} AS bin,
            COUNT(*) AS o
        FROM {source}
        GROUP BY 1, 2, 3
    ),
    dr_totals AS (
        SELECT event_type, cohort, SUM(o) AS n FROM dr_binned GROUP BY 1, 2
    ),
    dr_shares AS (
        SELECT b.event_type, b.bin,
            SUM(CASE WHEN b.cohort = 0 THEN (b.o * 1000000) // t.n ELSE 0 END)
                AS s1,
            SUM(CASE WHEN b.cohort = 1 THEN (b.o * 1000000) // t.n ELSE 0 END)
                AS s2
        FROM dr_binned b JOIN dr_totals t
            ON b.event_type = t.event_type AND b.cohort = t.cohort
        GROUP BY 1, 2
    ),
    dr_terms AS (
        SELECT event_type, ((s1 - s2) * (s1 - s2)) // (s1 + s2) AS term
        FROM dr_shares WHERE s1 + s2 > 0
    ),
    dr_wide AS (
        SELECT event_type,
            SUM(CASE WHEN cohort = 0 THEN n ELSE 0 END) AS n_ref,
            SUM(CASE WHEN cohort = 1 THEN n ELSE 0 END) AS n_cur
        FROM dr_totals GROUP BY 1
    )
    SELECT t.event_type, w.n_ref, w.n_cur,
        COUNT(*) AS n_bins, SUM(t.term) AS chi2_ppm
    FROM dr_terms t JOIN dr_wide w USING (event_type)
    GROUP BY t.event_type, w.n_ref, w.n_cur
    ORDER BY t.event_type
) dr"""


# --------------------------------------------------------- winsorization

def winsorize_values(
    events: DataFrame, lo_pct: int = WINSOR_LO_PCT, hi_pct: int = WINSOR_HI_PCT
) -> DataFrame:
    """Percentile winsorization (outlier clipping) of `value` per event
    type — the tail-clamping cleanup a feature/reward pipeline applies
    before normalization. Cut points are EXACT percentiles on integer
    cents with the deterministic lower-value rule (smallest cents whose
    running count reaches ceil(p·n/100)) — the histogram-quantile
    entry's rule applied to the exact value CDF.

    Plan shape: one scan → groupBy(event_type, cents) with map-side
    combine (shuffle capped at types x distinct cents — value-range
    bounded, not row bounded), per-type cumulative window over that
    grouped table, threshold rows broadcast back onto the grouped table
    (NOT the raw rows — clip totals are computed from (cents, cnt)
    pairs, so the raw scan is never re-shuffled).

    Output per event_type: (event_type, n, lo_cents, hi_cents,
    clipped_lo, clipped_hi, sum_cents_winsorized)."""
    cents_tab = (
        events.select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = cents_tab.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    cuts = (
        cdf.select(
            "event_type",
            "cents",
            "cum",
            "n",
            F.explode(
                F.array(F.lit(int(lo_pct)), F.lit(int(hi_pct)))
            ).alias("p"),
        )
        .filter(F.col("cum") >= F.expr("(n * p + 99) div 100"))
        .groupBy("event_type", "n")
        .agg(
            F.min(F.when(F.col("p") == lo_pct, F.col("cents"))).alias("lo_cents"),
            F.min(F.when(F.col("p") == hi_pct, F.col("cents"))).alias("hi_cents"),
        )
    )
    clipped = F.greatest(
        F.col("lo_cents"), F.least(F.col("hi_cents"), F.col("cents"))
    )
    return (
        cents_tab.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "n", "lo_cents", "hi_cents")
        .agg(
            F.sum(F.when(F.col("cents") < F.col("lo_cents"), F.col("cnt")).otherwise(0))
            .alias("clipped_lo"),
            F.sum(F.when(F.col("cents") > F.col("hi_cents"), F.col("cnt")).otherwise(0))
            .alias("clipped_hi"),
            exact_long_sum(clipped * F.col("cnt")).alias("sum_cents_winsorized"),
        )
        .select(
            "event_type",
            "n",
            "lo_cents",
            "hi_cents",
            "clipped_lo",
            "clipped_hi",
            "sum_cents_winsorized",
        )
        .orderBy("event_type")
    )


def winsorize_values_sql(
    source: str = "events", lo_pct: int = WINSOR_LO_PCT, hi_pct: int = WINSOR_HI_PCT
) -> str:
    """DuckDB twin of :func:`winsorize_values`."""
    return f"""(
    WITH wz_tab AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
            COUNT(*) AS cnt
        FROM {source} GROUP BY 1, 2
    ),
    wz_cdf AS (
        SELECT event_type, cents, cnt,
            SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM wz_tab
    ),
    wz_cuts AS (
        SELECT event_type, n,
            MIN(CASE WHEN p = {lo_pct} THEN cents END) AS lo_cents,
            MIN(CASE WHEN p = {hi_pct} THEN cents END) AS hi_cents
        FROM (SELECT *, unnest([{lo_pct}, {hi_pct}]) AS p FROM wz_cdf) e
        WHERE cum >= (n * p + 99) // 100
        GROUP BY 1, 2
    )
    SELECT t.event_type, c.n, c.lo_cents, c.hi_cents,
        SUM(CASE WHEN t.cents < c.lo_cents THEN t.cnt ELSE 0 END)
            AS clipped_lo,
        SUM(CASE WHEN t.cents > c.hi_cents THEN t.cnt ELSE 0 END)
            AS clipped_hi,
        SUM(GREATEST(c.lo_cents, LEAST(c.hi_cents, t.cents)) * t.cnt)
            AS sum_cents_winsorized
    FROM wz_tab t JOIN wz_cuts c USING (event_type)
    GROUP BY 1, 2, 3, 4
    ORDER BY 1
) wz"""


# ----------------------------------------------------- key-skew profile

def key_skew_diagnostics(events: DataFrame, topn: int = SKEW_TOPN) -> DataFrame:
    """Shuffle-key skew profile per event type over the join/agg key
    (user_id) — the diagnostic run BEFORE picking a partitioning
    strategy (SKEW.md's decision input): a key whose top-1 share is
    hundreds of permille needs salting / AQE skew splitting; a flat
    profile can hash-partition as-is.

    Plan shape: one scan → groupBy(event_type, user_id) with map-side
    combine (shuffle capped at types x distinct keys), then ALL
    diagnostics — row/key counts, hottest-key size, top-1/top-n
    permille concentrations — come from one ranking window over that
    grouped (types x keys)-row table; raw rows are never re-shuffled.
    Ties broken by key id for a deterministic top-n.

    Output per event_type: (event_type, n_rows, n_keys, max_key_rows,
    top1_permille, topn_permille)."""
    per_key = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("k_rows")
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("k_rows").desc(), F.col("user_id")
    )
    ranked = per_key.withColumn("rnk", F.row_number().over(w_rank))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.sum("k_rows").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max("k_rows").alias("max_key_rows"),
            F.sum(F.when(F.col("rnk") == 1, F.col("k_rows")).otherwise(0)).alias(
                "top1_rows"
            ),
            F.sum(F.when(F.col("rnk") <= topn, F.col("k_rows")).otherwise(0)).alias(
                "topn_rows"
            ),
        )
        .select(
            "event_type",
            "n_rows",
            "n_keys",
            "max_key_rows",
            F.expr("(top1_rows * 1000) div n_rows").alias("top1_permille"),
            F.expr("(topn_rows * 1000) div n_rows").alias("topn_permille"),
        )
        .orderBy("event_type")
    )


def key_skew_diagnostics_sql(source: str = "events", topn: int = SKEW_TOPN) -> str:
    """DuckDB twin of :func:`key_skew_diagnostics`."""
    return f"""(
    WITH sk_key AS (
        SELECT event_type, user_id, COUNT(*) AS k_rows
        FROM {source} GROUP BY 1, 2
    ),
    sk_rank AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY k_rows DESC, user_id) AS rnk
        FROM sk_key
    )
    SELECT event_type,
        SUM(k_rows) AS n_rows,
        COUNT(*) AS n_keys,
        MAX(k_rows) AS max_key_rows,
        (SUM(CASE WHEN rnk = 1 THEN k_rows ELSE 0 END) * 1000)
            // SUM(k_rows) AS top1_permille,
        (SUM(CASE WHEN rnk <= {topn} THEN k_rows ELSE 0 END) * 1000)
            // SUM(k_rows) AS topn_permille
    FROM sk_rank
    GROUP BY event_type
    ORDER BY event_type
) sk"""


# ------------------------------------------- embedding centroid drift

EMB_DRIFT_DIM = 64  # fixture embedding dimensionality


def embedding_drift(emb: DataFrame) -> DataFrame:
    """Per-label embedding-space drift monitor — the vector-side
    sibling of :func:`value_drift_chi2` (run when the embedding model
    is updated or a new data slice lands: did each label's centroid
    move?). Cohorts are the first and second halves by vec_id; each
    cohort's per-label centroid is the integer-truncated mean of the
    quantized vectors (sum div count per dimension — exact in both
    engines), and the reported drift is the squared L2 distance
    between the two centroid vectors in quantized units² (integer).

    One scan → one groupBy(label, cohort) with 64 map-side-combined
    component sums → a label-sized self-join of the two cohort rows.
    The shuffle carries |labels|·2 rows of 64 longs regardless of
    corpus size. Quantized means are ~1e6-scale, so the 64-term sum of
    squared diffs stays far inside int64."""
    from .similarity import quantize

    half = emb.agg(
        F.expr("div(min(vec_id) + max(vec_id), 2)").alias("mid")
    )
    q = (
        emb.crossJoin(F.broadcast(half))
        .select(
            "label",
            F.when(F.col("vec_id") <= F.col("mid"), "first")
            .otherwise("second")
            .alias("cohort"),
            quantize(F.col("embedding")).alias("qx"),
        )
    )
    sums = q.groupBy("label", "cohort").agg(
        F.count("*").alias("c"),
        *[
            F.sum(F.element_at("qx", i + 1)).alias(f"s{i}")
            for i in range(EMB_DRIFT_DIM)
        ],
    )
    mean_cols = [
        F.expr(f"div(s{i}, c)").alias(f"m{i}") for i in range(EMB_DRIFT_DIM)
    ]
    m = sums.select("label", "cohort", F.col("c"), *mean_cols)
    a = m.filter(F.col("cohort") == "first").alias("a")
    b = m.filter(F.col("cohort") == "second").alias("b")
    d2 = None
    for i in range(EMB_DRIFT_DIM):
        t = (F.col(f"a.m{i}") - F.col(f"b.m{i}")) * (
            F.col(f"a.m{i}") - F.col(f"b.m{i}")
        )
        d2 = t if d2 is None else d2 + t
    return (
        a.join(b, F.col("a.label") == F.col("b.label"))
        .select(
            F.col("a.label").alias("label"),
            F.col("a.c").alias("n_first"),
            F.col("b.c").alias("n_second"),
            d2.alias("drift_q2"),
        )
        .orderBy("label")
    )


def embedding_drift_sql(source: str = "embeddings") -> str:
    dim = EMB_DRIFT_DIM
    sum_cols = ",\n            ".join(
        f"SUM(qx[{i + 1}]) AS s{i}" for i in range(dim)
    )
    mean_cols = ",\n            ".join(
        f"s{i} // c AS m{i}" for i in range(dim)
    )
    d2 = " + ".join(f"(a.m{i} - b.m{i}) * (a.m{i} - b.m{i})" for i in range(dim))
    return f"""(
    WITH ehalf AS (
        SELECT (MIN(vec_id) + MAX(vec_id)) // 2 AS mid FROM {source}
    ),
    eq AS (
        SELECT label,
            CASE WHEN vec_id <= (SELECT mid FROM ehalf)
                 THEN 'first' ELSE 'second' END AS cohort,
            list_transform(CAST(embedding AS DOUBLE[]),
                           x -> CAST(ROUND(x * 1000000) AS BIGINT)) AS qx
        FROM {source}
    ),
    esums AS (
        SELECT label, cohort, COUNT(*) AS c,
            {sum_cols}
        FROM eq GROUP BY label, cohort
    ),
    emeans AS (
        SELECT label, cohort, c,
            {mean_cols}
        FROM esums
    )
    SELECT a.label, a.c AS n_first, b.c AS n_second,
        {d2} AS drift_q2
    FROM emeans a JOIN emeans b
        ON a.label = b.label AND a.cohort = 'first' AND b.cohort = 'second'
    ORDER BY a.label
) ed"""


# ---------------------------------------------- MAD robust outlier gate

MAD_K_X10000 = 44478  # 3 * 1.4826 (normal-consistency constant), fixed-point


TRIM_PCT = 10  # 10% trimmed from EACH tail


def _cents_tab_of(events: DataFrame) -> DataFrame:
    """(event_type, cents, cnt): the grouped integer-cents histogram
    every robust-statistics consumer starts from. Map-side combine
    shrinks the exchange to #types × #distinct cents — value-range
    bounded, never row bounded."""
    return (
        events.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("cnt"))
    )


def _cdf_from_cents_tab(cents_tab: DataFrame) -> DataFrame:
    """Adds the per-type total ``n`` and the cents-ordered running count
    ``cum`` — one event_type exchange, one sort, two window nodes over
    the same partitioning."""
    w_type = Window.partitionBy("event_type")
    w_cum = w_type.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    return cents_tab.select(
        "*",
        F.sum("cnt").over(w_type).alias("n"),
        F.sum("cnt").over(w_cum).alias("cum"),
    )


def events_cents_cdf(spark, sf_dir: str) -> DataFrame:
    """The shared cents-CDF table statistic (event_type, cents, cnt, n,
    cum) of events.value, built ONCE per version of sf_dir and
    localCheckpoint'ed — the artifact the robust-statistics family
    (median/MAD, trimmed mean, winsorization) reads instead of each
    re-scanning and re-grouping the raw events (VERDICT r7 #1). Exact
    function of the value multiset, so cold and warm caches agree and
    the from-scratch DuckDB oracles still hash-match. At 100 TB this is
    a written per-partition summary table refreshed alongside the data
    (the ANALYZE analog, same lifecycle as the anomaly stats digest and
    the near-dup pair table); `winsorize_values` deliberately bypasses
    it so the build path stays measured in the bench."""
    from ..sources.catalog import get_or_build, load_table

    return get_or_build(
        spark, "cents_cdf", sf_dir,
        lambda: _cdf_from_cents_tab(
            _cents_tab_of(load_table(spark, sf_dir, "events"))
        ).localCheckpoint(eager=True),
    )


def trimmed_mean_events(events: DataFrame, trim_pct: int = TRIM_PCT) -> DataFrame:
    """Exact per-type trimmed mean — the robust location estimate
    between the mean (0% trim) and the median (50% trim) that reward /
    metric pipelines use when MAD is too blunt. Drops the k = n·p/100
    smallest and largest observations per event_type and averages the
    rest, EXACTLY, without ever sorting rows:

    the (type, cents)-grouped table's cumulative window gives each
    distinct value its rank interval [cum−cnt, cum); the trimmed window
    is (k, n−k]; a value contributes overlap = max(0, min(cum, n−k) −
    max(cum−cnt, k)) copies. All integers — trimmed_n ≡ n−2k by
    construction, and the mean is an exact integer milli-cents
    division, so both engines agree bit-for-bit. Same sort-free
    cdf-window machinery as winsorize_values / mad_outlier_gate: one
    scan, one value-range-bounded grouping exchange, one window
    exchange, one 5-group aggregate — no checkpoints or broadcasts
    (single-job plan; a materialization here costs more than the work
    it saves, measured r7).

    Output per event_type: (event_type, n, trim_k, trimmed_n,
    trimmed_sum_cents, trimmed_mean_millicents)."""
    return trimmed_mean_from_cdf(
        _cdf_from_cents_tab(_cents_tab_of(events)), trim_pct
    )


def trimmed_mean_from_cdf(
    cdf: DataFrame, trim_pct: int = TRIM_PCT
) -> DataFrame:
    """Trimmed mean from a pre-built cents-CDF (``events_cents_cdf``) —
    the serve path: one small aggregate over the bounded materialized
    statistic, no raw-events scan."""
    if not 0 <= trim_pct < 50:
        # at >= 50 the trimmed window (k, n-k] is empty and the mean
        # division would hit 0 (an ANSI-mode error); the median is the
        # 50% limit — use mad_outlier_gate's median machinery instead
        raise ValueError(f"trim_pct must be in [0, 50), got {trim_pct}")
    k = F.expr(f"div(n * {int(trim_pct)}, 100)")
    overlap = F.greatest(
        F.least(F.col("cum"), F.col("n") - k)
        - F.greatest(F.col("cum") - F.col("cnt"), k),
        F.lit(0).cast("long"),
    )
    return (
        cdf.select("event_type", "n", "cents", overlap.alias("ov"))
        .groupBy("event_type", "n")
        .agg(
            F.sum("ov").alias("trimmed_n"),
            F.sum(F.col("cents") * F.col("ov")).alias("trimmed_sum_cents"),
        )
        .select(
            "event_type",
            "n",
            F.expr(f"div(n * {int(trim_pct)}, 100)").alias("trim_k"),
            "trimmed_n",
            "trimmed_sum_cents",
            F.expr("div(1000 * trimmed_sum_cents, trimmed_n)").alias(
                "trimmed_mean_millicents"
            ),
        )
        # no output orderBy — same rationale as mad_outlier_gate
    )


def trimmed_mean_events_sql(source: str = "events", trim_pct: int = TRIM_PCT) -> str:
    return f"""(
    WITH tm_tab AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
            COUNT(*) AS cnt
        FROM {source} GROUP BY 1, 2
    ),
    tm_cdf AS (
        SELECT event_type, cents, cnt,
            SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM tm_tab
    ),
    tm_ov AS (
        SELECT event_type, n, cents,
            GREATEST(LEAST(cum, n - (n * {trim_pct}) // 100)
                     - GREATEST(cum - cnt, (n * {trim_pct}) // 100), 0) AS ov
        FROM tm_cdf
    )
    SELECT event_type, n, (n * {trim_pct}) // 100 AS trim_k,
        SUM(ov) AS trimmed_n,
        SUM(cents * ov) AS trimmed_sum_cents,
        (1000 * SUM(cents * ov)) // SUM(ov) AS trimmed_mean_millicents
    FROM tm_ov
    GROUP BY 1, 2
    ORDER BY event_type
) tme"""


def mad_outlier_gate(events: DataFrame) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    heavy-tail-safe companion to the z-score anomaly chain (mean/stddev
    are themselves dragged by the outliers they're meant to catch; the
    median and MAD have a 50% breakdown point). Modified z-score rule:
    flag |x − median| > 3·1.4826·MAD, with the constant in exact
    fixed-point so both engines draw the identical boundary.

    ONE-JOB plan (r7 rework — the r6 broadcast/CTE form paid ~7
    exchange/broadcast legs of fixed cost): after the (type, cents)
    grouping, EVERYTHING runs inside one event_type partitioning —
    median from the cents-ordered cumulative window, deviations
    per-row against the windowed median, MAD from a dev-ordered
    cumulative window over the SAME partitioning (a re-sort, not a
    re-shuffle), and the flag count as one final 5-group aggregate.
    Three exchanges, zero broadcast sides, zero checkpoints.

    Windowed-median equivalence with the oracle's grouped form: the
    grouped cumulative count at value v equals the ungrouped cumulative
    at the LAST row of v, so "min value whose 2·cum ≥ n" picks the
    same value either way (mid-tie rows that fail the test belong to
    the same value that eventually passes it).

    Output per event_type: (event_type, n, median_cents, mad_cents,
    n_outliers, outlier_permille)."""
    return mad_from_cents_tab(_cents_tab_of(events))


def mad_from_cents_tab(cents_tab: DataFrame) -> DataFrame:
    """MAD report from a pre-grouped (event_type, cents, cnt) table —
    the mergeable-partial entry point (bin counts are a pure function
    of the value multiset, so summed micro-batch partials feed this
    identically to the batch grouping; `streaming_mad_partials`)."""
    return mad_from_cdf(_cdf_from_cents_tab(cents_tab))


def mad_from_cdf(cdf: DataFrame) -> DataFrame:
    """MAD report from a pre-built cents-CDF (``events_cents_cdf``) —
    the serve path: the median falls out of the materialized cum/n
    columns with no extra exchange; only the deviation re-sort and the
    final 5-group aggregate remain."""
    w_type = Window.partitionBy("event_type")
    with_med = cdf.select(
        "*",
        F.min(
            F.when(2 * F.col("cum") >= F.col("n"), F.col("cents"))
        ).over(w_type).alias("median_cents"),
    )
    with_dev = with_med.select(
        "event_type",
        "cents",
        "cnt",
        "n",
        "median_cents",
        F.abs(F.col("cents") - F.col("median_cents")).alias("dev"),
    )
    w_dev = w_type.orderBy("dev").rowsBetween(Window.unboundedPreceding, 0)
    with_mad = with_dev.select(
        "*", F.sum("cnt").over(w_dev).alias("cum_dev")
    ).select(
        "*",
        F.min(
            F.when(2 * F.col("cum_dev") >= F.col("n"), F.col("dev"))
        ).over(w_type).alias("mad_cents"),
    )
    return (
        with_mad.groupBy("event_type", "n", "median_cents", "mad_cents")
        .agg(
            F.sum(
                F.when(
                    F.col("dev") * 10000 > MAD_K_X10000 * F.col("mad_cents"),
                    F.col("cnt"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("n_outliers")
        )
        .select(
            "event_type",
            "n",
            "median_cents",
            "mad_cents",
            "n_outliers",
            F.expr("div(1000 * n_outliers, n)").alias("outlier_permille"),
        )
        # no output orderBy: correctness compares are order-insensitive
        # (plans/extensions.py cluster-sort precedent) and a range
        # partitioning here costs a full sampling pass for cosmetics
    )


def mad_outlier_gate_sql(source: str = "events") -> str:
    return f"""(
    WITH mad_tab AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
            COUNT(*) AS cnt
        FROM {source} GROUP BY 1, 2
    ),
    mad_cdf AS (
        SELECT event_type, cents, cnt,
            SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM mad_tab
    ),
    mad_med AS (
        SELECT event_type, n, MIN(cents) AS median_cents
        FROM mad_cdf WHERE 2 * cum >= n GROUP BY 1, 2
    ),
    mad_dev AS (
        SELECT t.event_type, m.n, ABS(t.cents - m.median_cents) AS dev,
            SUM(t.cnt) AS cnt
        FROM mad_tab t JOIN mad_med m USING (event_type)
        GROUP BY 1, 2, 3
    ),
    mad_val AS (
        SELECT event_type, MIN(dev) AS mad_cents FROM (
            SELECT event_type, dev, n,
                SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM mad_dev
        ) WHERE 2 * cum >= n GROUP BY 1
    )
    SELECT t.event_type, m.n, m.median_cents, v.mad_cents,
        SUM(CASE WHEN ABS(t.cents - m.median_cents) * 10000
                      > {MAD_K_X10000} * v.mad_cents
                 THEN t.cnt ELSE 0 END) AS n_outliers,
        (1000 * SUM(CASE WHEN ABS(t.cents - m.median_cents) * 10000
                              > {MAD_K_X10000} * v.mad_cents
                         THEN t.cnt ELSE 0 END)) // m.n AS outlier_permille
    FROM mad_tab t
    JOIN mad_med m USING (event_type)
    JOIN mad_val v USING (event_type)
    GROUP BY 1, 2, 3, 4
    ORDER BY event_type
) mog"""
