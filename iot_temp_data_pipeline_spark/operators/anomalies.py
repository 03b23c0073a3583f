"""Intermediate model: z-score anomaly detection over deduplicated readings.

Re-expresses `dbt_transform/models/intermediate/int_temperature_anomalies.sql`
(whole model) Spark-first:

- W1 dedup: `row_number() over (partition by device_id, reading_timestamp
  order by _dlt_id desc)` then rn=1 (sql:10-25). One shuffle on the
  composite key; AQE skew-splitting covers hot devices at scale.
- A1-A4 stats: global / per-device / per-location / per-environment
  avg+stddev+count with HAVING thresholds 5/10/5 (sql:28-74). The
  reference scans its valid_readings CTE once per stats granularity;
  here ONE GROUPING SETS aggregation (Expand → partial+final hash agg)
  computes all four in a single pass over the cached input.
- J1-J4 joins: the stats sides are tiny after aggregation (≤ #devices /
  #locations / 3 rows / 1 row) → all four are explicit ``broadcast()``
  hash joins; the 100 TB probe side never shuffles for enrichment
  (sql:119-122).
- P12-P14: threshold flags + greatest-of-scores (sql:129-166).

Scale note (SURVEY.md §4.1): Postgres evaluates the `valid_readings` CTE
once; Spark would recompute its lineage for each of the 5 consumers.
``cache=True`` persists it — semantically load-bearing only for
nondeterministic inputs, but a 5× scan saving always.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exprs import z_score
from ..functions.stats import exact_avg, exact_stddev
from ..sources.catalog import local_table

ANOMALY_THRESHOLD = 3.0  # var('anomaly_threshold_multiplier'), dbt_project.yml:38


def deduplicated_valid_readings(stg: DataFrame) -> DataFrame:
    """W1 + validity filter (`int_temperature_anomalies.sql:10-25`)."""
    w = Window.partitionBy("device_id", "reading_timestamp").orderBy(
        F.col("_dlt_id").desc()
    )
    return (
        stg.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(
            (F.col("rn") == 1)
            & (F.col("is_valid_record") == True)  # noqa: E712
            & F.col("temperature_celsius").isNotNull()
        )
    )


def int_temperature_anomalies(
    stg: DataFrame | None,
    threshold: float = ANOMALY_THRESHOLD,
    cache: bool = True,
    vr: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """``vr``: a pre-materialized deduplicated-valid-readings table
    (``deduplicated_valid_readings_aggform`` output, e.g. a
    localCheckpoint the registry caches per version of sf_dir the way the
    mart table is). When given, the staging→dedup chain and the
    ``cache`` persist are skipped — the stats collect and the final
    enrichment both read the materialization directly, folding the
    flagship's persist job + stats job into one bounded aggregate over
    an already-built artifact (VERDICT r6 #1). At 100 TB this is the
    dbt shape exactly: `int_*` models read the materialized dedup
    TABLE, not a per-query re-derivation."""
    if stats is not None:
        return _enrich_with_stats(vr, stats, threshold)
    if vr is None:
        # W1 in max_by aggregation form, not the row_number window: same
        # rows (both forms share the registry oracle — dedup_valid_readings
        # pins the window form separately), but the aggregate's map-side
        # partial shrinks each partition to one candidate per key BEFORE
        # the exchange and needs no per-group sort — one fewer sort in the
        # flagship chain, and the skew-immune shape at 100 TB.
        vr = deduplicated_valid_readings_aggform(stg)
        if cache:
            vr = vr.persist()

    stats = anomaly_stats_digest(vr)
    return _enrich_with_stats(vr, stats, threshold)


def anomaly_stats_digest(vr: DataFrame) -> DataFrame:
    """A1-A4 in ONE pass, collected to a LocalRelation digest.

    The reference computes 4 stats CTEs as separate scans of
    valid_readings (sql:28-74); GROUPING SETS computes all four
    granularities in a single partial+final aggregation — at 100 TB
    that's 1 pass over the cached input instead of 4.
    grouping_id bit = 1 ⇔ that column is aggregated away, so with
    columns (device_id, location, environment_type):
      (device_id) → 0b011=3, (location) → 0b101=5,
      (environment_type) → 0b110=6, () global → 0b111=7.

    The four stat views all end up BROADCAST — which collects them to
    the driver anyway. Collecting the (tiny: ≤ #devices + #locations +
    #envs + 1 rows) aggregate ONCE and re-deriving the views from a
    LocalRelation (`local_table`) is the same driver footprint but removes four
    separate Spark jobs over vr's lineage; each BroadcastExchange then
    materializes from driver-local data with no job at all. The digest
    is a TABLE STATISTIC of the vr materialization (the ANALYZE
    analog), so the registry caches it alongside vr."""
    t = F.col("temperature_celsius")
    stats_dist = vr.groupingSets(
        [["device_id"], ["location"], ["environment_type"], []],
        "device_id",
        "location",
        "environment_type",
    ).agg(
        # Postgres stddev ≡ stddev_samp; computed from exact integer
        # sums for oracle bit-parity and numerical stability (stats.py)
        exact_avg(t).alias("mean_temp"),
        exact_stddev(t).alias("stddev_temp"),
        F.count("*").alias("reading_count"),
        F.min(t).alias("min_temp"),
        F.max(t).alias("max_temp"),
        F.grouping_id().alias("gid"),
    )
    spark = vr.sparkSession
    return local_table(spark, stats_dist.collect(), stats_dist.schema)


def _enrich_with_stats(
    vr: DataFrame, stats: DataFrame, threshold: float
) -> DataFrame:
    t = F.col("temperature_celsius")

    # The stats digest is a LocalRelation (anomaly_stats_digest), so its
    # rows are already driver-local — .collect() here starts no Spark
    # job. J1/J3/J4's build sides are MICRO-sized (1 global row, ~10
    # locations, <=3 environments): folding them into literal CASE/const
    # expressions removes three BroadcastExchanges that each cost a
    # fixed ~0.2-0.35 s of driver serialization per execution (measured
    # r7) while producing the identical columns a broadcast left join
    # would (unique keys => CASE lookup == left equi-join; the HAVING
    # thresholds become row filters). The device side (~#devices rows,
    # unbounded at scale) stays a real broadcast hash join — J2
    # (sql:119-122).
    rows = stats.collect()

    def dlit(v):
        return F.lit(None).cast("double") if v is None else F.lit(float(v))

    def lookup(sub_rows, key_col: str, field: str):
        # reversed CASE ladder: NULL key -> every equality is NULL ->
        # falls through to the NULL default, matching a left-join miss
        expr = F.lit(None).cast("double")
        for r in sub_rows:
            expr = F.when(
                F.col(key_col) == F.lit(r[key_col]), dlit(r[field])
            ).otherwise(expr)
        return expr

    # A1 global_stats (sql:28-34) — one row, pure literals. On an empty
    # valid-readings input the GROUPING SETS digest has zero rows (no
    # global row either); substitute NULL/zero literals so the enriched
    # frame stays empty cleanly, matching the join-based form.
    g = next((r for r in rows if r["gid"] == 7), None)
    if g is None:
        g = {"mean_temp": None, "stddev_temp": None, "reading_count": 0}

    # A3 location_stats + HAVING >= 10 (sql:51-61); the reference's
    # WHERE location IS NOT NULL pre-filter == dropping the NULL group
    loc_rows = [
        r
        for r in rows
        if r["gid"] == 5
        and r["location"] is not None
        and r["reading_count"] >= 10
    ]

    # A4 environment_stats + HAVING >= 5 (sql:64-74)
    env_rows = [
        r
        for r in rows
        if r["gid"] == 6
        and r["environment_type"] is not None
        and r["reading_count"] >= 5
    ]

    # A2 device_stats + HAVING >= 5 (sql:37-48) — J2, the one real join
    device_stats = stats.filter(
        (F.col("gid") == 3) & (F.col("reading_count") >= 5)
    ).select(
        "device_id",
        F.col("mean_temp").alias("device_mean_temp"),
        F.col("stddev_temp").alias("device_stddev_temp"),
        F.col("reading_count").alias("device_reading_count"),
    )

    enriched = vr.join(F.broadcast(device_stats), "device_id", "left").select(
        "*",
        dlit(g["mean_temp"]).alias("global_mean_temp"),
        dlit(g["stddev_temp"]).alias("global_stddev_temp"),
        F.lit(int(g["reading_count"])).cast("long").alias("total_readings"),
        lookup(loc_rows, "location", "mean_temp").alias("location_mean_temp"),
        lookup(loc_rows, "location", "stddev_temp").alias(
            "location_stddev_temp"
        ),
        lookup(env_rows, "environment_type", "mean_temp").alias(
            "environment_mean_temp"
        ),
        lookup(env_rows, "environment_type", "stddev_temp").alias(
            "environment_stddev_temp"
        ),
    )

    # P13 z-scores (sql:90-116) — note the asymmetric else-0 (global) vs
    # else-NULL (others), preserved exactly.
    gz = z_score(t, F.col("global_mean_temp"), F.col("global_stddev_temp"), else_null=False)
    dz = F.when(
        (F.col("device_stddev_temp") > 0) & (F.col("device_reading_count") >= 5),
        F.abs(t - F.col("device_mean_temp")) / F.col("device_stddev_temp"),
    )
    lz = z_score(t, F.col("location_mean_temp"), F.col("location_stddev_temp"))
    ez = z_score(t, F.col("environment_mean_temp"), F.col("environment_stddev_temp"))

    # P12 flags (sql:129-158) + P14 greatest-of-scores (sql:161-166).
    # ONE select, not a withColumn chain: 11 withColumns = 11 projection
    # nodes + 11 py4j round trips + 11 analyzer passes — measured ~0.3 s
    # of pure driver latency on the flagship. The flag expressions reuse
    # the z-score Column objects directly; Catalyst's common-subexpression
    # elimination evaluates each z-score once inside codegen.
    thr = F.lit(threshold)
    sub_thr = F.lit(threshold - 0.5)
    flag = lambda c, lim: F.when(c > lim, F.lit(True)).otherwise(F.lit(False))  # noqa: E731
    return enriched.select(
        "*",
        gz.alias("global_z_score"),
        dz.alias("device_z_score"),
        lz.alias("location_z_score"),
        ez.alias("environment_z_score"),
        flag(gz, thr).alias("is_global_anomaly"),
        flag(dz, sub_thr).alias("is_device_anomaly"),
        flag(lz, sub_thr).alias("is_location_anomaly"),
        flag(ez, sub_thr).alias("is_environment_anomaly"),
        (
            flag(gz, thr) | flag(dz, sub_thr) | flag(lz, sub_thr)
            | flag(ez, sub_thr)
        ).alias("is_anomaly"),
        F.greatest(
            F.coalesce(gz, F.lit(0.0)),
            F.coalesce(dz, F.lit(0.0)),
            F.coalesce(lz, F.lit(0.0)),
            F.coalesce(ez, F.lit(0.0)),
        ).alias("anomaly_score"),
    )


def deduplicated_valid_readings_aggform(stg: DataFrame) -> DataFrame:
    """W1 in aggregation form (the SURVEY §2.4 scale note made real):
    `max_by(struct(payload), _dlt_id)` per (device_id,
    reading_timestamp) replaces row_number + filter. Same semantics
    (_dlt_id is unique, so the winner is identical), different physical
    plan: partial+final aggregation (SortAggregate — struct max_by is
    an imperative aggregate) whose map-side partial shrinks each
    partition to ONE candidate per key BEFORE the exchange, where the
    window form must shuffle every duplicate row and sort whole groups.
    At 100 TB with hot keys that is the difference between a bounded
    shuffle and a skewed sort. rn is a literal 1 so both forms share
    the oracle (the registry checks them against the SAME DuckDB
    query)."""
    keys = ("device_id", "reading_timestamp")
    payload = [c for c in stg.columns if c not in keys]
    winner = stg.groupBy(*keys).agg(
        F.max_by(F.struct(*payload), F.col("_dlt_id")).alias("w")
    )
    flat = winner.select(
        *keys, *[F.col(f"w.{c}").alias(c) for c in payload]
    )
    return flat.filter(
        (F.col("is_valid_record") == True)  # noqa: E712
        & F.col("temperature_celsius").isNotNull()
    ).withColumn("rn", F.lit(1).cast("long"))
