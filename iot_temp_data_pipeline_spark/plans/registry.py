"""Named query registry: every entry pairs a Spark callable
``(spark, sf_dir) -> DataFrame`` with a DuckDB oracle SQL string.

A shared column-spec layer shapes BOTH sides, so column names, order,
types, and float rounding are identical by construction (the driver's
compare sorts columns by name and hashes values — see
`__spark_entry__.py` contract):

  kind ""      pass through unchanged
  kind "f4"    cast double + ROUND(…, 4)  — float aggregates whose last
               ~4 bits may differ between engines (summation order)
  kind "f2"    cast double + ROUND(…, 2)  — large money-style sums
  kind "long"  cast BIGINT  — DuckDB SUM(int)=HUGEINT, Spark hour()=int,
               both normalized to 64-bit
  kind "str"   cast VARCHAR — dates (pandas dtype drift) and similar
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.anomalies import (
    anomaly_stats_digest,
    deduplicated_valid_readings,
    deduplicated_valid_readings_aggform,
    int_temperature_anomalies,
)
from ..operators.marts import (
    anomaly_analysis,
    device_level_stats,
    load_level_stats,
    location_level_stats,
    mart_temperature_readings,
    overall_stats,
    pipeline_run_report,
    pipeline_summary,
    write_mart,
)
from ..checks import check_violations, check_violations_sql
from ..operators.staging import stg_raw_temperature_readings
from ..sources.readings import raw_readings
from ..functions.stats import sql_exact_avg, sql_exact_stddev
from .oracles import oracle_prelude

_T_AVG = sql_exact_avg("temperature_celsius")
_T_STD = sql_exact_stddev("temperature_celsius")
_Q_AVG = sql_exact_avg("data_quality_score", 10)

ColSpec = list[tuple[str, str]]


@dataclass(frozen=True)
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check


def shape(df: DataFrame, spec: ColSpec) -> DataFrame:
    # selectExpr with pre-rendered strings, not per-column Column
    # objects: a 30-column spec as F.col().cast().alias() chains costs
    # ~120 py4j round trips (~0.1 s of driver latency PER QUERY BUILD);
    # one selectExpr call parses everything JVM-side. Same expressions
    # after parsing (round/cast are the SQL functions F.round/F.cast
    # resolve to), so oracle parity is unchanged.
    exprs = []
    for name, kind in spec:
        q = f"`{name}`"
        if kind == "f4":
            exprs.append(f"round(CAST({q} AS DOUBLE), 4) AS {q}")
        elif kind == "f2":
            exprs.append(f"round(CAST({q} AS DOUBLE), 2) AS {q}")
        elif kind == "long":
            exprs.append(f"CAST({q} AS BIGINT) AS {q}")
        elif kind == "str":
            exprs.append(f"CAST({q} AS STRING) AS {q}")
        else:
            exprs.append(q)
    return df.selectExpr(*exprs)


def sql_select(spec: ColSpec, from_clause: str, tail: str = "") -> str:
    parts = []
    for name, kind in spec:
        if kind == "f4":
            parts.append(f"ROUND(CAST({name} AS DOUBLE), 4) AS {name}")
        elif kind == "f2":
            parts.append(f"ROUND(CAST({name} AS DOUBLE), 2) AS {name}")
        elif kind == "long":
            parts.append(f"CAST({name} AS BIGINT) AS {name}")
        elif kind == "str":
            parts.append(f"CAST({name} AS VARCHAR) AS {name}")
        else:
            parts.append(name)
    return f"SELECT {', '.join(parts)} FROM {from_clause} {tail}"


# ---------------------------------------------------------------- column specs

STAGING_SPEC: ColSpec = [
    ("record_id", ""),
    ("device_id", ""),
    ("reading_timestamp", ""),
    ("temperature_celsius", ""),
    ("location", ""),
    ("environment_type", ""),
    ("_dlt_load_id", ""),
    ("_dlt_id", ""),
    ("is_valid_record", ""),
    ("data_quality_score", ""),
]

VALID_SPEC: ColSpec = STAGING_SPEC + [("rn", "long")]

ANOM_SPEC: ColSpec = VALID_SPEC + [
    ("global_mean_temp", "f4"),
    ("global_stddev_temp", "f4"),
    ("device_mean_temp", "f4"),
    ("device_stddev_temp", "f4"),
    ("device_reading_count", "long"),
    ("location_mean_temp", "f4"),
    ("location_stddev_temp", "f4"),
    ("environment_mean_temp", "f4"),
    ("environment_stddev_temp", "f4"),
    ("global_z_score", "f4"),
    ("device_z_score", "f4"),
    ("location_z_score", "f4"),
    ("environment_z_score", "f4"),
    ("is_global_anomaly", ""),
    ("is_device_anomaly", ""),
    ("is_location_anomaly", ""),
    ("is_environment_anomaly", ""),
    ("is_anomaly", ""),
    ("anomaly_score", "f4"),
]

MART_SPEC: ColSpec = ANOM_SPEC + [
    ("temperature_category", ""),
    ("reading_hour", "long"),
    ("reading_day_of_week", "long"),
    ("reading_date", "str"),
    ("reading_month", "long"),
    ("reading_year", "long"),
    ("environment_condition", ""),
    ("data_freshness", ""),
]

SUMMARY_BY_LOAD_SPEC: ColSpec = [
    ("_dlt_load_id", ""),
    ("total_records", "long"),
    ("valid_records", "long"),
    ("invalid_records", "long"),
    ("anomaly_records", "long"),
    ("avg_data_quality_score", "f4"),
    ("min_data_quality_score", "f4"),
    ("max_data_quality_score", "f4"),
    ("unique_devices", "long"),
    ("unique_locations", "long"),
    ("unique_environments", "long"),
    ("earliest_reading", ""),
    ("latest_reading", ""),
]

SUMMARY_BY_DEVICE_SPEC: ColSpec = [
    ("device_id", ""),
    ("total_readings", "long"),
    ("anomaly_count", "long"),
    ("avg_temperature", "f4"),
    ("min_temperature", "f4"),
    ("max_temperature", "f4"),
    ("temperature_stddev", "f4"),
    ("avg_quality_score", "f4"),
    ("first_reading", ""),
    ("last_reading", ""),
    ("reading_span_hours", "f4"),
    ("active_days", "long"),
    ("locations_visited", "long"),
    ("environments_recorded", "long"),
]

SUMMARY_BY_LOCATION_SPEC: ColSpec = [
    ("location", ""),
    ("environment_type", ""),
    ("total_readings", "long"),
    ("unique_devices", "long"),
    ("avg_temperature", "f4"),
    ("min_temperature", "f4"),
    ("max_temperature", "f4"),
    ("temperature_stddev", "f4"),
    ("anomaly_count", "long"),
    ("avg_quality_score", "f4"),
]

SUMMARY_OVERALL_SPEC: ColSpec = [
    ("total_processed_records", "long"),
    ("total_valid_records", "long"),
    ("total_invalid_records", "long"),
    ("total_anomalies", "long"),
    ("global_avg_temperature", "f4"),
    ("global_min_temperature", "f4"),
    ("global_max_temperature", "f4"),
    ("global_temperature_stddev", "f4"),
    ("global_avg_quality_score", "f4"),
    ("global_min_quality_score", "f4"),
    ("global_max_quality_score", "f4"),
    ("total_unique_devices", "long"),
    ("total_unique_locations", "long"),
    ("total_environment_types", "long"),
    ("total_load_batches", "long"),
    ("earliest_reading_timestamp", ""),
    ("latest_reading_timestamp", ""),
    ("data_span_days", "f4"),
    ("indoor_readings", "long"),
    ("outdoor_readings", "long"),
    ("unknown_environment_readings", "long"),
    ("valid_record_percentage", "f4"),
    ("anomaly_percentage", "f4"),
    ("indoor_percentage", "f4"),
    ("outdoor_percentage", "f4"),
]

ANOMALY_BREAKDOWN_SPEC: ColSpec = [
    ("anomaly_type", ""),
    ("anomaly_count", "long"),
    ("avg_z_score", "f4"),
]

OPS_ANOMALY_COUNT_SPEC: ColSpec = [
    ("device_id", ""),
    ("anomaly_count", "long"),
]

# The reference's default anomaly threshold (dbt var) and the
# non-default variant used for the summary queries: at threshold 3.0 the
# fixture's range-filtered temperature distribution has max |z| ≈ 2.49,
# so no flags fire (faithful but degenerate); threshold 2.0 exercises
# every flag/branch. Both are registered.
REF_THRESHOLD = 3.0
ACTIVE_THRESHOLD = 2.0

# ----------------------------------------------------------- spark callables


def _staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    stg = stg_raw_temperature_readings(
        raw_readings(spark, sf_dir), with_processing_timestamp=False
    )
    return shape(stg, STAGING_SPEC)


DQ_CHECK_SPEC: ColSpec = [("check_name", ""), ("violations", "long")]


def _dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt test suite (§5) as one query: every schema.yml check's
    violation count over staging."""
    stg = stg_raw_temperature_readings(
        raw_readings(spark, sf_dir), with_processing_timestamp=False
    )
    return shape(check_violations(stg), DQ_CHECK_SPEC)


def _valid_readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    stg = stg_raw_temperature_readings(
        raw_readings(spark, sf_dir), with_processing_timestamp=False
    )
    return shape(deduplicated_valid_readings(stg), VALID_SPEC)


def _valid_readings_aggform(spark: SparkSession, sf_dir: str) -> DataFrame:
    stg = stg_raw_temperature_readings(
        raw_readings(spark, sf_dir), with_processing_timestamp=False
    )
    return shape(deduplicated_valid_readings_aggform(stg), VALID_SPEC)


def _vr_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached deduplicated-valid-readings materialization, the dedup
    analog of the mart table (`dbt_project.yml:28-30` shape): dbt
    evaluates the `valid_readings` CTE once per model BUILD, while a
    per-query re-derivation pays the staging scan + dedup exchange on
    every anomaly/mart consumer. One ``localCheckpoint`` per version of
    sf_dir's files (sources/catalog.get_or_build) — deterministic
    derivation, so cold and warm results are identical (the parity
    suite and the DuckDB oracle both rebuild from scratch and still
    hash-match). At 100 TB this is a written table refreshed per load,
    not per query (VERDICT r6 #1)."""
    from ..sources.catalog import get_or_build

    def build():
        stg = stg_raw_temperature_readings(
            raw_readings(spark, sf_dir), with_processing_timestamp=False
        )
        # Spread the materialization across the executor cores before
        # checkpointing: the dedup exchange AQE-coalesces to ~5
        # partitions at sf0.1, which would cap every downstream serve
        # at 5-way parallelism (the embeddings one-row-group precedent,
        # sources/catalog.py). One extra exchange at BUILD time, paid
        # once per build.
        par = spark.sparkContext.defaultParallelism
        vr = (
            deduplicated_valid_readings_aggform(stg)
            .repartition(par)
            .localCheckpoint(eager=True)
        )
        # The GROUPING SETS stats digest is a table statistic of the vr
        # materialization (anomaly_stats_digest docstring) — cache it
        # WITH the table so warm calls run zero stats jobs.
        return (vr, anomaly_stats_digest(vr))

    return get_or_build(spark, "valid_readings", sf_dir, build)


def _anomalies(threshold: float):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        vr, stats = _vr_cached(spark, sf_dir)
        return shape(
            int_temperature_anomalies(
                None, threshold=threshold, vr=vr, stats=stats
            ),
            ANOM_SPEC,
        )

    return run


def _mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(_mart_df(spark, sf_dir), MART_SPEC)


def _mart_df_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    vr, stats = _vr_cached(spark, sf_dir)
    return mart_temperature_readings(
        int_temperature_anomalies(
            None, threshold=ACTIVE_THRESHOLD, vr=vr, stats=stats
        )
    )


# Materialized mart: the reference materializes the mart as a TABLE
# (`dbt_project.yml:28-30` — marts are `materialized: table`) and every
# summary model SELECTs from that table. The Spark analog: the first
# mart-derived query over a version of sf_dir writes the full-precision
# mart to a scratch dir in the pipeline's own ``write_mart`` layout, so
# registry summaries read what the pipeline publishes; the other six
# (5 summaries + ops count) scan it instead of recomputing the staging →
# dedup → anomaly chain.
# At 100 TB this is exactly the right shape — you build the mart once per
# load, not once per downstream query. Parquet round-trips every mart
# column type (double/timestamp/date/bool/string) bit-exactly, and the
# oracle-parity suite hash-checks all seven queries against DuckDB.
def _mart_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import get_or_build
    from ..streaming.core import workdir

    def build():
        path = f"{workdir('mart')}/mart.parquet"
        write_mart(_mart_df_compute(spark, sf_dir), path)
        return spark.read.parquet(path)

    return get_or_build(spark, "mart", sf_dir, build, ACTIVE_THRESHOLD)


def _summary(fn, spec):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return shape(fn(_mart_df(spark, sf_dir)), spec)

    return run


def _summary_overall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(pipeline_summary(_mart_df(spark, sf_dir)), SUMMARY_OVERALL_SPEC)


RUN_REPORT_SPEC: ColSpec = [
    ("stage", ""),
    ("metric", ""),
    ("value", "long"),
]


def _run_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAG's run report (`airflow/dags/iot_temperature_dag.py:
    165-195`) as an oracle-checked query: per-stage counts assembled
    from the raw/staging/mart layers (operators/marts.py
    pipeline_run_report)."""
    raw = raw_readings(spark, sf_dir)
    stg = stg_raw_temperature_readings(raw, with_processing_timestamp=False)
    return shape(
        pipeline_run_report(raw, stg, _mart_df(spark, sf_dir)),
        RUN_REPORT_SPEC,
    )


def _ops_anomaly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops query `README.md:120-127`: anomaly count per device."""
    mart = _mart_df(spark, sf_dir)
    return shape(
        mart.filter(F.col("is_anomaly")).groupBy("device_id").agg(
            F.count("*").alias("anomaly_count")
        ),
        OPS_ANOMALY_COUNT_SPEC,
    )


# ------------------------------------------------------------------ oracles


def _oracle(spec: ColSpec, from_clause: str, threshold: float = ACTIVE_THRESHOLD, tail: str = "") -> str:
    return oracle_prelude(threshold) + sql_select(spec, from_clause, tail)


_SUMMARY_BY_LOAD_SQL = f"""(
    SELECT _dlt_load_id,
        COUNT(*) AS total_records,
        SUM(CASE WHEN is_valid_record THEN 1 ELSE 0 END) AS valid_records,
        SUM(CASE WHEN NOT is_valid_record THEN 1 ELSE 0 END) AS invalid_records,
        SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS anomaly_records,
        {_Q_AVG} AS avg_data_quality_score,
        MIN(data_quality_score) AS min_data_quality_score,
        MAX(data_quality_score) AS max_data_quality_score,
        COUNT(DISTINCT device_id) AS unique_devices,
        COUNT(DISTINCT location) AS unique_locations,
        COUNT(DISTINCT environment_type) AS unique_environments,
        MIN(reading_timestamp) AS earliest_reading,
        MAX(reading_timestamp) AS latest_reading
    FROM mart GROUP BY _dlt_load_id
) s"""

_SUMMARY_BY_DEVICE_SQL = f"""(
    SELECT device_id,
        COUNT(*) AS total_readings,
        SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS anomaly_count,
        {_T_AVG} AS avg_temperature,
        MIN(temperature_celsius) AS min_temperature,
        MAX(temperature_celsius) AS max_temperature,
        {_T_STD} AS temperature_stddev,
        {_Q_AVG} AS avg_quality_score,
        MIN(reading_timestamp) AS first_reading,
        MAX(reading_timestamp) AS last_reading,
        (epoch_us(MAX(reading_timestamp)) - epoch_us(MIN(reading_timestamp))) / 3600000000.0
            AS reading_span_hours,
        COUNT(DISTINCT date_trunc('day', reading_timestamp)) AS active_days,
        COUNT(DISTINCT location) AS locations_visited,
        COUNT(DISTINCT environment_type) AS environments_recorded
    FROM mart GROUP BY device_id
) s"""

_SUMMARY_BY_LOCATION_SQL = f"""(
    SELECT location, environment_type,
        COUNT(*) AS total_readings,
        COUNT(DISTINCT device_id) AS unique_devices,
        {_T_AVG} AS avg_temperature,
        MIN(temperature_celsius) AS min_temperature,
        MAX(temperature_celsius) AS max_temperature,
        {_T_STD} AS temperature_stddev,
        SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS anomaly_count,
        {_Q_AVG} AS avg_quality_score
    FROM mart
    WHERE location IS NOT NULL AND environment_type IS NOT NULL
    GROUP BY location, environment_type
) s"""

_SUMMARY_OVERALL_SQL = f"""(
    SELECT *,
        ROUND((CAST(total_valid_records AS DOUBLE) / total_processed_records) * 100, 2)
            AS valid_record_percentage,
        ROUND((CAST(total_anomalies AS DOUBLE) / total_processed_records) * 100, 2)
            AS anomaly_percentage,
        ROUND((CAST(indoor_readings AS DOUBLE) / total_processed_records) * 100, 2)
            AS indoor_percentage,
        ROUND((CAST(outdoor_readings AS DOUBLE) / total_processed_records) * 100, 2)
            AS outdoor_percentage
    FROM (
        SELECT
            COUNT(*) AS total_processed_records,
            SUM(CASE WHEN is_valid_record THEN 1 ELSE 0 END) AS total_valid_records,
            SUM(CASE WHEN NOT is_valid_record THEN 1 ELSE 0 END) AS total_invalid_records,
            SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS total_anomalies,
            {_T_AVG} AS global_avg_temperature,
            MIN(temperature_celsius) AS global_min_temperature,
            MAX(temperature_celsius) AS global_max_temperature,
            {_T_STD} AS global_temperature_stddev,
            {_Q_AVG} AS global_avg_quality_score,
            MIN(data_quality_score) AS global_min_quality_score,
            MAX(data_quality_score) AS global_max_quality_score,
            COUNT(DISTINCT device_id) AS total_unique_devices,
            COUNT(DISTINCT location) AS total_unique_locations,
            COUNT(DISTINCT environment_type) AS total_environment_types,
            COUNT(DISTINCT _dlt_load_id) AS total_load_batches,
            MIN(reading_timestamp) AS earliest_reading_timestamp,
            MAX(reading_timestamp) AS latest_reading_timestamp,
            (epoch_us(MAX(reading_timestamp)) - epoch_us(MIN(reading_timestamp))) / 86400000000.0
                AS data_span_days,
            SUM(CASE WHEN environment_type = 'Indoor' THEN 1 ELSE 0 END) AS indoor_readings,
            SUM(CASE WHEN environment_type = 'Outdoor' THEN 1 ELSE 0 END) AS outdoor_readings,
            SUM(CASE WHEN environment_type = 'Unknown' THEN 1 ELSE 0 END)
                AS unknown_environment_readings
        FROM mart
    ) os
) s"""

_ANOMALY_BREAKDOWN_SQL = """(
    SELECT 'Global Anomalies' AS anomaly_type,
        SUM(CASE WHEN is_global_anomaly THEN 1 ELSE 0 END) AS anomaly_count,
        AVG(CASE WHEN is_global_anomaly THEN global_z_score END) AS avg_z_score
    FROM mart
    UNION ALL
    SELECT 'Device Anomalies',
        SUM(CASE WHEN is_device_anomaly THEN 1 ELSE 0 END),
        AVG(CASE WHEN is_device_anomaly THEN device_z_score END)
    FROM mart
    UNION ALL
    SELECT 'Location Anomalies',
        SUM(CASE WHEN is_location_anomaly THEN 1 ELSE 0 END),
        AVG(CASE WHEN is_location_anomaly THEN location_z_score END)
    FROM mart
    UNION ALL
    SELECT 'Environment Anomalies',
        SUM(CASE WHEN is_environment_anomaly THEN 1 ELSE 0 END),
        AVG(CASE WHEN is_environment_anomaly THEN environment_z_score END)
    FROM mart
) s"""

_OPS_ANOMALY_COUNT_SQL = """(
    SELECT device_id, COUNT(*) AS anomaly_count
    FROM mart WHERE is_anomaly GROUP BY device_id
) s"""

_RUN_REPORT_SQL = """(
    SELECT 'ingestion' AS stage, 'raw_records' AS metric,
        COUNT(*) AS value FROM raw_readings
    UNION ALL
    SELECT 'staging', 'staged_records', COUNT(*) FROM staged
    UNION ALL
    SELECT 'staging', 'valid_records',
        SUM(CASE WHEN is_valid_record THEN 1 ELSE 0 END) FROM staged
    UNION ALL
    SELECT 'staging', 'invalid_records',
        SUM(CASE WHEN NOT is_valid_record THEN 1 ELSE 0 END) FROM staged
    UNION ALL
    SELECT 'transform', 'mart_rows', COUNT(*) FROM mart
    UNION ALL
    SELECT 'transform', 'anomaly_records',
        SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) FROM mart
    UNION ALL
    SELECT 'transform', 'unique_devices', COUNT(DISTINCT device_id) FROM mart
    UNION ALL
    SELECT 'transform', 'load_batches',
        COUNT(DISTINCT _dlt_load_id) FROM mart
) s"""


# ------------------------------------------------------------------ registry

REGISTRY: dict[str, QuerySpec] = {
    "staging_readings": QuerySpec(
        _staging, _oracle(STAGING_SPEC, "staged")
    ),
    "dedup_valid_readings": QuerySpec(
        _valid_readings, _oracle(VALID_SPEC, "valid_readings")
    ),
    "dedup_valid_readings_aggform": QuerySpec(
        _valid_readings_aggform, _oracle(VALID_SPEC, "valid_readings")
    ),
    "anomaly_scores": QuerySpec(
        _anomalies(REF_THRESHOLD),
        _oracle(ANOM_SPEC, "anomalies", threshold=REF_THRESHOLD),
    ),
    "anomaly_scores_t2": QuerySpec(
        _anomalies(ACTIVE_THRESHOLD),
        _oracle(ANOM_SPEC, "anomalies", threshold=ACTIVE_THRESHOLD),
    ),
    "mart_readings": QuerySpec(_mart, _oracle(MART_SPEC, "mart")),
    "summary_by_load": QuerySpec(
        _summary(load_level_stats, SUMMARY_BY_LOAD_SPEC),
        _oracle(SUMMARY_BY_LOAD_SPEC, _SUMMARY_BY_LOAD_SQL),
    ),
    "summary_by_device": QuerySpec(
        _summary(device_level_stats, SUMMARY_BY_DEVICE_SPEC),
        _oracle(SUMMARY_BY_DEVICE_SPEC, _SUMMARY_BY_DEVICE_SQL),
    ),
    "summary_by_location": QuerySpec(
        _summary(location_level_stats, SUMMARY_BY_LOCATION_SPEC),
        _oracle(SUMMARY_BY_LOCATION_SPEC, _SUMMARY_BY_LOCATION_SQL),
    ),
    "summary_overall": QuerySpec(
        _summary_overall, _oracle(SUMMARY_OVERALL_SPEC, _SUMMARY_OVERALL_SQL)
    ),
    "anomaly_breakdown": QuerySpec(
        _summary(anomaly_analysis, ANOMALY_BREAKDOWN_SPEC),
        _oracle(ANOMALY_BREAKDOWN_SPEC, _ANOMALY_BREAKDOWN_SQL),
    ),
    "ops_anomaly_count_per_device": QuerySpec(
        _ops_anomaly_counts, _oracle(OPS_ANOMALY_COUNT_SPEC, _OPS_ANOMALY_COUNT_SQL)
    ),
    "dq_check_violations": QuerySpec(
        _dq_checks, _oracle(DQ_CHECK_SPEC, check_violations_sql("staged"))
    ),
    "pipeline_run_report": QuerySpec(
        _run_report, _oracle(RUN_REPORT_SPEC, _RUN_REPORT_SQL)
    ),
}

# Merged sub-registries (imported at the bottom to avoid cycles: they use
# QuerySpec/shape/sql_select defined above).
from ..operators.asof import ASOF_SQL, last_click_before_error  # noqa: E402
from ..operators.rangejoin import RANGEJOIN_SQL, clicks_in_error_windows  # noqa: E402
from .analytics import ANALYTICS  # noqa: E402
from .corpus_specs import CORPUS  # noqa: E402
from .extensions import EXTENSIONS  # noqa: E402
from .relational import RELATIONAL  # noqa: E402
from .retrieval_specs import RETRIEVAL  # noqa: E402
from .streaming_specs import STREAMING  # noqa: E402
from .subqueries import SUBQUERIES  # noqa: E402
from .formats_specs import FORMATS  # noqa: E402
from .timeseries import TIMESERIES  # noqa: E402
from .tpch_extra import TPCH_EXTRA  # noqa: E402

REGISTRY.update(RELATIONAL)
REGISTRY.update(EXTENSIONS)
REGISTRY.update(STREAMING)
REGISTRY.update(SUBQUERIES)
REGISTRY.update(TPCH_EXTRA)
REGISTRY.update(FORMATS)
REGISTRY.update(TIMESERIES)
REGISTRY.update(ANALYTICS)
REGISTRY.update(RETRIEVAL)
REGISTRY.update(CORPUS)
REGISTRY["events_asof_last_click"] = QuerySpec(last_click_before_error, ASOF_SQL)
REGISTRY["clicks_in_error_windows"] = QuerySpec(clicks_in_error_windows, RANGEJOIN_SQL)
