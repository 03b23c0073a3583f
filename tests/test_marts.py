"""``write_mart`` round trip: the published mart reads back as the mart
it was written from, and the report's summaries over it still match
their DuckDB oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, LongType

from iot_temp_data_pipeline_spark.functions.stats import distinct_count
from iot_temp_data_pipeline_spark.operators.marts import (
    anomaly_analysis,
    device_level_stats,
    load_level_stats,
    location_level_stats,
    pipeline_run_report,
    pipeline_summary,
)
from iot_temp_data_pipeline_spark.plans.registry import (
    ANOMALY_BREAKDOWN_SPEC,
    REGISTRY,
    SUMMARY_BY_DEVICE_SPEC,
    SUMMARY_BY_LOAD_SPEC,
    SUMMARY_BY_LOCATION_SPEC,
    SUMMARY_OVERALL_SPEC,
    shape,
)

from .oracle_compare import assert_matches_oracle, duckdb_con

SUMMARIES = {
    "summary_by_load": (load_level_stats, SUMMARY_BY_LOAD_SPEC),
    "summary_by_device": (device_level_stats, SUMMARY_BY_DEVICE_SPEC),
    "summary_by_location": (location_level_stats, SUMMARY_BY_LOCATION_SPEC),
    "summary_overall": (pipeline_summary, SUMMARY_OVERALL_SPEC),
    "anomaly_breakdown": (anomaly_analysis, ANOMALY_BREAKDOWN_SPEC),
}


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


def test_write_mart_keeps_columns_and_types(spark, written_mart):
    mart, path = written_mart
    back = spark.read.parquet(path)
    assert back.columns == mart.columns
    assert back.schema["reading_date"].dataType == DateType()


def test_write_mart_keeps_rows(spark, written_mart):
    mart, path = written_mart
    back = spark.read.parquet(path)
    assert back.count() == mart.count()
    assert back.exceptAll(mart).count() == 0
    assert mart.exceptAll(back).count() == 0


@pytest.mark.parametrize("name", sorted(SUMMARIES))
def test_summaries_over_written_mart_match_oracle(spark, written_mart, con, name):
    fn, spec = SUMMARIES[name]
    df = shape(fn(spark.read.parquet(written_mart[1])), spec)
    assert_matches_oracle(df, con, REGISTRY[name].oracle)


def test_distinct_count_equals_count_distinct(spark):
    """distinct_count == countDistinct value for value: NULLs skipped,
    duplicates counted once, an all-NULL group is 0, and the global
    aggregate of an empty frame is 0 (not -1 or NULL); both are long."""
    rows = [
        ("a", "x"), ("a", "x"), ("a", None), ("a", "y"),
        ("b", None), ("b", None),
        ("c", "z"),
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    empty = df.limit(0)
    cases = [
        (df.groupBy("g"), "grouped"),
        (df, "global"),
        (empty.groupBy("g"), "empty grouped"),
        (empty, "empty global"),
    ]
    for frame, label in cases:
        out = frame.agg(
            distinct_count("v").alias("got"),
            F.countDistinct("v").alias("ref"),
        )
        assert out.schema["got"].dataType == LongType(), label
        got = [(r["got"], r["ref"]) for r in out.collect()]
        assert all(a == b for a, b in got), (label, got)
    by_g = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(distinct_count("v").alias("n")).collect()
    }
    assert by_g == {"a": 2, "b": 0, "c": 1}


def test_pipeline_run_report_analyses(spark):
    """The report's stack(...) needs one value type across its metrics:
    the distinct counts must come out BIGINT like the plain counts."""
    raw = spark.range(3)
    stg = spark.createDataFrame([(True,), (False,)], "is_valid_record boolean")
    mart = spark.createDataFrame(
        [("d1", "l1", True), ("d1", "l2", False), ("d2", "l1", False)],
        "device_id string, _dlt_load_id string, is_anomaly boolean",
    )
    report = pipeline_run_report(raw, stg, mart)
    assert report.schema["value"].dataType == LongType()
    got = {(r["stage"], r["metric"]): r["value"] for r in report.collect()}
    assert got[("transform", "unique_devices")] == 2
    assert got[("transform", "load_batches")] == 2
    assert got[("ingestion", "raw_records")] == 3
