"""``write_mart`` round trip: the published mart reads back as the mart
it was written from, and the report's summaries over it still match
their DuckDB oracles."""

from __future__ import annotations

import pytest
from pyspark.sql.types import DateType

from iot_temp_data_pipeline_spark.operators.marts import (
    anomaly_analysis,
    device_level_stats,
    load_level_stats,
    location_level_stats,
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
