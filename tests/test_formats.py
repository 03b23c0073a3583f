"""Tests for sources/formats.py's JSONL reader, whose PERMISSIVE
corrupt-record path must actually capture malformed lines, and for the
custom Python data source."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from iot_temp_data_pipeline_spark.sources.formats import read_jsonl
from iot_temp_data_pipeline_spark.streaming.core import workdir


def test_jsonl_corrupt_records_captured(spark):
    work = workdir("jsonl_test")
    path = f"{work}/in"
    os.makedirs(path)
    with open(f"{path}/part-0.json", "w") as f:
        f.write('{"id": 1, "name": "ok"}\n')
        f.write("this is not json\n")
        f.write('{"id": 2, "name": "also ok"}\n')
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    # Spark disallows querying ONLY the corrupt-record column of a raw
    # JSON scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN); cache the parse first.
    df = read_jsonl(spark, path, schema).cache()
    assert df.filter(F.col("_corrupt_json").isNotNull()).count() == 1
    assert df.filter(F.col("id").isNotNull()).count() == 2


def test_custom_datasource_pushdown_prunes_partitions(spark):
    from pyspark.sql.datasource import EqualTo

    from iot_temp_data_pipeline_spark.sources.pydatasource import (
        SyntheticEventsReader,
        temp_centi_of,
    )

    r = SyntheticEventsReader({"n_rows": "1000", "n_partitions": "4"})
    unsupported = list(r.pushFilters([EqualTo(("event_id",), 5)]))
    assert unsupported == []  # fully handled
    parts = r.partitions()
    assert [(p.start, p.end) for p in parts] == [(5, 6)]
    batches = list(r.read(parts[0]))
    rows = [t for b in batches for t in zip(*(c.to_pylist() for c in b.columns))]
    assert rows == [(5, "DEV_5", 1704067200000000 + 5 * 30_000_000, temp_centi_of(5))]


def test_custom_datasource_scan_roundtrip(spark):
    from iot_temp_data_pipeline_spark.sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", 500)
        .option("n_partitions", 3)
        .load()
    )
    assert df.count() == 500
    assert df.selectExpr("count(distinct device_id)").first()[0] == 50


def test_custom_datasource_writer_two_phase_commit(spark, tmp_path):
    import glob
    import json

    from iot_temp_data_pipeline_spark.sources import pydatasource

    pydatasource.register_writer(spark)
    out = str(tmp_path / "audit")
    df = spark.range(100).selectExpr("id", "id % 3 AS v").repartition(4)
    df.write.format("jsonl_audit").option("path", out).mode("append").save()
    files = sorted(glob.glob(f"{out}/part-*.jsonl"))
    rows = [json.loads(line) for f in files for line in open(f)]
    assert len(files) == 4
    assert len(rows) == 100
    assert sum(r["id"] for r in rows) == 4950
    # no temp litter after commit
    assert glob.glob(f"{out}/_tmp/*") == []
