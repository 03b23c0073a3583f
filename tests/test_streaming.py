"""Streaming behaviors NOT covered by the registry parity sweep:
exactly-once incremental file pickup across restarts (the S3 hash-skip
contract) and the foreachBatch full-refresh micro-batch pipeline
(SURVEY.md §2.10/§3.1). The four streaming registry queries themselves
are oracle-checked by test_registry_parity like every other query.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iot_temp_data_pipeline_spark.sources.readings import raw_readings
from iot_temp_data_pipeline_spark.streaming.ingest import (
    KAGGLE_STREAM_SCHEMA,
    streamed_kaggle_ingest,
)
from iot_temp_data_pipeline_spark.streaming.pipeline import run_micro_batch_pipeline


def _write_kaggle_csv(spark, path: str, start: int, n: int) -> None:
    rows = [
        (
            start + i,
            f"__export__.temp_log_{start + i}_bd0a1b2c3d",
            "Room Admin" if i % 2 == 0 else "Room 809",
            "28-07-2025 10:%02d" % (i % 60),
            str(20.0 + i),
            "In" if i % 2 == 0 else "Out",
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, schema=KAGGLE_STREAM_SCHEMA)
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def test_exactly_once_incremental_pickup(spark, tmp_path):
    """Re-running the stream with the same checkpoint processes ONLY
    files that arrived since the last run — the working version of the
    reference's stubbed hash-skip (`iot_temperature_pipeline.py:33-39`)."""
    landing = str(tmp_path / "landing")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    _write_kaggle_csv(spark, f"{landing}/drop1", 0, 10)
    os.rename(
        next(
            f"{landing}/drop1/{f}"
            for f in os.listdir(f"{landing}/drop1")
            if f.endswith(".csv")
        ),
        f"{landing}/part-a.csv",
    )
    out1 = streamed_kaggle_ingest(spark, f"{landing}/*.csv", sink, ckpt)
    assert out1.count() == 10

    # second drop lands; first file must NOT be reprocessed
    _write_kaggle_csv(spark, f"{landing}/drop2", 100, 5)
    os.rename(
        next(
            f"{landing}/drop2/{f}"
            for f in os.listdir(f"{landing}/drop2")
            if f.endswith(".csv")
        ),
        f"{landing}/part-b.csv",
    )
    out2 = streamed_kaggle_ingest(spark, f"{landing}/*.csv", sink, ckpt)
    assert out2.count() == 15
    assert out2.filter(F.col("event_id") >= 100).count() == 5


def test_foreach_batch_full_refresh(spark, sf_dir, tmp_path):
    """Micro-batch pipeline: raw append + audit row per batch + mart
    full refresh; the final mart holds the same rows as the batch
    pipeline's mart over the same accumulated raw."""
    readings = raw_readings(spark, sf_dir).limit(500)
    src = str(tmp_path / "src")
    readings.repartition(3).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(readings.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    raw_dir = str(tmp_path / "raw")
    mart_dir = str(tmp_path / "mart")
    audit_dir = str(tmp_path / "audit")
    run_micro_batch_pipeline(
        stream, raw_dir, mart_dir, audit_dir, str(tmp_path / "ckpt")
    )

    raw = spark.read.parquet(raw_dir)
    assert raw.count() == 500

    audit = spark.read.parquet(audit_dir)
    assert audit.count() >= 2  # one row per micro-batch, ≥2 batches
    assert audit.agg(F.sum("n_rows")).collect()[0][0] == 500

    # full-refresh contract: mart == batch recompute over accumulated raw
    from iot_temp_data_pipeline_spark.operators.anomalies import (
        int_temperature_anomalies,
    )
    from iot_temp_data_pipeline_spark.operators.marts import (
        mart_temperature_readings,
    )
    from iot_temp_data_pipeline_spark.operators.staging import (
        stg_raw_temperature_readings,
    )

    mart = spark.read.parquet(mart_dir)
    expected = mart_temperature_readings(
        int_temperature_anomalies(stg_raw_temperature_readings(raw))
    )
    assert sorted(mart.columns) == sorted(expected.columns)
    # the processing timestamp is the wall clock of each refresh
    cols = [c for c in expected.columns if c != "dbt_processing_timestamp"]
    mart, expected = mart.select(*cols), expected.select(*cols)
    assert mart.exceptAll(expected).count() == 0
    assert expected.exceptAll(mart).count() == 0


def test_stateful_state_survives_checkpoint_restart(spark, tmp_path):
    """applyInPandasWithState recovery: a key whose duplicate versions
    arrive in SEPARATE runs (same checkpoint) must still converge to
    the overall winner — the per-key counter n continues from the
    recovered state store, not from zero."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from iot_temp_data_pipeline_spark.streaming.core import run_available_now
    from iot_temp_data_pipeline_spark.streaming.stateful import latest_wins_dedup

    landing = str(tmp_path / "landing")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = T.StructType(
        [
            T.StructField("device_id", T.StringType()),
            T.StructField("ts_micros", T.LongType()),
            T.StructField("temp_centi", T.LongType()),
            T.StructField("dlt_id", T.StringType()),
        ]
    )

    def drop(name, rows):
        with open(f"{landing}/{name}", "w") as f:
            f.write("device_id,ts_micros,temp_centi,dlt_id\n")
            for r in rows:
                f.write(",".join(map(str, r)) + "\n")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("header", True)
            .csv(landing)
        )
        run_available_now(latest_wins_dedup(stream), sink, ckpt)

    # run 1: version b (winner so far) and a second key
    drop("f1.csv", [("D1", 100, 210, "b"), ("D2", 100, 300, "a")])
    run()
    # run 2 (recovered state): late lower version a, then higher c
    drop("f2.csv", [("D1", 100, 205, "a"), ("D1", 100, 220, "c")])
    run()

    log = spark.read.parquet(sink)
    w = Window.partitionBy("device_id", "ts_micros").orderBy(F.desc("n"))
    final = (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("device_id", "dlt_id", "temp_centi", "n")
    )
    got = {r["device_id"]: (r["dlt_id"], r["temp_centi"], r["n"]) for r in final.collect()}
    # D1 saw 3 rows across two runs -> n=3 proves state recovery; winner c
    assert got["D1"] == ("c", 220, 3)
    assert got["D2"] == ("a", 300, 1)


def test_streaming_cms_merges_multiple_partials(spark, sf_dir, tmp_path):
    """The streamed sketch must actually be a MERGE of per-micro-batch
    partials (>= 2 batches under maxFilesPerTrigger=2 over 4 landing
    files), and the merged cell table must equal the batch-built sketch
    cell-for-cell."""
    from pyspark.sql import types as T

    from iot_temp_data_pipeline_spark.operators import sketches as sk
    from iot_temp_data_pipeline_spark.plans.streaming_specs import _cms_token_input
    from iot_temp_data_pipeline_spark.streaming.core import (
        materialize_landing,
        read_sink,
        run_partials,
    )

    landing, sink, ckpt = (
        str(tmp_path / "landing"),
        str(tmp_path / "sink"),
        str(tmp_path / "ckpt"),
    )
    materialize_landing(_cms_token_input(spark, sf_dir), landing)
    stream = (
        spark.readStream.schema(T.StructType([T.StructField("item", T.StringType())]))
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        .csv(landing)
    )
    run_partials(stream, ckpt, {sink: sk.cms_cells})
    partials = read_sink(spark, sink)
    assert partials.select("batch_id").distinct().count() >= 2
    merged = partials.groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))
    batch_cells = sk.cms_cells(_cms_token_input(spark, sf_dir))
    assert merged.exceptAll(batch_cells).count() == 0
    assert batch_cells.exceptAll(merged).count() == 0


def _drop_last_commit(ckpt: str) -> None:
    """Leave the checkpoint as a driver that died after the sink wrote
    its last micro-batch, but before the commit log recorded it."""
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))


def test_replayed_partial_batch_is_counted_once(spark, sf_dir, tmp_path, monkeypatch):
    """A SUM-merged partial sink: the restart replays the uncommitted
    batch, and its partial replaces the first attempt's instead of
    being summed twice."""
    from iot_temp_data_pipeline_spark.plans import streaming_specs as ss

    monkeypatch.setattr(ss, "workdir", lambda prefix: str(tmp_path))
    first = sorted(ss._streaming_histq(spark, sf_dir).collect())
    _drop_last_commit(str(tmp_path / "ckpt"))
    # the landing is already in place; rewriting it would rename its files
    monkeypatch.setattr(ss, "materialize_landing", lambda df, path: None)
    assert sorted(ss._streaming_histq(spark, sf_dir).collect()) == first


@pytest.mark.parametrize("n_files", [1, 2])
def test_replayed_merge_commits_no_new_version(spark, tmp_path, n_files):
    """`incremental_mart_refresh` replaying its last batch, whether that
    batch created the table or merged into it, leaves the versions and
    the content as they were."""
    from iot_temp_data_pipeline_spark.sources.versioned import read_version, versions
    from iot_temp_data_pipeline_spark.streaming.pipeline import incremental_mart_refresh

    landing, table, ckpt = (str(tmp_path / d) for d in ("landing", "mart_v", "ckpt"))
    os.makedirs(landing)
    for k in range(n_files):
        with open(f"{landing}/f{k}.csv", "w") as f:
            f.write("device_id,ts_micros,temp_centi,dlt_id\n")
            f.write(f"D1,{k},{2000 + k},a{k}\nD2,{k},{1500 + k},b{k}\n")
    stream = (
        spark.readStream.schema(
            "device_id string, ts_micros long, temp_centi long, dlt_id string"
        )
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(landing)
    )
    incremental_mart_refresh(spark, stream, table, ckpt)
    committed = versions(table)
    rows = sorted(read_version(spark, table).collect())
    assert len(committed) == n_files and len(rows) == 2 * n_files
    _drop_last_commit(ckpt)
    incremental_mart_refresh(spark, stream, table, ckpt)
    assert versions(table) == committed
    assert sorted(read_version(spark, table).collect()) == rows


def test_replayed_micro_batch_lands_once(spark, sf_dir, tmp_path):
    """The foreachBatch pipeline replaying its last batch: raw still
    holds each reading once and the audit log counts it once."""
    readings = raw_readings(spark, sf_dir).limit(500)
    src = str(tmp_path / "src")
    readings.repartition(3).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(readings.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    dirs = [str(tmp_path / d) for d in ("raw", "mart", "audit", "ckpt")]
    run_micro_batch_pipeline(stream, *dirs)
    _drop_last_commit(dirs[3])
    run_micro_batch_pipeline(stream, *dirs)
    assert spark.read.parquet(dirs[0]).count() == 500
    audit = spark.read.parquet(dirs[2])
    assert audit.agg(F.sum("n_rows")).collect()[0][0] == 500


def test_no_foreach_batch_outside_the_streaming_core():
    """Only `streaming/core.py` may start a ``foreachBatch`` sink or
    await a query: every micro-batch write goes through its
    exactly-once sink, so none can append a replayed batch twice."""
    package = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "iot_temp_data_pipeline_spark",
    )
    offenders = []
    for root, _dirs, files in os.walk(package):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path.endswith(os.path.join("streaming", "core.py")):
                continue
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            if "foreachBatch(" in src or "awaitTermination(" in src:
                offenders.append(os.path.relpath(path, package))
    assert offenders == []


def test_read_sink_finds_batch_partitions(spark, tmp_path):
    """`read_sink` with a schema reads an unwritten sink as an empty
    frame, and finds the rows `write_batch` put under ``batch_id=N``."""
    from iot_temp_data_pipeline_spark.streaming.core import read_sink, write_batch

    sink = str(tmp_path / "sink")
    assert read_sink(spark, sink, "k long").collect() == []
    write_batch(spark.range(3).withColumnRenamed("id", "k"), sink, ("q", 4))
    got = read_sink(spark, sink, "k long, batch_id long").collect()
    assert sorted((r["k"], r["batch_id"]) for r in got) == [(0, 4), (1, 4), (2, 4)]
