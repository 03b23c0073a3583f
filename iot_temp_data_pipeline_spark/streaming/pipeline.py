"""foreachBatch micro-batch pipeline — the Structured Streaming analog
of the reference's orchestrated run (SURVEY.md §3.1):

  FileSensor/cron  →  availableNow file source (core.py)
  dlt ingest       →  the streaming transform feeding this sink
  dbt full refresh →  each micro-batch writes its rows as the raw
                      layer's ``batch_id=N`` partition, then
                      recomputes staging → anomalies → mart from the
                      accumulated raw and OVERWRITES the mart — the
                      exact `full_refresh: True` contract of
                      `airflow/dags/iot_temperature_dag.py:236-239`
  audit log (S6)   →  one row per micro-batch, partitioned the same way

Every write is idempotent per micro-batch (``core.write_batch``), so a
batch replayed after a crash lands once: the reference's re-run-safe
cycle.

At scale the full-refresh step is the knowingly-quadratic part — the
reference made the same trade. The raw layer is partitioned by batch so
an incremental variant can prune; the streaming dedup/window operators
(dedup.py, windows.py) are the truly-incremental alternatives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.anomalies import int_temperature_anomalies
from ..operators.marts import mart_temperature_readings, write_mart
from ..operators.staging import stg_raw_temperature_readings
from .core import read_sink, run_batches, write_batch


def refresh_marts(spark: SparkSession, raw_dir: str, mart_dir: str) -> None:
    """Full refresh: staging → anomalies → mart from the accumulated
    raw, written in the published mart layout (``write_mart``)."""
    stg = stg_raw_temperature_readings(read_sink(spark, raw_dir))
    write_mart(mart_temperature_readings(int_temperature_anomalies(stg)), mart_dir)


def foreach_batch_refresh(raw_dir: str, mart_dir: str, audit_dir: str):
    """Build the ``run_batches`` writer. The batch DataFrame must carry
    the raw-readings columns (device_id, timestamp, temperature,
    location, _dlt_id, _dlt_load_id). Raw rows and the audit row go
    through ``write_batch``, so a replayed batch replaces its own."""

    def _process(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        write_batch(batch_df, raw_dir, txn)
        # S6 audit row: one line per micro-batch (file-level log analog,
        # `dlt_ingest/iot_temperature_pipeline.py:83-102`); its batch_id
        # is the partition column
        audit = batch_df.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("device_id").alias("n_devices"),
            F.current_timestamp().alias("processed_at"),
        )
        write_batch(audit, audit_dir, txn)
        refresh_marts(batch_df.sparkSession, raw_dir, mart_dir)

    return _process


def run_micro_batch_pipeline(
    sdf: DataFrame,
    raw_dir: str,
    mart_dir: str,
    audit_dir: str,
    checkpoint_dir: str,
) -> None:
    """Run the end-to-end micro-batch pipeline to completion."""
    run_batches(sdf, checkpoint_dir, foreach_batch_refresh(raw_dir, mart_dir, audit_dir))


def incremental_mart_refresh(
    spark: SparkSession,
    stream: DataFrame,
    table: str,
    checkpoint_dir: str,
) -> None:
    """dbt ``incremental`` materialization analog — the design decision
    the reference dodges by forcing ``full_refresh: True`` on every run
    (`airflow/dags/iot_temperature_dag.py:236-239`, rebuilding the whole
    mart from all accumulated raw). Here each micro-batch (≈ one dlt
    load) MERGEs only ITS rows into the versioned mart table
    (sources/versioned.py copy-on-write upsert): per-run work is
    bounded by the batch, not the table; and every load leaves a
    committed version (time travel over mart history).

    Each commit records its ``txn`` (query id, batch id), so a batch
    replayed after a crash between its commit and the checkpoint's
    commit log finds itself in the latest manifest and commits nothing:
    one version per load, exactly once.

    Incremental-safety contract: the mart columns derived here are
    PER-ROW (category buckets, day layout key) and the only cross-load
    interaction is key replacement by the latest merged load (so
    re-delivered exact duplicates merge idempotently) — hence N
    incremental merges ≡ one full refresh over the union of loads
    (the oracle pins exactly that).
    Stats-dependent enrichments (the anomaly z-scores) are NOT
    incremental-safe and stay in the full-refresh path
    (refresh_marts)."""
    from ..functions.exprs import temperature_category
    from ..sources.versioned import create_table, upsert, versions

    def merge_batch(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        mart = (
            batch_df.groupBy("device_id", "ts_micros")
            .agg(
                F.max_by(
                    F.struct("temp_centi", "dlt_id"), F.col("dlt_id")
                ).alias("w")
            )
            .select(
                "device_id",
                "ts_micros",
                F.col("w.temp_centi").alias("temp_centi"),
                F.col("w.dlt_id").alias("dlt_id"),
            )
            .withColumn(
                "temperature_category",
                temperature_category(F.col("temp_centi") / 100.0),
            )
            .withColumn("day_us", F.expr("ts_micros div 86400000000"))
        )
        if not versions(table):
            create_table(spark, mart, table, layout_col="day_us", txn=txn)
        else:
            upsert(
                spark,
                table,
                mart,
                key_cols=["device_id", "ts_micros"],
                layout_col="day_us",
                txn=txn,
            )

    run_batches(stream, checkpoint_dir, merge_batch)
