"""Streaming CSV ingestion — the readStream twin of
`sources/csv_ingest.py` (S1-S3 + I2-I5 + I10 of SURVEY.md §2).

The transform chain is literally the same `kaggle_transform` column
expressions as the batch path — a streaming DataFrame accepts identical
narrow transformations, so batch/stream parity holds by construction
(and the oracle check proves it: this pipeline is verified against the
same DuckDB SQL as the batch `ingest_kaggle_transform` query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.csv_ingest import kaggle_transform
from .core import read_sink, run_available_now

# Landing-zone CSV shape: the Kaggle columns (sanitized names, all-string
# like a raw CSV) plus the surrogate event_id used as a stable row key.
KAGGLE_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("id", T.StringType()),
        T.StructField("room_id_id", T.StringType()),
        T.StructField("noted_date", T.StringType()),
        T.StructField("temp", T.StringType()),
        T.StructField("out_in", T.StringType()),
    ]
)


def kaggle_csv_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 2
) -> DataFrame:
    """S1/S3 streaming form: file source over the landing zone with
    checkpointed exactly-once file tracking; ``maxFilesPerTrigger``
    bounds per-batch work (the analog of dlt's 5 000-row file chunks,
    `dlt_ingest/.dlt/config.toml:20-21`)."""
    return (
        spark.readStream.schema(KAGGLE_STREAM_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .csv(landing_dir)
    )


def streamed_kaggle_ingest(
    spark: SparkSession,
    landing_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
) -> DataFrame:
    """Run the full I2-I5 + I10 ingestion transform as a stream and
    return the materialized sink (batch-readable parquet)."""
    stream = kaggle_csv_stream(spark, landing_dir, max_files_per_trigger)
    out = (
        kaggle_transform(stream, passthrough=("event_id",))
        .filter(F.col("timestamp").isNotNull())
        .select("event_id", "device_id", "timestamp", "temperature", "location")
    )
    run_available_now(out, sink_dir, checkpoint_dir)
    return read_sink(spark, sink_dir)
