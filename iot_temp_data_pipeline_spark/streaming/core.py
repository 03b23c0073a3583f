"""Streaming runtime helpers: landing-zone materialization, the
availableNow run-to-completion loop, and the one exactly-once
``foreachBatch`` sink (``run_batches``/``run_partials``) with its
reader (``read_sink``).

``trigger(availableNow=True)`` is the exact Spark analog of the
reference's cadence model (process everything currently in the landing
zone, then stop — `airflow/dags/iot_temperature_dag.py:202-222`): the
checkpoint's file-source log replaces both the FileSensor and the
(stubbed) SHA-256 hash-skip (`dlt_ingest/iot_temperature_pipeline.py:33-39`)
with exactly-once per-path tracking that survives restarts.

At scale: the file source lists the landing dir incrementally
(``maxFilesPerTrigger`` bounds per-batch work), each micro-batch is a
normal distributed job, and all operator state (dedup keys, window
aggregates, custom state) lives in the partitioned state store — nothing
accumulates on the driver.

Replays: the file source's offsets make a micro-batch replayable, and
every sink here is idempotent per ``(query id, batch id)``, so a batch
re-run after a crash lands once — the end-to-end exactly-once recipe of
Structured Streaming (SIGMOD 2018).
"""

from __future__ import annotations

import atexit
import glob
import json
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.catalog import local_table

_SCRATCH_DIRS: list[str] = []


def _cleanup_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH_DIRS.clear()


atexit.register(_cleanup_scratch)


def workdir(prefix: str) -> str:
    """Fresh scratch dir for a landing zone / sink / checkpoint triple.

    Prefers shared-memory tmpfs (/dev/shm) over /tmp when present:
    checkpoint commits fsync every micro-batch and the format roundtrips
    write real files, so scratch I/O latency lands directly on query
    wall-clock. On a production cluster this corresponds to pointing
    scratch/checkpoint at node-local SSD instead of a slow root volume
    (durable checkpoints belong on the DFS — overridable via
    SPARK_GRAFT_SCRATCH).

    Every dir handed out is removed at interpreter exit — tmpfs scratch
    is RAM-backed, so leaked dirs would otherwise accumulate shared
    memory across repeated runs on a long-lived host."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root is None and os.path.isdir("/dev/shm"):
        root = "/dev/shm"
    d = tempfile.mkdtemp(prefix=f"spark_graft_{prefix}_", dir=root)
    _SCRATCH_DIRS.append(d)
    return d


def materialize_landing(df: DataFrame, landing_dir: str, n_files: int = 4) -> None:
    """Write a batch DataFrame as an n-file CSV landing zone so the file
    source sees multiple files → multiple micro-batches under
    ``maxFilesPerTrigger`` (the 30-minute-drop simulation)."""
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("header", True)
        .csv(landing_dir)
    )


def run_available_now(
    sdf: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """Run a streaming DataFrame to completion into a parquet sink."""
    query = (
        sdf.writeStream.format("parquet")
        .outputMode(output_mode)
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def run_batches(
    sdf: DataFrame,
    checkpoint_dir: str,
    write: Callable[[DataFrame, tuple[str, int]], None],
) -> None:
    """Run a streaming DataFrame to completion through ``write(batch,
    txn)``, the one ``foreachBatch`` sink.

    ``txn = (query id, batch id)`` names the write. A driver that dies
    after ``write`` but before the commit log records the batch leaves
    the batch to be replayed on restart with the same ``txn``: the query
    id is the checkpoint's (``<checkpoint>/metadata``, fixed across
    restarts), and the replay re-reads the same offsets. ``write`` is
    exactly-once when it is idempotent per ``txn``, as
    ``write_batch`` and ``versioned.upsert(txn=...)`` are."""

    def each(batch_df: DataFrame, batch_id: int) -> None:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            write(batch_df, (json.load(f)["id"], batch_id))

    query = (
        sdf.writeStream.foreachBatch(each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def write_batch(df: DataFrame, sink_dir: str, txn: tuple[str, int]) -> None:
    """Write one micro-batch's frame to ``<sink>/batch_id=N``, replacing
    what an earlier attempt at the same batch wrote, so a replay
    overwrites instead of appending. ``batch_id`` reads back as a
    partition column."""
    df.write.mode("overwrite").parquet(os.path.join(sink_dir, f"batch_id={txn[1]}"))


def run_partials(
    sdf: DataFrame,
    checkpoint_dir: str,
    builders: dict[str, Callable[[DataFrame], DataFrame]],
) -> None:
    """Run a stream to completion, writing ``build(batch)`` to each
    ``sink`` of ``builders`` per micro-batch (``write_batch``): the
    mergeable-partials pattern, where the read side merges the
    partials of every batch."""

    def write(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        for sink, build in builders.items():
            write_batch(build(batch_df), sink, txn)

    run_batches(sdf, checkpoint_dir, write)


def read_sink(spark: SparkSession, sink_dir: str, schema: str | None = None) -> DataFrame:
    """Read what a sink holds. With ``schema``, a sink that never wrote
    a data file (an empty stream, or a file sink whose batches were all
    empty) reads as an empty frame of that schema."""
    if schema is None:
        return spark.read.parquet(sink_dir)
    if not glob.glob(os.path.join(sink_dir, "**", "*.parquet"), recursive=True):
        return local_table(spark, [], schema)
    return spark.read.schema(schema).parquet(sink_dir)
