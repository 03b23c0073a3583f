"""Oracle-checked QuerySpecs for the Structured Streaming surface.

Each query materializes a deterministic CSV landing zone from the
fixture parquet, runs a real streaming query to completion with
``trigger(availableNow=True)`` (multiple micro-batches via
``maxFilesPerTrigger``), and returns the batch-read sink. The DuckDB
oracle models the *end-state semantics* of the stream:

- ingest:    identical to the batch ingest oracle (stream ≡ batch for
             stateless transforms)
- dedup:     SELECT DISTINCT (exact-duplicate drop is split-invariant)
- windows:   tumbling agg restricted to windows the final watermark
             finalized — watermark_us = (epoch_ms(max ts) - delay_ms)
             * 1000, emit iff window_end <= watermark (append mode)
- stateful:  the max-n row per device of the applyInPandasWithState
             update log == a plain GROUP BY over the whole input

All integer-scaled (``*_centi``) so sums are exact and order-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.catalog import get_or_build, load_table
from ..streaming.core import materialize_landing, run_available_now, workdir
from ..streaming.dedup import streaming_dedup
from ..streaming.joins import (
    clicks_before_errors_outer_stream,
    clicks_before_errors_stream,
    event_side,
    materialize_side,
    side_stream,
)
from ..streaming.ingest import streamed_kaggle_ingest
from ..streaming.stateful import latest_wins_dedup, running_device_stats
from ..streaming.windows import tumbling_event_stats
from .registry import QuerySpec, shape, sql_select
from .relational import INGEST_SPEC, INGEST_SQL, _kaggle_like

# ------------------------------------------------------------------ ingest

# The CSV landing zone is test FIXTURE (the files the stream ingests),
# not part of the streaming operator under test — build it once per
# version of sf_dir; every invocation still gets a FRESH checkpoint and
# sink, which is the exactly-once machinery being exercised.
def _cached_landing(spark: SparkSession, sf_dir: str) -> str:
    def build():
        landing = f"{workdir('ingest_landing')}/landing"
        # 16 landing files (not the 4-file default): with
        # maxFilesPerTrigger=8 each micro-batch still exists (2 batches,
        # the multi-batch exactly-once machinery under test) but reads 8
        # files in PARALLEL tasks instead of 2 — per-batch addBatch was
        # task-starved, not overhead-bound (measured r7: 1.14 s → ~0.95 s
        # at sf0.1). The remaining ~0.17 s/batch is offset-WAL + commit
        # log + progress durability, which a FileSink cannot move off the
        # critical path (asyncProgressTrackingEnabled raises
        # "Sink FileSink[...] does not support async progress tracking")
        # — the irreducible exactly-once cost, see BASELINE.md.
        materialize_landing(_kaggle_like(spark, sf_dir), landing, n_files=16)
        return landing

    return get_or_build(spark, "ingest_landing", sf_dir, build)


def _streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = workdir("ingest")
    df = streamed_kaggle_ingest(
        spark,
        _cached_landing(spark, sf_dir),
        f"{work}/sink",
        f"{work}/ckpt",
        max_files_per_trigger=8,
    )
    return shape(df, INGEST_SPEC)


# ------------------------------------------------------------------- dedup

DEDUP_SPEC = [
    ("device_id", ""),
    ("ts_micros", "long"),
    ("temp_centi", "long"),
    ("dlt_id", ""),
]

_DEDUP_CSV_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType()),
        T.StructField("ts_micros", T.LongType()),
        T.StructField("temp_centi", T.LongType()),
        T.StructField("dlt_id", T.StringType()),
    ]
)

# Base rows keyed by unique dlt_id; rows with dlt_id % 7 == 0 are written
# twice — the landing zone contains exact duplicates the stream must drop.
_DEDUP_BASE_SQL = """
base AS (
    SELECT 'DEV_' || CAST(user_id AS VARCHAR) AS device_id,
        epoch_us(ts) AS ts_micros,
        CAST(ROUND(value * 100) AS BIGINT) AS temp_centi,
        CAST(event_id AS VARCHAR) AS dlt_id
    FROM events
),
landed AS (
    SELECT * FROM base
    UNION ALL
    SELECT * FROM base WHERE CAST(dlt_id AS BIGINT) % 7 = 0
)
"""


def _dedup_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.concat(F.lit("DEV_"), F.col("user_id").cast("string")).alias("device_id"),
        F.unix_micros("ts").alias("ts_micros"),
        F.round(F.col("value") * 100).cast("long").alias("temp_centi"),
        F.col("event_id").cast("string").alias("dlt_id"),
    )
    return base.union(base.filter(F.col("dlt_id").cast("long") % 7 == 0))


def _streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = workdir("dedup")
    materialize_landing(_dedup_input(spark, sf_dir), f"{work}/landing")
    stream = (
        spark.readStream.schema(_DEDUP_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        .csv(f"{work}/landing")
        .withColumn("event_time", F.timestamp_micros(F.col("ts_micros")))
    )
    deduped = streaming_dedup(stream, "event_time", "1 hour").drop("event_time")
    run_available_now(deduped, f"{work}/sink", f"{work}/ckpt")
    return shape(spark.read.parquet(f"{work}/sink"), DEDUP_SPEC)


DEDUP_ORACLE = (
    "WITH "
    + _DEDUP_BASE_SQL.strip()
    + sql_select(DEDUP_SPEC, "(SELECT DISTINCT * FROM landed) s")
)


# ----------------------------------------------------------------- windows

WINDOW_SPEC = [
    ("window_start", ""),
    ("event_type", ""),
    ("n_events", "long"),
    ("sum_centi", "long"),
    ("min_centi", "long"),
    ("max_centi", "long"),
]

_WINDOW_CSV_SCHEMA = T.StructType(
    [
        T.StructField("ts_micros", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value_centi", T.LongType()),
    ]
)


def _window_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.unix_micros("ts").alias("ts_micros"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )


def _streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = workdir("window")
    materialize_landing(_window_input(spark, sf_dir), f"{work}/landing")
    stream = (
        spark.readStream.schema(_WINDOW_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        .csv(f"{work}/landing")
        .withColumn("event_time", F.timestamp_micros(F.col("ts_micros")))
    )
    agg = tumbling_event_stats(stream, "event_time", "1 hour", "2 hours")
    run_available_now(agg, f"{work}/sink", f"{work}/ckpt")
    return shape(spark.read.parquet(f"{work}/sink"), WINDOW_SPEC)


# Spark's watermark is ms-floored: wm_us = (epoch_ms(max ts) - delay_ms)
# * 1000; append mode emits a window iff window_end <= wm.
WINDOW_ORACLE = sql_select(
    WINDOW_SPEC,
    """(
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        event_type,
        COUNT(*) AS n_events,
        SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sum_centi,
        MIN(CAST(ROUND(value * 100) AS BIGINT)) AS min_centi,
        MAX(CAST(ROUND(value * 100) AS BIGINT)) AS max_centi
    FROM events
    GROUP BY 1, 2
    HAVING epoch_us(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour')
        <= (epoch_ms((SELECT max(ts) FROM events)) - 7200000) * 1000
) s""",
)


# ------------------------------------------------- latest-wins dedup (W1)

LATEST_SPEC = [
    ("device_id", ""),
    ("ts_micros", "long"),
    ("n", "long"),
    ("dlt_id", ""),
    ("temp_centi", "long"),
]


def _streaming_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = workdir("latest")
    materialize_landing(_dedup_input(spark, sf_dir), f"{work}/landing")
    stream = (
        spark.readStream.schema(_DEDUP_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        .csv(f"{work}/landing")
    )
    out = latest_wins_dedup(stream)
    run_available_now(out, f"{work}/sink", f"{work}/ckpt")
    log = spark.read.parquet(f"{work}/sink")
    w = Window.partitionBy("device_id", "ts_micros").orderBy(F.desc("n"))
    final = (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return shape(final, LATEST_SPEC)


# arg_max(temp, dlt_id) = the payload of W1's ORDER BY dlt_id DESC winner
LATEST_ORACLE = (
    "WITH "
    + _DEDUP_BASE_SQL.strip()
    + sql_select(
        LATEST_SPEC,
        """(
    SELECT device_id, ts_micros,
        COUNT(*) AS n,
        MAX(dlt_id) AS dlt_id,
        arg_max(temp_centi, dlt_id) AS temp_centi
    FROM landed
    GROUP BY device_id, ts_micros
) s""",
    )
)


# ---------------------------------------------------------------- stateful

STATEFUL_SPEC = [
    ("device_id", ""),
    ("n", "long"),
    ("sum_centi", "long"),
    ("min_centi", "long"),
    ("max_centi", "long"),
]

_STATEFUL_CSV_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType()),
        T.StructField("temp_centi", T.LongType()),
    ]
)


def _stateful_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("DEV_"), F.col("user_id").cast("string")).alias("device_id"),
        F.round(F.col("value") * 100).cast("long").alias("temp_centi"),
    )


def _streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = workdir("stateful")
    materialize_landing(_stateful_input(spark, sf_dir), f"{work}/landing")
    stream = (
        spark.readStream.schema(_STATEFUL_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        .csv(f"{work}/landing")
    )
    out = running_device_stats(stream)
    run_available_now(out, f"{work}/sink", f"{work}/ckpt")
    log = spark.read.parquet(f"{work}/sink")
    # Final state per device = the max-n row of its update log (n is
    # strictly increasing per device across micro-batches).
    w = Window.partitionBy("device_id").orderBy(F.desc("n"))
    final = (
        log.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    return shape(final, STATEFUL_SPEC)


STATEFUL_ORACLE = sql_select(
    STATEFUL_SPEC,
    """(
    SELECT 'DEV_' || CAST(user_id AS VARCHAR) AS device_id,
        COUNT(*) AS n,
        SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sum_centi,
        MIN(CAST(ROUND(value * 100) AS BIGINT)) AS min_centi,
        MAX(CAST(ROUND(value * 100) AS BIGINT)) AS max_centi
    FROM events
    GROUP BY 1
) s""",
)


# ------------------------------------------- stream-stream interval join

JOIN_SPEC = [
    ("error_event_id", "long"),
    ("user_id", "long"),
    ("error_ts_us", "long"),
    ("click_event_id", "long"),
    ("click_ts_us", "long"),
    ("click_value_centi", "long"),
]


def _streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = workdir("ssjoin")
    materialize_side(event_side(spark, sf_dir, "click"), f"{work}/clicks")
    materialize_side(event_side(spark, sf_dir, "error"), f"{work}/errors")
    clicks = side_stream(spark, f"{work}/clicks", "c_")
    errors = side_stream(spark, f"{work}/errors", "e_")
    joined = clicks_before_errors_stream(clicks, errors)
    run_available_now(joined, f"{work}/sink", f"{work}/ckpt")
    return shape(spark.read.parquet(f"{work}/sink"), JOIN_SPEC)


# End state of the watermarked inner join == the batch interval join
# (see streaming/joins.py docstring for why no partner is evicted early).
SSJOIN_ORACLE = sql_select(
    JOIN_SPEC,
    """(
    SELECT e.event_id AS error_event_id,
        e.user_id AS user_id,
        epoch_us(e.ts) AS error_ts_us,
        c.event_id AS click_event_id,
        epoch_us(c.ts) AS click_ts_us,
        CAST(ROUND(c.value * 100) AS BIGINT) AS click_value_centi
    FROM events e
    JOIN events c
      ON c.user_id = e.user_id
     AND c.ts <= e.ts
     AND c.ts > e.ts - INTERVAL 10 MINUTE
    WHERE e.event_type = 'error' AND c.event_type = 'click'
) s""",
)


# ------------------------------------------------ stream-static enrich

ENRICH_SPEC = [
    ("event_id", "long"),
    ("user_id", "long"),
    ("c_name", ""),
    ("c_mktsegment", ""),
    ("value_centi", "long"),
]

_ENRICH_CSV_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value_centi", T.LongType()),
    ]
)


def _streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch of events is enriched with
    the customer dimension via a broadcast hash join — the standard
    streaming enrichment pattern (dim re-resolved per batch, no state).
    Stateless ⇒ split-invariant ⇒ the oracle is the batch join."""
    ev = load_table(spark, sf_dir, "events")
    landing_input = ev.select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )
    work = workdir("enrich")
    materialize_landing(landing_input, f"{work}/landing")
    stream = (
        spark.readStream.schema(_ENRICH_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        .csv(f"{work}/landing")
    )
    dim = load_table(spark, sf_dir, "customer")
    enriched = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey, "inner"
    ).select("event_id", "user_id", "c_name", "c_mktsegment", "value_centi")
    run_available_now(enriched, f"{work}/sink", f"{work}/ckpt")
    return shape(spark.read.parquet(f"{work}/sink"), ENRICH_SPEC)


ENRICH_ORACLE = sql_select(
    ENRICH_SPEC,
    """(
    SELECT event_id, user_id, c_name, c_mktsegment,
        CAST(ROUND(value * 100) AS BIGINT) AS value_centi
    FROM events JOIN customer ON user_id = c_custkey
) s""",
)


# ------------------------------------------------- streaming CDC upsert

CDC_SPEC = [
    ("device_id", ""),
    ("ts_micros", "long"),
    ("temp_centi", "long"),
    ("dlt_id", ""),
]


def _streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE sink: each micro-batch reduces to its newest row
    per (device_id, ts_micros) and foreachBatch-merges into a parquet
    table partitioned by a device hash bucket, with version precedence
    on dlt_id — so replayed or out-of-order batches can never clobber a
    newer row (merge_upsert_partitioned's version_col path). This is
    the standard CDC landing pattern: bounded per-batch work (only
    touched partitions rewrite), exactly-once end state regardless of
    batch boundaries.

    End state == arg_max over the whole input per key, which is the
    oracle (same latest-wins contract as W1, lexicographic on dlt_id on
    both engines)."""
    import os

    from ..sources.formats import merge_upsert_partitioned

    work = workdir("cdc")
    materialize_landing(_dedup_input(spark, sf_dir), f"{work}/landing")
    stream = (
        spark.readStream.schema(_DEDUP_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(f"{work}/landing")
    )
    table_dir = f"{work}/table"
    w = Window.partitionBy("device_id", "ts_micros").orderBy(F.desc("dlt_id"))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        reduced = (
            batch_df.withColumn("bucket", F.abs(F.hash("device_id")) % 8)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if not os.path.isdir(table_dir):
            reduced.write.partitionBy("bucket").parquet(table_dir)
        else:
            merge_upsert_partitioned(
                spark,
                table_dir,
                reduced,
                key_cols=["device_id", "ts_micros"],
                partition_col="bucket",
                version_col="dlt_id",
            )

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return shape(spark.read.parquet(table_dir), CDC_SPEC)


CDC_ORACLE = (
    "WITH "
    + _DEDUP_BASE_SQL.strip()
    + sql_select(
        CDC_SPEC,
        """(
    SELECT device_id, ts_micros,
        arg_max(temp_centi, dlt_id) AS temp_centi,
        MAX(dlt_id) AS dlt_id
    FROM landed
    GROUP BY device_id, ts_micros
) s""",
    )
)


# -------------------------------------------- incremental mart refresh

INC_MART_SPEC = [
    ("device_id", ""),
    ("ts_micros", "long"),
    ("temp_centi", "long"),
    ("dlt_id", ""),
    ("temperature_category", ""),
    ("day_us", "long"),
]


def _streaming_incremental_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `incremental` materialization analog (the reference forces
    full_refresh: True, `airflow/dags/iot_temperature_dag.py:236-239`):
    each micro-batch MERGEs only its own load into a VERSIONED mart
    table (sources/versioned.py COW upsert, one committed version per
    load). Oracle pins incremental-after-N-batches ≡ one full refresh
    over the union of loads; the landing's exact re-deliveries
    (dlt_id % 7) must merge idempotently."""
    from ..streaming.pipeline import incremental_mart_refresh

    work = workdir("incmart")
    materialize_landing(_dedup_input(spark, sf_dir), f"{work}/landing")
    stream = (
        spark.readStream.schema(_DEDUP_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(f"{work}/landing")
    )
    table = f"{work}/mart_v"
    incremental_mart_refresh(spark, stream, table, f"{work}/ckpt")
    from ..sources.versioned import read_version, versions

    assert len(versions(table)) > 1, "expected one version per micro-batch"
    return shape(read_version(spark, table), INC_MART_SPEC)


INC_MART_ORACLE = (
    "WITH "
    + _DEDUP_BASE_SQL.strip()
    + sql_select(
        INC_MART_SPEC,
        """(
    SELECT device_id, ts_micros,
        arg_max(temp_centi, dlt_id) AS temp_centi,
        MAX(dlt_id) AS dlt_id,
        CASE
            WHEN arg_max(temp_centi, dlt_id) / 100.0 < 0 THEN 'Freezing'
            WHEN arg_max(temp_centi, dlt_id) / 100.0 BETWEEN 0 AND 15 THEN 'Cold'
            WHEN arg_max(temp_centi, dlt_id) / 100.0 BETWEEN 16 AND 25 THEN 'Comfortable'
            WHEN arg_max(temp_centi, dlt_id) / 100.0 BETWEEN 26 AND 35 THEN 'Warm'
            WHEN arg_max(temp_centi, dlt_id) / 100.0 > 35 THEN 'Hot'
            ELSE 'Unknown'
        END AS temperature_category,
        ts_micros // 86400000000 AS day_us
    FROM landed
    GROUP BY device_id, ts_micros
) s""",
    )
)


# ------------------------------------------ stream-stream LEFT OUTER join

OUTER_JOIN_SPEC = [
    ("error_event_id", "long"),
    ("user_id", "long"),
    ("error_ts_us", "long"),
    ("click_event_id", "long"),
    ("click_ts_us", "long"),
]


def _streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = workdir("ssouter")
    materialize_side(event_side(spark, sf_dir, "click"), f"{work}/clicks")
    materialize_side(event_side(spark, sf_dir, "error"), f"{work}/errors")
    clicks = side_stream(spark, f"{work}/clicks", "c_")
    errors = side_stream(spark, f"{work}/errors", "e_")
    joined = clicks_before_errors_outer_stream(clicks, errors)
    run_available_now(joined, f"{work}/sink", f"{work}/ckpt")
    return shape(spark.read.parquet(f"{work}/sink"), OUTER_JOIN_SPEC)


# Matched rows emit as they form (same as the inner join); a NULL-click
# row emits only once the global watermark passes the error's event time
# (the unmatched verdict is then final). The GLOBAL watermark is the MIN
# over the per-stream watermarks — each ms-floored (max ts - delay) —
# so the oracle's horizon is LEAST(max click ts, max error ts) - 2 h,
# NOT the max over the union (one stream ending early holds the whole
# query's watermark back; caught by the sf0.001 fixture where the two
# maxima diverge).
OUTER_JOIN_ORACLE = sql_select(
    OUTER_JOIN_SPEC,
    """(
    SELECT e.event_id AS error_event_id,
        e.user_id AS user_id,
        epoch_us(e.ts) AS error_ts_us,
        c.event_id AS click_event_id,
        epoch_us(c.ts) AS click_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = e.user_id
     AND c.ts <= e.ts
     AND c.ts > e.ts - INTERVAL 10 MINUTE
    WHERE c.event_id IS NOT NULL
       OR epoch_us(e.ts) <=
          (epoch_ms(LEAST(
              (SELECT max(ts) FROM events WHERE event_type = 'click'),
              (SELECT max(ts) FROM events WHERE event_type = 'error')
           )) - 7200000) * 1000
) s""",
)


# ---------------------------------------------- streaming session windows

SSESSION_SPEC = [
    ("user_id", "long"),
    ("session_start", ""),
    ("session_end", ""),
    ("n_events", "long"),
    ("sum_centi", "long"),
]

_SESS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts_micros", T.LongType()),
        T.StructField("value_centi", T.LongType()),
    ]
)

SESSION_GAP = "10 minutes"


def _streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization: per-user `session_window` with a
    10-minute inactivity gap, watermarked, append mode. Sessions merge
    in the state store while open and emit once the watermark passes
    session_end (= last event + gap; any event that could still extend
    the session would by then be late). The landing zone replays in
    coarse event-time order (materialize_side's mtime stamping) so
    cross-file sessions merge before finalization.

    At scale: state = one entry per OPEN session per user, evicted at
    the watermark — bounded by (active users x gap horizon), not by
    stream length."""
    ev = load_table(spark, sf_dir, "events")
    side = ev.select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        F.unix_micros("ts").alias("ts_micros"),
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )
    work = workdir("sessions")
    materialize_side(side, f"{work}/landing")
    stream = (
        spark.readStream.schema(_SESS_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(f"{work}/landing")
        .withColumn("event_time", F.timestamp_micros(F.col("ts_micros")))
        .withWatermark("event_time", "2 hours")
    )
    agg = (
        stream.groupBy(
            F.session_window("event_time", SESSION_GAP).alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value_centi").alias("sum_centi"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_centi",
        )
    )
    run_available_now(agg, f"{work}/sink", f"{work}/ckpt")
    return shape(spark.read.parquet(f"{work}/sink"), SSESSION_SPEC)


# Oracle: batch gaps-and-islands sessions (same rewrite as the batch
# events_session_windows oracle), kept only when finalized — session_end
# <= the final ms-floored watermark (max ts - 2 h).
SSESSION_ORACLE = sql_select(
    SSESSION_SPEC,
    """(
    WITH ordered AS (
        SELECT user_id, ts, value,
            CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w >= INTERVAL '10 minutes'
                 THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT *, SUM(new_s) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS sid
        FROM ordered
    )
    SELECT user_id,
        MIN(ts) AS session_start,
        MAX(ts) + INTERVAL '10 minutes' AS session_end,
        COUNT(*) AS n_events,
        SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sum_centi
    FROM sess
    GROUP BY user_id, sid
    HAVING epoch_us(MAX(ts) + INTERVAL '10 minutes')
        <= (epoch_ms((SELECT max(ts) FROM events)) - 7200000) * 1000
) s""",
)


# --------------------------------------------------------- CMS sketch

CMS_STREAM_SPEC = [
    ("item", ""),
    ("true_count", "long"),
    ("cms_estimate", "long"),
]

_CMS_CSV_SCHEMA = T.StructType([T.StructField("item", T.StringType())])


def _cms_token_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.explode(_tokens(F.col("text"))).alias("item"))


def _streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch maintained BY THE STREAM: every micro-batch
    appends its own partial (row, col, cnt) sketch via foreachBatch —
    at most depth×width rows per batch regardless of batch size — and
    the read side merges partials by summing per cell. This is the
    mergeable-sketch contract exercised across micro-batch boundaries;
    because the CMS cell table is a pure function of the token multiset
    (arrival-order and batching independent), the BATCH oracle pins the
    streamed sketch's estimates exactly."""
    from ..operators import sketches as sk

    work = workdir("cms")
    materialize_landing(_cms_token_input(spark, sf_dir), f"{work}/landing")
    stream = (
        spark.readStream.schema(_CMS_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        # sentinel nullValue: the reader's default ('') would turn an
        # empty-string token back into NULL, silently diverging from
        # the batch sketch if a doc ever starts/ends with whitespace
        .option("nullValue", "\x00")
        .csv(f"{work}/landing")
    )
    sink = f"{work}/sink"

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            sk.cms_cells(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    query = (
        stream.writeStream.foreachBatch(write_partial)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    merged = (
        spark.read.parquet(sink)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    items = _cms_token_input(spark, sf_dir)  # batch ground-truth side
    return shape(sk.cms_estimates(items, merged), CMS_STREAM_SPEC)


def _cms_stream_oracle() -> str:
    from ..operators import sketches as sk

    return sql_select(CMS_STREAM_SPEC, sk.cms_token_frequencies_sql("documents"))


# --------------------------------------------------------- HLL sketch

HLL_STREAM_SPEC = [
    ("grp", ""),
    ("exact_keys", "long"),
    ("nonzero_registers", "long"),
    ("harmonic_scaled", "long"),
    ("hll_raw_est", "long"),
]

_HLL_CSV_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("user_id", T.LongType()),
    ]
)


def _streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog registers maintained BY THE STREAM: each micro-batch
    appends its own (grp, bucket, m) register partial via foreachBatch —
    at most |groups|×64 rows per batch regardless of batch size — and
    the read side merges partials by MAX per register (HLL's defining
    mergeability). Registers are a pure function of the key SET
    (arrival-order, batching, AND duplication independent — max is
    idempotent), so the BATCH oracle pins the streamed sketch exactly;
    this is the distinct-count companion to streaming_cms_partials
    (whose cells merge by SUM and tolerate no duplication)."""
    from ..operators import sketches as sk

    work = workdir("hll")
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    materialize_landing(ev, f"{work}/landing")
    stream = (
        spark.readStream.schema(_HLL_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        .csv(f"{work}/landing")
    )
    sink = f"{work}/sink"

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            sk.hll_registers(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    query = (
        stream.writeStream.foreachBatch(write_partial)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    merged = (
        spark.read.parquet(sink)
        .groupBy("grp", "bucket")
        .agg(F.max("m").alias("m"))
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("grp"))
        .agg(F.count_distinct("user_id").alias("exact_keys"))
    )
    return shape(sk.hll_estimate(merged, exact), HLL_STREAM_SPEC)


def _hll_stream_oracle() -> str:
    from ..operators import sketches as sk

    return sql_select(HLL_STREAM_SPEC, sk.hll_distinct_registers_sql("events"))




# ------------------------------------------------ streaming PQ encode

PQENC_SPEC = [("vec_id", "long")] + [(f"c{j}", "long") for j in range(8)]


def _streaming_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static PQ encoding: the codebook is trained batch-side
    (operators/pq.py) and inlined as literals, then each micro-batch of
    arriving vectors is encoded by the same map-side projection — the
    index-maintenance path of an ANN deployment (new vectors land as
    codes continuously; searches never wait for a rebuild). Stateless
    per-row transform => split-invariant => the oracle is the batch
    encode (the pq CTE chain pivoted to one row per vector)."""
    from ..operators import pq as pqop
    from ..operators.similarity import _with_quantized

    _, cb = pqop.train_codebook(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    work = workdir("pqenc")
    emb.repartition(4).write.mode("overwrite").parquet(f"{work}/landing")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/landing")
    )
    enc = pqop.pq_encode(pqop._with_unit(_with_quantized(stream)), cb)
    run_available_now(enc, f"{work}/sink", f"{work}/ckpt")
    return shape(spark.read.parquet(f"{work}/sink"), PQENC_SPEC)


def _pqenc_oracle() -> str:
    from ..operators import pq as pqop
    from ..operators.similarity import QUANT_SQL

    pivots = ",\n           ".join(
        f"MAX(CASE WHEN j = {j} THEN code END) AS c{j}" for j in range(8)
    )
    return (
        "WITH "
        + QUANT_SQL.strip()
        + ",\n"
        + pqop.pq_cte_sql().strip()
        + sql_select(
            PQENC_SPEC,
            f"""(
    SELECT vec_id,
           {pivots}
    FROM encode
    GROUP BY vec_id
) s""",
        )
    )


PQENC_ORACLE = _pqenc_oracle()




# --------------------------------------- incremental dedup (stream-static)

INC_DEDUP_SPEC = [
    ("source", ""),
    ("lang", ""),
    ("n_incoming", "long"),
    ("n_kept", "long"),
    ("sum_chars_kept", "long"),
]

_DOCS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def _streaming_inc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact side of dedup_incremental_delta run AS A STREAM: the
    crawl increment (doc_id % 3 == 0) arrives through a CSV landing
    zone in micro-batches; each batch LEFT ANTI joins the FROZEN
    history hash set (a static DataFrame — the stream-static join
    pattern, so the operator needs no watermark and no state store:
    history membership is batch-local work). Kept docs append to the
    sink; the end state is batching- and order-independent because
    history is static — which is exactly what lets the batch oracle
    pin the streamed result. At 100 TB history's hash set is a frozen
    bucketed table maintained across crawls (the versioned-table use
    case); each micro-batch pays an increment-sized join against it."""
    from ..operators.dedup import dedup_corpus

    corpus = dedup_corpus(spark, sf_dir)
    inc = corpus.filter(F.col("doc_id") % 3 == 0)
    # persist: a stream-static join re-executes the static side's plan
    # every micro-batch; caching makes history a build-once hash table
    # (at 100 TB: a frozen bucketed table, not a cache)
    hist_hashes = (
        corpus.filter(F.col("doc_id") % 3 != 0)
        .select(F.md5("text").alias("th"))
        .distinct()
        .persist()
    )
    work = workdir("incdedup")
    materialize_landing(inc, f"{work}/landing")
    stream = (
        spark.readStream.schema(_DOCS_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .option("nullValue", "\x00")
        .csv(f"{work}/landing")
    )
    kept = stream.withColumn("th", F.md5("text")).join(
        hist_hashes, "th", "left_anti"
    )
    run_available_now(kept, f"{work}/sink", f"{work}/ckpt")
    sunk = spark.read.parquet(f"{work}/sink")
    # n_incoming from the static split (the landing zone's own count —
    # stream and batch agree by construction), kept stats from the sink
    inc_counts = inc.groupBy("source", "lang").agg(
        F.count("*").alias("n_incoming")
    )
    kept_counts = sunk.groupBy("source", "lang").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.length("text")).alias("sum_chars_kept"),
    )
    df = (
        inc_counts.join(kept_counts, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            "n_incoming",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("sum_chars_kept", F.lit(0)).alias("sum_chars_kept"),
        )
        .orderBy("source", "lang")
    )
    return shape(df, INC_DEDUP_SPEC)


def _inc_dedup_oracle() -> str:
    from ..operators.dedup import CORPUS_SQL

    return (
        "WITH " + CORPUS_SQL.strip()
        + sql_select(
            INC_DEDUP_SPEC,
            """(
    WITH inc AS (
        SELECT * FROM corpus WHERE doc_id % 3 = 0
    ),
    hist AS (
        SELECT DISTINCT md5(text) AS th FROM corpus WHERE doc_id % 3 != 0
    ),
    kept AS (
        SELECT * FROM inc WHERE md5(text) NOT IN (SELECT th FROM hist)
    )
    SELECT i.source, i.lang, i.n_incoming,
        COALESCE(k.n_kept, 0) AS n_kept,
        COALESCE(k.sum_chars_kept, 0) AS sum_chars_kept
    FROM (
        SELECT source, lang, COUNT(*) AS n_incoming
        FROM inc GROUP BY source, lang
    ) i
    LEFT JOIN (
        SELECT source, lang, COUNT(*) AS n_kept,
            SUM(length(text)) AS sum_chars_kept
        FROM kept GROUP BY source, lang
    ) k USING (source, lang)
    ORDER BY source, lang
) s""",
        )
    )


# ------------------------------------------------ streamed TVD monitor

TVD_STREAM_SPEC = [
    ("source", ""),
    ("n_tokens", "long"),
    ("vocab_present", "long"),
    ("tvd_permille", "long"),
]

_TVD_CSV_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("term", T.StringType()),
    ]
)


def _tvd_pair_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "source", F.explode(_tokens(F.col("text"))).alias("term")
    )


def _streaming_vocab_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-mix drift monitor maintained BY THE STREAM: each
    micro-batch appends its own (term, source, k) counts — the simplest
    mergeable partial, bounded by the batch vocabulary, not the batch
    row count — and the read side merges by SUM, then runs the same
    integer TVD math as the batch operator. Counts are a pure function
    of the token multiset (order- and batching-independent), so the
    batch oracle pins the streamed report exactly. This is how a
    production ingest watches its source mixture shift without ever
    re-scanning history: history lives pre-aggregated in the partials
    table."""
    from ..operators import text_analysis as ta

    work = workdir("tvd")
    materialize_landing(_tvd_pair_input(spark, sf_dir), f"{work}/landing")
    stream = (
        spark.readStream.schema(_TVD_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        .option("nullValue", "\x00")
        .csv(f"{work}/landing")
    )
    sink = f"{work}/sink"

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("term", "source")
            .agg(F.count("*").alias("k"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    query = (
        stream.writeStream.foreachBatch(write_partial)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    merged = (
        spark.read.parquet(sink)
        .groupBy("term", "source")
        .agg(F.sum("k").alias("k"))
    )
    return shape(ta.tvd_from_counts(merged), TVD_STREAM_SPEC)


def _tvd_stream_oracle() -> str:
    from ..operators import text_analysis as ta

    return sql_select(TVD_STREAM_SPEC, ta.vocab_divergence_tvd_sql("documents"))


# ------------------------------------------- streamed MG heavy hitters

MG_STREAM_SPEC = [
    ("bigram", ""),
    ("true_count", "long"),
    ("sketch_found", ""),
    ("within_bound", ""),
]

_MG_CSV_SCHEMA = T.StructType([T.StructField("item", T.StringType())])


def _mg_bigram_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    tk = _tokens(F.col("text"))
    d = docs.select(tk.alias("tk")).filter(F.size("tk") >= 2)
    return d.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("tk"), 1, F.size("tk") - 1),
                F.slice(F.col("tk"), 2, F.size("tk") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("item")
    )


def _streaming_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters maintained BY THE STREAM — completes
    the mergeable-sketch trio (CMS, HLL, MG) across micro-batch
    boundaries: each batch folds its own partitions' MG summaries
    (≤ 2k rows per partition, whatever the batch size) and appends
    them; the read side merges by SUM and reuses the batch bound
    algebra. The MG deficit bound is partitioning-independent (it uses
    Σ N_p, identical however the items were batched), so the batch
    oracle pins the streamed report's guarantee flags exactly."""
    from ..operators import sketches as sk

    work = workdir("mg")
    materialize_landing(_mg_bigram_input(spark, sf_dir), f"{work}/landing")
    stream = (
        spark.readStream.schema(_MG_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        .option("nullValue", "\x00")
        .csv(f"{work}/landing")
    )
    sink = f"{work}/sink"

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.mapInPandas(
                sk._mg_partition_summaries(sk.MG_COUNTERS),
                schema="item string, mg_count long",
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    query = (
        stream.writeStream.foreachBatch(write_partial)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    merged = (
        spark.read.parquet(sink)
        .groupBy("item")
        .agg(F.sum("mg_count").alias("mg_count"))
    )
    items = _mg_bigram_input(spark, sf_dir)  # batch ground-truth side
    return shape(sk.mg_report(items, merged), MG_STREAM_SPEC)


def _mg_stream_oracle() -> str:
    from ..operators import sketches as sk

    return sql_select(MG_STREAM_SPEC, sk.mg_heavy_hitters_sql("documents"))


# ----------------------------------- custom Python streaming source

PYSTREAM_N_ROWS = 50_000
PYSTREAM_CHUNK = 10_000

PYSTREAM_SPEC = [
    ("device_id", ""),
    ("n", "long"),
    ("sum_centi", "long"),
    ("min_centi", "long"),
    ("max_centi", "long"),
]


def _streaming_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource consumed AS A STREAM (Spark 4
    `simpleStreamReader`): position offsets advance per micro-batch,
    the checkpoint commits them, and replayed ranges regenerate
    bit-identically (generation is a pure function of event_id) — the
    exactly-once contract for an engine-native custom streaming source.
    The sink accumulates every micro-batch; the end state equals the
    batch scan of the same id range, so the range()-regeneration oracle
    pins it exactly."""
    import time as _time

    from ..sources.pydatasource import register

    register(spark)
    work = workdir("pystream")
    sink = f"{work}/sink"
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", PYSTREAM_N_ROWS)
        .option("rows_per_batch", PYSTREAM_CHUNK)
        .load()
    )
    query = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(processingTime="0 seconds")
        .start()
    )
    # the source is position-bounded but the Simple reader API has no
    # availableNow admission control — poll the sink to the known total,
    # then stop (bounded by a hard timeout so a regression fails loudly)
    deadline = _time.time() + 120
    try:
        while _time.time() < deadline:
            try:
                if spark.read.parquet(sink).count() >= PYSTREAM_N_ROWS:
                    break
            except Exception:
                pass
            _time.sleep(0.5)
    finally:
        query.stop()
    out = (
        spark.read.parquet(sink)
        .groupBy("device_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("temp_centi").alias("sum_centi"),
            F.min("temp_centi").alias("min_centi"),
            F.max("temp_centi").alias("max_centi"),
        )
        .orderBy("device_id")
    )
    return shape(out, PYSTREAM_SPEC)


def _pystream_oracle() -> str:
    from ..sources import pydatasource as pds

    return sql_select(
        PYSTREAM_SPEC,
        f"""(
    SELECT 'DEV_' || CAST(i % {pds.N_DEVICES} AS VARCHAR) AS device_id,
        COUNT(*) AS n,
        SUM((i * {pds.MIX}) % {pds.TEMP_MOD} - 2000) AS sum_centi,
        MIN((i * {pds.MIX}) % {pds.TEMP_MOD} - 2000) AS min_centi,
        MAX((i * {pds.MIX}) % {pds.TEMP_MOD} - 2000) AS max_centi
    FROM (SELECT UNNEST(range(0, {PYSTREAM_N_ROWS})) AS i) t
    GROUP BY 1
    ORDER BY device_id
) ps""",
    )


def _streaming_custom_source_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PARTITION-PLANNED custom streaming source (Spark 4
    `streamReader`) — the data-plane counterpart of
    streaming_custom_source's driver-prefetch Simple reader:
    latestOffset admits a bounded range per trigger, partitions() slices
    it into id-range InputPartitions (two ints each), and read() runs
    on EXECUTORS with the batch reader's vectorized Arrow generation —
    rows never touch the driver. Same deterministic end state, same
    range()-regeneration oracle."""
    import time as _time

    from ..sources.pydatasource import register

    register(spark)
    work = workdir("pystreamd")
    sink = f"{work}/sink"
    stream = (
        spark.readStream.format("synthetic_events_dist")
        .option("n_rows", PYSTREAM_N_ROWS)
        .option("rows_per_batch", PYSTREAM_CHUNK)
        .option("partitions_per_batch", 4)
        .load()
    )
    query = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = _time.time() + 120
    try:
        while _time.time() < deadline:
            try:
                if spark.read.parquet(sink).count() >= PYSTREAM_N_ROWS:
                    break
            except Exception:
                pass
            _time.sleep(0.5)
    finally:
        query.stop()
    out = (
        spark.read.parquet(sink)
        .groupBy("device_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("temp_centi").alias("sum_centi"),
            F.min("temp_centi").alias("min_centi"),
            F.max("temp_centi").alias("max_centi"),
        )
        .orderBy("device_id")
    )
    return shape(out, PYSTREAM_SPEC)


# --------------------------------------- streamed histogram quantiles

HISTQ_STREAM_SPEC = [
    ("q", "long"),
    ("n", "long"),
    ("est_cents", "long"),
]

_HISTQ_CSV_SCHEMA = T.StructType([T.StructField("bin", T.LongType())])


def _histq_bin_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as sk

    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return li.select(
        (cents / sk.HIST_WIDTH_CENTS).cast("long").alias("bin")
    )


def _streaming_histq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram quantiles maintained BY THE STREAM — the
    fourth streamed mergeable sketch (CMS, HLL, MG, histogram): each
    micro-batch appends its own (bin, cnt) partial — bounded by the
    value range over the bin width, not the batch size — and the read
    side merges by SUM, then runs the same exact-integer CDF probes as
    the batch sketch. Bin counts are a pure function of the value
    multiset, so the batch oracle pins every streamed estimate."""
    from ..operators import sketches as sk

    work = workdir("histq")
    materialize_landing(_histq_bin_input(spark, sf_dir), f"{work}/landing")
    stream = (
        spark.readStream.schema(_HISTQ_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        .csv(f"{work}/landing")
    )
    sink = f"{work}/sink"

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("bin")
            .agg(F.count("*").alias("cnt"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    query = (
        stream.writeStream.foreachBatch(write_partial)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    merged = (
        spark.read.parquet(sink).groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    )
    return shape(sk.histogram_quantile_report(merged), HISTQ_STREAM_SPEC)


def _histq_stream_oracle() -> str:
    from ..operators import sketches as sk

    return sql_select(HISTQ_STREAM_SPEC, sk.histogram_quantiles_sql())




# ------------------------------------------- streamed MAD partials

MAD_STREAM_SPEC = [
    ("event_type", ""),
    ("n", "long"),
    ("median_cents", "long"),
    ("mad_cents", "long"),
    ("n_outliers", "long"),
    ("outlier_permille", "long"),
]

_MAD_CSV_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("cents", T.LongType()),
    ]
)


def _mad_value_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )


def _streaming_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-outlier MAD gate maintained BY THE STREAM — the fifth
    streamed mergeable sketch (CMS, HLL, MG, histogram, now the value
    CDF): each micro-batch appends its own (event_type, cents, cnt)
    partial — bounded by types x distinct cents, not batch size — and
    the read side merges by SUM, then runs the identical one-job
    window chain as the batch operator (profiling.mad_from_cents_tab).
    Grouped counts are a pure function of the value multiset, so the
    batch oracle pins every streamed median/MAD/flag bit-for-bit,
    regardless of how files split into micro-batches."""
    from ..operators import profiling as pf

    work = workdir("madp")
    materialize_landing(_mad_value_input(spark, sf_dir), f"{work}/landing")
    stream = (
        spark.readStream.schema(_MAD_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        .csv(f"{work}/landing")
    )
    sink = f"{work}/sink"

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type", "cents")
            .agg(F.count("*").alias("cnt"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    query = (
        stream.writeStream.foreachBatch(write_partial)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    merged = (
        spark.read.parquet(sink)
        .groupBy("event_type", "cents")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return shape(pf.mad_from_cents_tab(merged), MAD_STREAM_SPEC)


NOVELTY_STREAM_SPEC = [
    ("bucket", "long"),
    ("n_docs", "long"),
    ("n_new", "long"),
    ("docs_cum", "long"),
    ("new_cum", "long"),
    ("novelty_ppm", "long"),
    ("marginal_novelty_ppm", "long"),
]

_NOVELTY_CSV_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType()),
        T.StructField("h", T.StringType()),
    ]
)


def _streaming_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve maintained BY THE STREAM — the crawl-monitor
    twin of dedup.corpus_dedup_curve ("is this source exhausting LIVE,
    while the crawl runs?"): each micro-batch appends its own grouped
    (bucket, h, cnt) partial — the per-batch distinct (batch, hash)
    cells — and the read side merges by SUM into the identical
    curve-from-cells chain. Both reductions the curve needs are
    mergeable (counts by SUM, first-bucket by MIN), so the streamed
    curve is a pure function of the document multiset and the batch
    oracle pins every bucket row bit-for-bit, regardless of how files
    split into micro-batches (the streaming_mad_partials contract)."""
    from ..operators import dedup as dd

    work = workdir("novp")
    landing = dd.dedup_corpus(spark, sf_dir).select(
        dd.novelty_bucket_col().alias("bucket"), F.md5("text").alias("h")
    )
    materialize_landing(landing, f"{work}/landing")
    stream = (
        spark.readStream.schema(_NOVELTY_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 2)
        .csv(f"{work}/landing")
    )
    sink = f"{work}/sink"

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("bucket", "h")
            .agg(F.count("*").alias("cnt"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    query = (
        stream.writeStream.foreachBatch(write_partial)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    cells = (
        spark.read.parquet(sink)
        .groupBy("bucket", "h")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return shape(dd.curve_from_cells(cells), NOVELTY_STREAM_SPEC)


def _novelty_stream_oracle() -> str:
    from ..operators import dedup as dd

    return (
        "WITH "
        + dd.CORPUS_SQL.strip()
        + "\n"
        + sql_select(
            NOVELTY_STREAM_SPEC, dd.corpus_dedup_curve_sql("corpus")
        )
    )


def _mad_stream_oracle() -> str:
    from ..operators import profiling as pf

    return sql_select(MAD_STREAM_SPEC, pf.mad_outlier_gate_sql("events"))


STREAMING: dict[str, QuerySpec] = {
    "streaming_custom_source": QuerySpec(
        _streaming_custom_source, _pystream_oracle()
    ),
    "streaming_custom_source_dist": QuerySpec(
        _streaming_custom_source_dist, _pystream_oracle()
    ),
    "streaming_histq_partials": QuerySpec(_streaming_histq, _histq_stream_oracle()),
    "streaming_mad_partials": QuerySpec(_streaming_mad, _mad_stream_oracle()),
    "streaming_novelty_curve": QuerySpec(
        _streaming_novelty, _novelty_stream_oracle()
    ),
    "streaming_mg_partials": QuerySpec(_streaming_mg, _mg_stream_oracle()),
    "streaming_vocab_tvd": QuerySpec(_streaming_vocab_tvd, _tvd_stream_oracle()),
    "streaming_pq_encode": QuerySpec(_streaming_pq_encode, PQENC_ORACLE),
    "streaming_incremental_dedup": QuerySpec(
        _streaming_inc_dedup, _inc_dedup_oracle()
    ),
    "streaming_cms_partials": QuerySpec(_streaming_cms, _cms_stream_oracle()),
    "streaming_hll_partials": QuerySpec(_streaming_hll, _hll_stream_oracle()),
    "streaming_session_windows": QuerySpec(_streaming_sessions, SSESSION_ORACLE),
    "streaming_outer_interval_join": QuerySpec(
        _streaming_outer_join, OUTER_JOIN_ORACLE
    ),
    "streaming_cdc_upsert": QuerySpec(_streaming_cdc_upsert, CDC_ORACLE),
    "streaming_incremental_mart": QuerySpec(
        _streaming_incremental_mart, INC_MART_ORACLE
    ),
    "streaming_ingest_kaggle": QuerySpec(_streaming_ingest, INGEST_SQL),
    "streaming_interval_join": QuerySpec(_streaming_interval_join, SSJOIN_ORACLE),
    "streaming_static_enrich": QuerySpec(_streaming_static_enrich, ENRICH_ORACLE),
    "streaming_dedup_exact": QuerySpec(_streaming_dedup, DEDUP_ORACLE),
    "streaming_dedup_latest_wins": QuerySpec(_streaming_latest_wins, LATEST_ORACLE),
    "streaming_tumbling_watermark": QuerySpec(_streaming_tumbling, WINDOW_ORACLE),
    "streaming_stateful_device_stats": QuerySpec(_streaming_stateful, STATEFUL_ORACLE),
}


# ------------------------------------- streaming SQ8 index maintenance

SQ8ENC_SPEC = [
    ("vec_id", "long"),
    ("m", "long"),
    ("code_sum", "long"),
    ("code_norm2", "long"),
]


def _streaming_sq8_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static SQ8 encoding — streaming_pq_encode's training-free
    sibling: arriving vectors are int8-quantized per micro-batch by the
    same map-side projection the batch index build uses
    (operators/sq8.py sq8_encode), so the compressed scan table stays
    fresh without rebuilds. Stateless per-row transform =>
    split-invariant => the batch encode is the exact oracle. Codes are
    summarized per vector (sum + exact norm²) so the sink schema stays
    flat-typed; both are exact integers."""
    from ..operators import sq8 as sq8op
    from ..operators.similarity import _with_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    work = workdir("sq8enc")
    emb.repartition(4).write.mode("overwrite").parquet(f"{work}/landing")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/landing")
    )
    enc = sq8op.sq8_encode(_with_quantized(stream)).select(
        "vec_id",
        "m",
        F.aggregate(
            F.col("code"), F.lit(0).cast("long"), lambda a, v: a + v
        ).alias("code_sum"),
        F.aggregate(
            F.col("code"), F.lit(0).cast("long"), lambda a, v: a + v * v
        ).alias("code_norm2"),
    )
    run_available_now(enc, f"{work}/sink", f"{work}/ckpt")
    return shape(spark.read.parquet(f"{work}/sink"), SQ8ENC_SPEC)


def _sq8enc_oracle() -> str:
    from ..operators import sq8 as sq8op
    from ..operators.similarity import QUANT_SQL

    return (
        "WITH "
        + QUANT_SQL.strip()
        + ",\n"
        + sq8op.SQ8_CTE_SQL.strip()
        + sql_select(
            SQ8ENC_SPEC,
            """(
    SELECT vec_id, m,
        list_sum(code) AS code_sum,
        list_sum(list_transform(code, v -> v * v)) AS code_norm2
    FROM sq8codes
) s""",
        )
    )


STREAMING["streaming_sq8_encode"] = QuerySpec(
    _streaming_sq8_encode, _sq8enc_oracle()
)


# ----------------------------- streamed winnowing novelty (delta crawl)

WINNOW_NOVELTY_SPEC = [
    ("doc_id", "long"),
    ("n_fp", "long"),
    ("n_novel_fp", "long"),
    ("novelty_permille", "long"),
]


def _streaming_winnowing_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing/MOSS family's delta-crawl form AS A STREAM
    (VERDICT r9 #7 — the dedup_incremental_winnowing twin): the crawl
    increment (doc_id % 3 == 0 of the dup-injected corpus) arrives
    through a parquet landing zone in micro-batches; each batch
    computes its documents' winnowing fingerprints with the
    ZERO-exchange array-native build (a pure projection — streamable
    with no watermark, no state store) and LEFT ANTI joins the FROZEN
    history fingerprint set (stream-static join). Novel fingerprints
    append to the sink; per-doc novelty is the finishing batch query
    over the sink (COUNT DISTINCT per doc — each doc lives in exactly
    one batch, so sink-side distinct is exact and the stream itself
    stays stateless). History membership is static => the end state is
    batching- and order-independent => the batch oracle pins the
    streamed result exactly. At 100 TB history's fingerprint set is
    the frozen written index refreshed per snapshot; each micro-batch
    pays fingerprint-build + an increment-sized probe against it."""
    from ..operators.dedup import dedup_corpus
    from ..operators.text_analysis import (
        WINNOW_INC_MOD,
        cached_winnowing_fps,
        winnowing_fingerprints,
    )

    corpus = dedup_corpus(spark, sf_dir)
    inc = corpus.filter(F.col("doc_id") % WINNOW_INC_MOD == 0)
    fp = cached_winnowing_fps(spark, sf_dir)
    # frozen history fingerprint SET (distinct hashes): a stream-static
    # join re-executes the static plan per micro-batch — persist makes
    # it a build-once hash table (at 100 TB: a written index, not a cache)
    hist_set = (
        fp.filter(F.col("doc_id") % WINNOW_INC_MOD != 0)
        .select("fp_hash")
        .distinct()
        .persist()
    )
    work = workdir("winnovel")
    inc.select("doc_id", "text").repartition(4).write.mode("overwrite").parquet(
        f"{work}/landing"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/landing")
    )
    novel = (
        winnowing_fingerprints(stream)
        .select("doc_id", "fp_hash")
        .join(hist_set, "fp_hash", "left_anti")
    )
    run_available_now(novel, f"{work}/sink", f"{work}/ckpt")
    # an increment whose docs ALL duplicate history writes zero novel
    # rows (no parquet files at all) — read with an explicit schema and
    # fall back to an empty frame so the all-zero novelty report still
    # comes out (review r10)
    import os as _os

    sink_schema = "doc_id long, fp_hash long"
    if any(
        f.endswith(".parquet")
        for f in (_os.listdir(f"{work}/sink") if _os.path.isdir(f"{work}/sink") else [])
    ):
        sunk = spark.read.schema(sink_schema).parquet(f"{work}/sink")
    else:
        sunk = spark.createDataFrame([], sink_schema)
    novel_counts = sunk.groupBy("doc_id").agg(
        F.countDistinct("fp_hash").alias("n_novel_fp")
    )
    inc_counts = (
        fp.filter(F.col("doc_id") % WINNOW_INC_MOD == 0)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_fp"))
    )
    df = inc_counts.join(novel_counts, "doc_id", "left").select(
        "doc_id",
        "n_fp",
        F.coalesce("n_novel_fp", F.lit(0)).alias("n_novel_fp"),
        F.expr(
            "div(1000 * coalesce(n_novel_fp, 0), n_fp)"
        ).alias("novelty_permille"),
    )
    return shape(df, WINNOW_NOVELTY_SPEC)


def _winnowing_novelty_oracle() -> str:
    from ..operators.dedup import CORPUS_SQL
    from ..operators.text_analysis import (
        WINNOW_INC_MOD,
        winnowing_fingerprints_sql,
    )

    m = WINNOW_INC_MOD
    return (
        "WITH "
        + CORPUS_SQL.strip()
        + sql_select(
            WINNOW_NOVELTY_SPEC,
            f"""(
    WITH wn_fp AS (
        SELECT DISTINCT doc_id, fp_hash
        FROM {winnowing_fingerprints_sql("corpus")}
    ),
    wn_hist AS (
        SELECT DISTINCT fp_hash FROM wn_fp WHERE doc_id % {m} != 0
    ),
    wn_inc AS (
        SELECT doc_id, COUNT(*) AS n_fp
        FROM wn_fp WHERE doc_id % {m} = 0 GROUP BY doc_id
    ),
    wn_novel AS (
        SELECT f.doc_id, COUNT(*) AS n_novel_fp
        FROM wn_fp f
        WHERE f.doc_id % {m} = 0
          AND NOT EXISTS (SELECT 1 FROM wn_hist h WHERE h.fp_hash = f.fp_hash)
        GROUP BY f.doc_id
    )
    SELECT i.doc_id, i.n_fp,
        COALESCE(nv.n_novel_fp, 0) AS n_novel_fp,
        (1000 * COALESCE(nv.n_novel_fp, 0)) // i.n_fp AS novelty_permille
    FROM wn_inc i
    LEFT JOIN wn_novel nv ON i.doc_id = nv.doc_id
) s""",
        )
    )


STREAMING["streaming_winnowing_novelty"] = QuerySpec(
    _streaming_winnowing_novelty, _winnowing_novelty_oracle()
)


# --------------------------- streamed bigram-LM model partials

BIGRAM_LM_TOPN = 50

BIGRAM_LM_SPEC = [
    ("bg", ""),
    ("c2", "long"),
    ("bits", "long"),
]


def _streaming_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bigram LM behind quality_bigram_surprisal maintained BY THE
    STREAM: every micro-batch appends its own (bigram, count) partial
    via foreachBatch — batch-vocabulary-sized, never batch-row-sized —
    and the read side merges partials by summing per bigram (counts
    are a pure function of the token multiset ⇒ batching- and
    arrival-order-independent ⇒ the batch oracle pins the streamed
    model exactly; the mergeable-sketch contract of
    streaming_cms_partials applied to an n-gram LM). The final digest
    re-derives the conditional floor-log2 bits from the merged model
    (window over the context token — vocab-sized) and reports the
    top-N bigrams by count, ties to bigram ascending. This is how a
    crawl pipeline keeps its perplexity-gate LM fresh without corpus
    rebuilds: per-batch partials into the model store, serve-side
    merge."""
    from ..functions.text import shingles_of_tokens, tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    work = workdir("bigramlm")
    docs.repartition(4).write.mode("overwrite").parquet(f"{work}/landing")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/landing")
    )
    sink = f"{work}/sink"

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(tokens(F.col("text")).alias("tk"))
            .select(F.explode(shingles_of_tokens(F.col("tk"), 2)).alias("bg"))
            .groupBy("bg")
            .agg(F.count("*").alias("cnt"))
            # batch_id provenance, the file's mergeable-partials
            # convention (cms/hll partials) — merge ignores it, debug
            # attribution needs it
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    query = (
        stream.writeStream.foreachBatch(write_partial)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    merged = (
        spark.read.parquet(sink).groupBy("bg").agg(F.sum("cnt").alias("c2"))
    )
    from ..operators.text_analysis import bigram_bits_from_counts

    digest = (
        bigram_bits_from_counts(merged)
        .orderBy(F.col("c2").desc(), F.col("bg"))
        .limit(BIGRAM_LM_TOPN)
    )
    return shape(digest, BIGRAM_LM_SPEC)


def _bigram_lm_oracle() -> str:
    return sql_select(
        BIGRAM_LM_SPEC,
        f"""(
    WITH blm_c2 AS (
        SELECT bg, COUNT(*) AS c2 FROM (
            SELECT unnest(list_transform(
                generate_series(1, greatest(len(tk) - 1, 0)),
                i -> tk[i] || ' ' || tk[i+1])) AS bg
            FROM (
                SELECT regexp_split_to_array(lower(text), '\\s+') AS tk
                FROM documents
            ) t
        ) GROUP BY 1
    ),
    blm_bits AS (
        SELECT bg, c2,
            length(bin(SUM(c2) OVER (
                PARTITION BY string_split(bg, ' ')[1])))
            - length(bin(c2)) AS bits
        FROM blm_c2
    )
    SELECT bg, c2, bits FROM blm_bits
    ORDER BY c2 DESC, bg
    LIMIT {BIGRAM_LM_TOPN}
) blm""",
    )


STREAMING["streaming_bigram_lm_partials"] = QuerySpec(
    _streaming_bigram_lm, _bigram_lm_oracle()
)


# --------------------------- streamed corpus refresh (delta crawl e2e)


def _streaming_corpus_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-refresh composition AS A STREAM (VERDICT r10 #4 —
    the streamed twin of plans/corpus_specs' corpus_refresh_report):
    the crawl increment (doc_id % 3 == 0 of the dup-injected corpus)
    arrives through a parquet landing zone in micro-batches; each
    micro-batch runs the SAME admission kernel
    (operators/refresh.refresh_gate_report — exact-hash, winnowing
    near-dup, history-LM surprisal, one definition site with the batch
    row) against the FROZEN history artifacts via foreachBatch, and
    appends its per-doc gate rows to the sink. Every gate is a pure
    per-doc function of (doc, frozen history) and each doc lives in
    exactly one batch, so the sink's union is batching- and
    arrival-order-independent — the batch oracle pins the streamed
    result exactly. The co-batch contamination audit is the finishing
    batch query over the admitted set (refresh.attach_cobatch_flag) —
    as in production, where the audit runs after the refresh lands and
    before packing. At 100 TB each micro-batch pays
    increment-proportional probe joins into written history indexes;
    the audit is pair-table-sized."""
    from ..operators import refresh as rfo
    from ..operators.dedup import dedup_corpus
    from ..operators.tfidf import _query_side_hint

    hist_hashes, hist_fp_pruned, hist_fp_counts, bits = rfo.history_artifacts(
        spark, sf_dir
    )
    inc = (
        dedup_corpus(spark, sf_dir)
        .filter(F.col("doc_id") % rfo.WINNOW_INC_MOD == 0)
        .select("doc_id", "text")
    )
    work = workdir("corprefresh")
    inc.repartition(4).write.mode("overwrite").parquet(f"{work}/landing")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/landing")
    )
    sink = f"{work}/sink"
    hint = _query_side_hint(spark, sf_dir)

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            rfo.refresh_gate_report(
                batch_df,
                hist_hashes,
                hist_fp_pruned,
                hist_fp_counts,
                bits,
                count_hint=hint,
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    query = (
        stream.writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    # explicit schema + empty fallback (the streaming_winnowing_novelty
    # review-r10 convention) — an empty increment writes no files
    import os as _os

    sink_schema = (
        "doc_id long, n_exact long, n_fp long, best_overlap_permille long,"
        " n_bigrams long, n_oov long, mean_centibits long, action string,"
        " batch_id long"
    )
    if any(
        f.endswith(".parquet")
        for f in (_os.listdir(sink) if _os.path.isdir(sink) else [])
    ):
        gate = spark.read.schema(sink_schema).parquet(sink).drop("batch_id")
    else:
        gate = spark.createDataFrame([], sink_schema).drop("batch_id")
    from .corpus_specs import REFRESH_SPEC

    return shape(
        rfo.attach_cobatch_flag(spark, sf_dir, gate, count_hint=hint),
        REFRESH_SPEC,
    )


def _streaming_corpus_refresh_oracle() -> str:
    from .corpus_specs import CORPUS

    return CORPUS["corpus_refresh_report"].oracle


STREAMING["streaming_corpus_refresh"] = QuerySpec(
    _streaming_corpus_refresh, _streaming_corpus_refresh_oracle()
)


# --------------------------- streamed trigram-LM model partials

TRIGRAM_LM_TOPN = 50

TRIGRAM_LM_SPEC = [
    ("tg", ""),
    ("c3", "long"),
    ("bits", "long"),
]


def _streaming_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ADD-ONE-SMOOTHED trigram LM behind quality_trigram_surprisal
    maintained BY THE STREAM — the smoothed-model twin of
    streaming_bigram_lm_partials with one extra mergeable artifact:
    smoothing needs the vocabulary size V, and a count-distinct is NOT
    sum-mergeable, so each micro-batch appends its DISTINCT token set
    (batch-vocab-sized rows) alongside its (trigram, count) partial;
    the read side merges counts by summing and derives V as a distinct
    count over the union of token partials — both pure functions of
    the token multiset, so batching and arrival order cannot change
    the merged model and the batch oracle pins it exactly. The digest
    reports the top-N trigrams by count with their smoothed bits
    (trigram_bits_from_counts — the same formula the batch gate
    applies)."""
    from ..functions.text import shingles_of_tokens, tokens
    from ..operators.text_analysis import trigram_bits_from_counts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    work = workdir("trigramlm")
    docs.repartition(4).write.mode("overwrite").parquet(f"{work}/landing")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/landing")
    )
    tg_sink = f"{work}/tg_sink"
    tok_sink = f"{work}/tok_sink"

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        tok = batch_df.select(tokens(F.col("text")).alias("tk"))
        (
            tok.select(
                F.explode(shingles_of_tokens(F.col("tk"), 3)).alias("tg")
            )
            .groupBy("tg")
            .agg(F.count("*").alias("cnt"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(tg_sink)
        )
        (
            tok.select(F.explode("tk").alias("w"))
            .distinct()
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(tok_sink)
        )

    query = (
        stream.writeStream.foreachBatch(write_partials)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    merged = (
        spark.read.parquet(tg_sink).groupBy("tg").agg(F.sum("cnt").alias("c3"))
    )
    vsz = spark.read.parquet(tok_sink).agg(
        F.count_distinct("w").alias("v")
    )
    digest = (
        trigram_bits_from_counts(merged, vsz)
        .orderBy(F.col("c3").desc(), F.col("tg"))
        .limit(TRIGRAM_LM_TOPN)
    )
    return shape(digest, TRIGRAM_LM_SPEC)


def _trigram_lm_oracle() -> str:
    return sql_select(
        TRIGRAM_LM_SPEC,
        f"""(
    WITH tlm_tok AS (
        SELECT regexp_split_to_array(lower(text), '\\s+') AS tk
        FROM documents
    ),
    tlm_c3 AS (
        SELECT tg, COUNT(*) AS c3 FROM (
            SELECT unnest(list_transform(
                generate_series(1, greatest(len(tk) - 2, 0)),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tg
            FROM tlm_tok
        ) GROUP BY 1
    ),
    tlm_v AS (
        SELECT COUNT(DISTINCT w) AS v
        FROM (SELECT unnest(tk) AS w FROM tlm_tok)
    ),
    tlm_bits AS (
        SELECT tg, c3,
            length(bin(SUM(c3) OVER (PARTITION BY
                array_to_string(list_slice(string_split(tg, ' '), 1, 2), ' '))
                + v.v))
            - length(bin(c3 + 1)) AS bits
        FROM tlm_c3 CROSS JOIN tlm_v v
    )
    SELECT tg, c3, bits FROM tlm_bits
    ORDER BY c3 DESC, tg
    LIMIT {TRIGRAM_LM_TOPN}
) tlm""",
    )


STREAMING["streaming_trigram_lm_partials"] = QuerySpec(
    _streaming_trigram_lm, _trigram_lm_oracle()
)
