"""Oracle-checked registry queries for the extra source/sink formats:
JSON-lines roundtrip (sources/formats.py), partitioned-ORC roundtrip
with partition pruning, and the versioned table's latest-wins upsert
(sources/versioned.py).

Each query materializes real files in a scratch dir, drives the format
through Spark, and reduces to an aggregate whose DuckDB oracle is
computed directly from the original parquet — so the roundtrip (and
the merge semantics) are what is being checked, not the aggregate.

Timestamps cross the JSON boundary as epoch-microsecond longs (JSON has
no timestamp type; string round-trips invite tz/format drift).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.catalog import get_or_build, load_table, local_table
from ..sources.formats import read_jsonl
from ..streaming.core import workdir
from .registry import QuerySpec, shape, sql_select

_CENTI = "CAST(ROUND(value * 100) AS BIGINT)"


# --------------------------------------------------------- JSONL roundtrip

JSONL_SPEC = [
    ("event_type", ""),
    ("n", "long"),
    ("sum_centi", "long"),
    ("n_corrupt", "long"),
]

_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value_centi", T.LongType()),
    ]
)


def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON-lines files → schema-explicit read → aggregate.
    The corrupt-record column must stay all-NULL (count pinned 0 per
    group), proving the PERMISSIVE path is wired without firing."""
    ev = load_table(spark, sf_dir, "events")
    out = ev.select(
        F.col("event_id"),
        (F.unix_micros(F.col("ts"))).alias("ts_us"),
        F.col("event_type"),
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )
    work = workdir("jsonl")
    out.repartition(4).write.mode("overwrite").json(f"{work}/events_jsonl")
    back = read_jsonl(spark, f"{work}/events_jsonl", _JSONL_SCHEMA)
    df = (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value_centi").alias("sum_centi"),
            F.count("_corrupt_json").alias("n_corrupt"),
        )
        .orderBy("event_type")
    )
    return shape(df, JSONL_SPEC)


JSONL_SQL = sql_select(
    JSONL_SPEC,
    f"""(
    SELECT event_type, COUNT(*) AS n, SUM({_CENTI}) AS sum_centi,
           0 AS n_corrupt
    FROM events
    GROUP BY event_type
    ORDER BY event_type
) s""",
)


# ----------------------------------------------------------- ORC roundtrip

ORC_WINDOW = ("2024-01-10", "2024-01-14")

ORC_SPEC = [
    ("event_date", ""),
    ("n", "long"),
    ("sum_centi", "long"),
]


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC partitioned by event_date → read back with a 5-day
    partition filter → per-day aggregate. The filter prunes at the
    partition level (directory listing), not per-row — the same access
    path the parquet marts rely on, proven for a second columnar
    format."""
    ev = load_table(spark, sf_dir, "events")
    out = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    work = workdir("orc")
    out.write.mode("overwrite").partitionBy("event_date").orc(f"{work}/events_orc")
    back = spark.read.orc(f"{work}/events_orc").filter(
        F.col("event_date").between(*ORC_WINDOW)
    )
    df = (
        back.groupBy("event_date")
        .agg(F.count("*").alias("n"), F.sum("value_centi").alias("sum_centi"))
        .orderBy("event_date")
    )
    return shape(df, ORC_SPEC)


ORC_SQL = sql_select(
    ORC_SPEC,
    f"""(
    SELECT strftime(ts, '%Y-%m-%d') AS event_date, COUNT(*) AS n,
           SUM({_CENTI}) AS sum_centi
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') BETWEEN '{ORC_WINDOW[0]}' AND '{ORC_WINDOW[1]}'
    GROUP BY strftime(ts, '%Y-%m-%d')
    ORDER BY event_date
) s""",
)


# -------------------------------------------------------- versioned upsert

UPSERT_WINDOW = ("2024-01-05", "2024-01-09")
UPSERT_BUMP = 1000
INSERT_KEY_SHIFT = 1_000_000_000_000

UPSERT_SPEC = [
    ("event_type", ""),
    ("n", "long"),
    ("sum_centi", "long"),
]


def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins MERGE into a versioned table: the base table (events
    range-clustered by day) takes an update set confined to a 5-day
    window — every event_id % 7 row gets its value bumped, and
    event_id % 97 rows re-insert under a shifted key. Only the files
    holding those 5 days are rewritten (sources/versioned.py invariant:
    a key's layout value never changes). The aggregate over the merged
    table is checked against an oracle that states MERGE semantics as
    base-minus-updated-keys UNION ALL updates."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    # The pre-existing base table is test FIXTURE, not the operator
    # under test (a real MERGE runs against a table that already
    # exists). Build it once per version of sf_dir and give each
    # invocation a fresh copy (tmpfs copytree, milliseconds; manifest
    # paths are relative), so repeated runs measure the merge, not
    # re-creating the table.
    import shutil

    from ..sources.versioned import create_table, read_version, upsert

    def build():
        template = f"{workdir('upsert_base')}/events_table"
        create_table(spark, base, template, layout_col="event_date")
        return template

    template = get_or_build(spark, "upsert_base", sf_dir, build)
    work = workdir("upsert")
    table_dir = f"{work}/events_table"
    shutil.copytree(template, table_dir)

    in_window = base.filter(F.col("event_date").between(*UPSERT_WINDOW))
    updated = in_window.filter(F.col("event_id") % 7 == 0).withColumn(
        "value_centi", F.col("value_centi") + UPSERT_BUMP
    )
    inserted = in_window.filter(F.col("event_id") % 97 == 0).withColumn(
        "event_id", F.col("event_id") + INSERT_KEY_SHIFT
    )
    updates = updated.unionByName(inserted)
    upsert(spark, table_dir, updates, key_cols=["event_id"], layout_col="event_date")
    merged = read_version(spark, table_dir)
    df = (
        merged.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value_centi").alias("sum_centi"))
        .orderBy("event_type")
    )
    return shape(df, UPSERT_SPEC)


UPSERT_SQL = sql_select(
    UPSERT_SPEC,
    f"""(
    WITH base AS (
        SELECT event_id, event_type, {_CENTI} AS value_centi,
               strftime(ts, '%Y-%m-%d') AS event_date
        FROM events
    ),
    upd AS (
        SELECT event_id, event_type, value_centi + {UPSERT_BUMP} AS value_centi,
               event_date
        FROM base
        WHERE event_id % 7 = 0
          AND event_date BETWEEN '{UPSERT_WINDOW[0]}' AND '{UPSERT_WINDOW[1]}'
        UNION ALL
        SELECT event_id + {INSERT_KEY_SHIFT}, event_type, value_centi, event_date
        FROM base
        WHERE event_id % 97 = 0
          AND event_date BETWEEN '{UPSERT_WINDOW[0]}' AND '{UPSERT_WINDOW[1]}'
    ),
    merged AS (
        SELECT * FROM base WHERE event_id NOT IN (SELECT event_id FROM upd)
        UNION ALL
        SELECT * FROM upd
    )
    SELECT event_type, COUNT(*) AS n, SUM(value_centi) AS sum_centi
    FROM merged
    GROUP BY event_type
    ORDER BY event_type
) s""",
)


FORMATS: dict[str, QuerySpec] = {
    "jsonl_roundtrip": QuerySpec(jsonl_roundtrip, JSONL_SQL),
    "orc_roundtrip": QuerySpec(orc_roundtrip, ORC_SQL),
    "upsert_merge": QuerySpec(upsert_merge, UPSERT_SQL),
}


# ---------------------------------------------- custom Python data source

# Sized so generation THROUGHPUT dominates the Python-source planning
# round-trip (~0.5 s fixed): with the Arrow-batched reader Spark
# generates ~25M rows/s, so 10M rows is ~0.5 s of real work — a
# throughput benchmark, not a machinery benchmark.
CUSTOM_N_ROWS = 10_000_000
CUSTOM_LO, CUSTOM_HI = 1_000_000, 9_000_000

CUSTOM_SPEC = [
    ("device_id", ""),
    ("n", "long"),
    ("sum_centi", "long"),
    ("min_centi", "long"),
    ("max_centi", "long"),
]


def custom_source_device_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the custom Python DataSource (sources/pydatasource.py) with
    an event_id range filter — pushed into the reader, which prunes
    whole partitions at planning time — then aggregate per device. The
    generator is a pure function of event_id, so the oracle regenerates
    the identical dataset from range() in SQL; sf_dir is unused (the
    source IS the data)."""
    from ..sources.pydatasource import load_synthetic_events

    df = load_synthetic_events(spark, CUSTOM_N_ROWS, 32).filter(
        (F.col("event_id") >= CUSTOM_LO) & (F.col("event_id") < CUSTOM_HI)
    )
    out = (
        df.groupBy("device_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("temp_centi").alias("sum_centi"),
            F.min("temp_centi").alias("min_centi"),
            F.max("temp_centi").alias("max_centi"),
        )
        .orderBy("device_id")
    )
    return shape(out, CUSTOM_SPEC)


CUSTOM_SQL = sql_select(
    CUSTOM_SPEC,
    f"""(
    SELECT 'DEV_' || CAST(i % {50} AS VARCHAR) AS device_id,
        COUNT(*) AS n,
        SUM((i * {2654435761}) % {4001} - 2000) AS sum_centi,
        MIN((i * {2654435761}) % {4001} - 2000) AS min_centi,
        MAX((i * {2654435761}) % {4001} - 2000) AS max_centi
    FROM (SELECT UNNEST(range({CUSTOM_LO}, {CUSTOM_HI})) AS i) t
    GROUP BY 1
    ORDER BY device_id
) s""",
)


FORMATS["custom_source_device_stats"] = QuerySpec(
    custom_source_device_stats, CUSTOM_SQL
)


# ------------------------------------------- schema evolution (mergeSchema)

EVOLVE_SPEC = [
    ("half", ""),
    ("n", "long"),
    ("sum_centi", "long"),
    ("n_quality", "long"),
    ("sum_quality", "long"),
]


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations: generation 1 (days
    1-15) lacks the `quality` column that generation 2 (days 16-30)
    adds. `mergeSchema` unions the footers into one schema; v1 rows
    surface NULL quality — the additive-column contract every long-
    lived lake table relies on. (At 100 TB you pin the merged schema in
    a catalog instead of re-merging footers per read; the read
    semantics are identical.)"""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
        F.to_date("ts").alias("d"),
    )
    work = workdir("evolve")
    v1 = base.filter(F.col("d") < F.lit("2024-01-16")).drop("d")
    v2 = (
        base.filter(F.col("d") >= F.lit("2024-01-16"))
        .withColumn("quality", F.col("value_centi") % 5)
        .drop("d")
    )
    v1.write.parquet(f"{work}/gen1")
    v2.write.parquet(f"{work}/gen2")
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{work}/gen1", f"{work}/gen2"
    )
    df = (
        merged.withColumn(
            "half", F.when(F.col("quality").isNull(), "gen1").otherwise("gen2")
        )
        .groupBy("half")
        .agg(
            F.count("*").alias("n"),
            F.sum("value_centi").alias("sum_centi"),
            F.count("quality").alias("n_quality"),
            F.sum(F.coalesce(F.col("quality"), F.lit(0))).alias("sum_quality"),
        )
        .orderBy("half")
    )
    return shape(df, EVOLVE_SPEC)


EVOLVE_SQL = sql_select(
    EVOLVE_SPEC,
    f"""(
    SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                THEN 'gen1' ELSE 'gen2' END AS half,
        COUNT(*) AS n,
        SUM({_CENTI}) AS sum_centi,
        SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16' THEN 1 ELSE 0 END)
            AS n_quality,
        SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                 THEN {_CENTI} % 5 ELSE 0 END) AS sum_quality
    FROM events
    GROUP BY 1
    ORDER BY half
) s""",
)


FORMATS["schema_evolution_read"] = QuerySpec(schema_evolution_read, EVOLVE_SQL)


# --------------------------------------------------------- SQL API parity

SQLAPI_SPEC = [
    ("r_name", ""),
    ("n_orders", "long"),
    ("revenue", "f2"),
]


def sql_api_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same engine through its SQL front door: fixture tables
    registered as temp views (sources/catalog.register_views), the
    query authored as SQL text — Catalyst compiles it to the same plan
    a DataFrame program gets (SURVEY.md §3.3's dual-API requirement).
    Exact-cents revenue per region over the 4-table join."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    df = spark.sql(
        """
        SELECT r_name,
            COUNT(DISTINCT o_orderkey) AS n_orders,
            CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                          * (1000 - CAST(ROUND(l_discount * 1000) AS BIGINT))
                          AS DECIMAL(38,0))) AS DOUBLE) / 100000.0 AS revenue
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ON n_nationkey = c_nationkey
        JOIN region ON r_regionkey = n_regionkey
        GROUP BY r_name
        ORDER BY r_name
        """
    )
    return shape(df, SQLAPI_SPEC)


SQLAPI_SQL = sql_select(
    SQLAPI_SPEC,
    """(
    SELECT r_name,
        COUNT(DISTINCT o_orderkey) AS n_orders,
        CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (1000 - CAST(ROUND(l_discount * 1000) AS BIGINT)))
             AS DOUBLE) / 100000.0 AS revenue
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name
    ORDER BY r_name
) s""",
)


FORMATS["sql_api_regional_revenue"] = QuerySpec(
    sql_api_regional_revenue, SQLAPI_SQL
)


# ------------------------------------------------------------ JDBC roundtrip

JDBC_SPEC = [
    ("n_name", ""),
    ("n_suppliers", "long"),
    ("sum_acctbal_centi", "long"),
]


def jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Postgres load path (`dlt_ingest/
    iot_temperature_pipeline.py:262-267`) as a checkable roundtrip:
    supplier → JDBC table (Derby embedded, same Spark code path as
    Postgres) with pinned VARCHAR DDL → partitioned parallel read (4
    range scans on s_suppkey) → broadcast-join nation → per-nation
    aggregate. The oracle recomputes the aggregate straight from the
    parquet, so what's verified is that rows/types survive the JDBC
    boundary bit-exactly."""
    import re as _re

    from ..sources.jdbc import derby_memory_url, jdbc_read, jdbc_write

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.round(F.col("s_acctbal") * 100).cast("long").alias("acctbal_centi"),
    )
    db = "sg_" + _re.sub(r"[^A-Za-z0-9]", "_", os.path.abspath(sf_dir))
    url = derby_memory_url(db)
    jdbc_write(
        sup,
        url,
        "supplier_mirror",
        create_table_column_types="s_name VARCHAR(25)",
    )
    lo, hi = sup.agg(F.min("s_suppkey"), F.max("s_suppkey")).first()
    back = jdbc_read(
        spark,
        url,
        "supplier_mirror",
        partition_column="s_suppkey",
        lower_bound=int(lo),
        upper_bound=int(hi) + 1,
        num_partitions=4,
    )
    nation = load_table(spark, sf_dir, "nation")
    df = (
        back.join(F.broadcast(nation), back.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum("acctbal_centi").alias("sum_acctbal_centi"),
        )
        .orderBy("n_name")
    )
    return shape(df, JDBC_SPEC)


JDBC_SQL = sql_select(
    JDBC_SPEC,
    """(
    SELECT n_name, COUNT(*) AS n_suppliers,
           SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS sum_acctbal_centi
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
) s""",
)


FORMATS["jdbc_roundtrip"] = QuerySpec(jdbc_roundtrip, JDBC_SQL)


# --------------------------------------------------- versioned time travel

TT_SPEC = [
    ("snapshot_version", "long"),
    ("event_type", ""),
    ("n", "long"),
    ("sum_centi", "long"),
]


def timetravel_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse-table semantics end-to-end (sources/versioned.py):
    events → versioned table (manifest commit, range-clustered
    immutable files) → copy-on-write upsert (same update algebra as
    `upsert_merge`, but producing version 2 while version 1 stays
    readable) → per-type aggregates of BOTH snapshots stacked under a
    snapshot_version column. The oracle recomputes v1 from the raw
    table and v2 from the stated MERGE algebra, so snapshot isolation
    (v1 bit-unchanged after the upsert) is what gets hash-checked."""
    from ..sources.versioned import create_table, read_version, upsert

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    table = f"{workdir('timetravel')}/events_versioned"
    create_table(spark, base, table, layout_col="event_date", n_files=8)
    in_window = base.filter(F.col("event_date").between(*UPSERT_WINDOW))
    updates = in_window.filter(F.col("event_id") % 7 == 0).withColumn(
        "value_centi", F.col("value_centi") + UPSERT_BUMP
    )
    upsert(spark, table, updates, key_cols=["event_id"], layout_col="event_date")

    def agg(df: DataFrame, v: int) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.lit(v).cast("long").alias("snapshot_version"),
            F.count("*").alias("n"),
            F.sum("value_centi").alias("sum_centi"),
        )

    df = (
        agg(read_version(spark, table, version=1), 1)
        .unionByName(agg(read_version(spark, table, version=2), 2))
        .select("snapshot_version", "event_type", "n", "sum_centi")
        .orderBy("snapshot_version", "event_type")
    )
    return shape(df, TT_SPEC)


TT_SQL = sql_select(
    TT_SPEC,
    f"""(
    WITH base AS (
        SELECT event_id, event_type, {_CENTI} AS value_centi,
               strftime(ts, '%Y-%m-%d') AS event_date
        FROM events
    ),
    upd AS (
        SELECT event_id, event_type, value_centi + {UPSERT_BUMP} AS value_centi,
               event_date
        FROM base
        WHERE event_id % 7 = 0
          AND event_date BETWEEN '{UPSERT_WINDOW[0]}' AND '{UPSERT_WINDOW[1]}'
    ),
    v2 AS (
        SELECT * FROM base WHERE event_id NOT IN (SELECT event_id FROM upd)
        UNION ALL
        SELECT * FROM upd
    )
    SELECT 1 AS snapshot_version, event_type, COUNT(*) AS n,
           SUM(value_centi) AS sum_centi
    FROM base GROUP BY event_type
    UNION ALL
    SELECT 2, event_type, COUNT(*), SUM(value_centi)
    FROM v2 GROUP BY event_type
    ORDER BY snapshot_version, event_type
) s""",
)


FORMATS["timetravel_upsert"] = QuerySpec(timetravel_upsert, TT_SQL)


# ---------------------------------------------------- compaction (OPTIMIZE)

COMPACT_SPEC = [
    ("snapshot_version", "long"),
    ("event_type", ""),
    ("n", "long"),
    ("sum_centi", "long"),
    ("compaction_shrank", ""),
]


def compact_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end (sources/versioned.py::compact):
    events → versioned table deliberately committed as many small
    range-clustered files → COW upsert (leaves the usual post-MERGE
    mixed layout) → OPTIMIZE-style compaction into few full files. The
    oracle pins that compaction is a PURE LAYOUT change: the per-type
    aggregates of the pre-compaction snapshot (v2) and the compacted
    snapshot (v3) hash-identically against the same MERGE algebra, and
    the file count strictly shrank (flag TRUE on every row)."""
    from ..sources.versioned import (
        compact,
        create_table,
        file_count,
        read_version,
        upsert,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    table = f"{workdir('compaction')}/events_versioned"
    create_table(spark, base, table, layout_col="event_date", n_files=16)
    in_window = base.filter(F.col("event_date").between(*UPSERT_WINDOW))
    updates = in_window.filter(F.col("event_id") % 7 == 0).withColumn(
        "value_centi", F.col("value_centi") + UPSERT_BUMP
    )
    upsert(
        spark, table, updates, key_cols=["event_id"], layout_col="event_date",
        n_files=8,
    )
    v3, _, _ = compact(
        spark, table, layout_col="event_date", small_rows=10**9, n_files=2
    )
    shrank = file_count(table, v3) < file_count(table, 2)

    def agg(df: DataFrame, v: int) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.lit(v).cast("long").alias("snapshot_version"),
            F.count("*").alias("n"),
            F.sum("value_centi").alias("sum_centi"),
            F.lit(shrank).alias("compaction_shrank"),
        )

    df = (
        agg(read_version(spark, table, version=2), 2)
        .unionByName(agg(read_version(spark, table, version=v3), 3))
        .select(
            "snapshot_version", "event_type", "n", "sum_centi",
            "compaction_shrank",
        )
        .orderBy("snapshot_version", "event_type")
    )
    return shape(df, COMPACT_SPEC)


COMPACT_SQL = sql_select(
    COMPACT_SPEC,
    f"""(
    WITH base AS (
        SELECT event_id, event_type, {_CENTI} AS value_centi,
               strftime(ts, '%Y-%m-%d') AS event_date
        FROM events
    ),
    upd AS (
        SELECT event_id, event_type, value_centi + {UPSERT_BUMP} AS value_centi,
               event_date
        FROM base
        WHERE event_id % 7 = 0
          AND event_date BETWEEN '{UPSERT_WINDOW[0]}' AND '{UPSERT_WINDOW[1]}'
    ),
    v2 AS (
        SELECT * FROM base WHERE event_id NOT IN (SELECT event_id FROM upd)
        UNION ALL
        SELECT * FROM upd
    )
    SELECT 2 AS snapshot_version, event_type, COUNT(*) AS n,
           SUM(value_centi) AS sum_centi, TRUE AS compaction_shrank
    FROM v2 GROUP BY event_type
    UNION ALL
    SELECT 3, event_type, COUNT(*), SUM(value_centi), TRUE
    FROM v2 GROUP BY event_type
    ORDER BY snapshot_version, event_type
) s""",
)

FORMATS["compact_versioned_files"] = QuerySpec(compact_versioned, COMPACT_SQL)


# ------------------------------------------- change data feed (CDF diff)

DIFF_SPEC = [
    ("change_type", ""),
    ("event_type", ""),
    ("n", "long"),
    ("sum_centi", "long"),
]

INSERT_SHIFT = 10_000_000
INSERT_BUMP = 77


def versioned_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two snapshots (Delta ``table_changes``
    analog, sources/versioned.py::diff_versions): events → versioned
    table → one MERGE carrying both updates (+UPSERT_BUMP on every 7th
    in-window key) and genuine inserts (new keys shifted by
    INSERT_SHIFT) → per-(change_type, event_type) counts/sums of the
    feed. The oracle recomputes the exact expected feed from the MERGE
    algebra — pre-images from the base table, post-images and inserts
    from the update set — so the file-symmetric-difference pruning in
    diff_versions is verified to lose nothing and invent nothing."""
    from ..sources.versioned import create_table, diff_versions, upsert

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    table = f"{workdir('cdfdiff')}/events_versioned"
    create_table(spark, base, table, layout_col="event_date", n_files=8)
    in_window = base.filter(F.col("event_date").between(*UPSERT_WINDOW))
    updates = in_window.filter(F.col("event_id") % 7 == 0).withColumn(
        "value_centi", F.col("value_centi") + UPSERT_BUMP
    )
    inserts = in_window.filter(F.col("event_id") % 7 == 3).select(
        (F.col("event_id") + INSERT_SHIFT).alias("event_id"),
        "event_type",
        (F.col("value_centi") + INSERT_BUMP).alias("value_centi"),
        "event_date",
    )
    upsert(
        spark,
        table,
        updates.unionByName(inserts),
        key_cols=["event_id"],
        layout_col="event_date",
    )
    feed = diff_versions(spark, table, 1, 2, key_cols=["event_id"])
    df = (
        feed.groupBy("change_type", "event_type")
        .agg(F.count("*").alias("n"), F.sum("value_centi").alias("sum_centi"))
        .orderBy("change_type", "event_type")
    )
    return shape(df, DIFF_SPEC)


DIFF_SQL = sql_select(
    DIFF_SPEC,
    f"""(
    WITH base AS (
        SELECT event_id, event_type, {_CENTI} AS value_centi,
               strftime(ts, '%Y-%m-%d') AS event_date
        FROM events
    ),
    winrows AS (
        SELECT * FROM base
        WHERE event_date BETWEEN '{UPSERT_WINDOW[0]}' AND '{UPSERT_WINDOW[1]}'
    )
    SELECT 'update_preimage' AS change_type, event_type,
           COUNT(*) AS n, SUM(value_centi) AS sum_centi
    FROM winrows WHERE event_id % 7 = 0 GROUP BY event_type
    UNION ALL
    SELECT 'update_postimage', event_type,
           COUNT(*), SUM(value_centi + {UPSERT_BUMP})
    FROM winrows WHERE event_id % 7 = 0 GROUP BY event_type
    UNION ALL
    SELECT 'insert', event_type,
           COUNT(*), SUM(value_centi + {INSERT_BUMP})
    FROM winrows WHERE event_id % 7 = 3 GROUP BY event_type
    ORDER BY change_type, event_type
) s""",
)

FORMATS["versioned_table_diff"] = QuerySpec(versioned_diff, DIFF_SQL)


# ------------------------------------- metadata-only stats (manifest counts)

MANIFEST_STATS_SPEC = [
    ("snapshot_version", "long"),
    ("total_rows", "long"),
    ("min_layout", ""),
    ("max_layout", ""),
]


def versioned_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only snapshot stats (the Delta/Iceberg `SELECT
    COUNT(*)` fast path): per version, file count, TOTAL ROWS, and the
    layout-column span — answered ENTIRELY from the commit log's
    per-file stats, zero data files opened. The oracle recomputes the
    same numbers from the raw table + MERGE algebra, so the manifests'
    row accounting (carried files by reference, rewritten files
    re-counted, inserts added) is what gets hash-checked. At 100 TB
    this is the difference between a 3 ms driver answer and a
    cluster-wide scan."""
    from ..sources.versioned import _read_manifest, create_table, upsert, versions

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    table = f"{workdir('manstats')}/events_versioned"
    create_table(spark, base, table, layout_col="event_date", n_files=8)
    in_window = base.filter(F.col("event_date").between(*UPSERT_WINDOW))
    updates = in_window.filter(F.col("event_id") % 7 == 0).withColumn(
        "value_centi", F.col("value_centi") + UPSERT_BUMP
    )
    inserts = in_window.filter(F.col("event_id") % 7 == 3).select(
        (F.col("event_id") + INSERT_SHIFT).alias("event_id"),
        "event_type",
        (F.col("value_centi") + INSERT_BUMP).alias("value_centi"),
        "event_date",
    )
    upsert(
        spark,
        table,
        updates.unionByName(inserts),
        key_cols=["event_id"],
        layout_col="event_date",
    )
    rows = []
    for v in versions(table):
        man = _read_manifest(table, v)
        rows.append(
            (
                v,
                sum(e["rows"] for e in man["files"]),
                min(e["min"] for e in man["files"]),
                max(e["max"] for e in man["files"]),
            )
        )
    df = local_table(
        spark,
        rows,
        "snapshot_version long, total_rows long, "
        "min_layout string, max_layout string",
    ).orderBy("snapshot_version")
    return shape(df, MANIFEST_STATS_SPEC)


MANIFEST_STATS_SQL = sql_select(
    MANIFEST_STATS_SPEC,
    f"""(
    WITH base AS (
        SELECT event_id, strftime(ts, '%Y-%m-%d') AS event_date FROM events
    ),
    ins AS (
        SELECT event_id + {INSERT_SHIFT} AS event_id, event_date
        FROM base
        WHERE event_id % 7 = 3
          AND event_date BETWEEN '{UPSERT_WINDOW[0]}' AND '{UPSERT_WINDOW[1]}'
    )
    SELECT 1 AS snapshot_version,
           COUNT(*) AS total_rows,
           MIN(event_date) AS min_layout, MAX(event_date) AS max_layout
    FROM base
    UNION ALL
    SELECT 2, (SELECT COUNT(*) FROM base) + (SELECT COUNT(*) FROM ins),
           (SELECT MIN(event_date) FROM base),
           (SELECT MAX(event_date) FROM base)
    ORDER BY snapshot_version
) s""",
)

FORMATS["versioned_manifest_stats"] = QuerySpec(
    versioned_manifest_stats, MANIFEST_STATS_SQL
)
