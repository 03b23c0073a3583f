"""Parquet table catalog over the driver-provided fixtures (TESTDATA.md).

The reference's "catalog" is Postgres schemas created by dlt/dbt
(`dlt_raw`, `dbt_staging`, ... — SURVEY.md §1.1). Here every table is a
parquet directory/file; reads are columnar and Catalyst prunes columns
and pushes filters into the scan, which replaces the reference's
secondary B-tree indexes (`models/marts/mart_temperature_readings.sql:4-12`).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The artifact cache: every build-once/serve-many artifact of the
# package (resolved tables, localCheckpointed indexes, table statistics,
# the registry mart) lives in ONE dict held on the SparkSession, keyed by
# (kind, abspath(path), params). Each entry stores the fingerprint of
# `path` it was built from: (size, mtime_ns) of a file, or the sorted
# (relpath, size, mtime_ns) of every file beneath a directory (which
# covers a versioned table's manifests). A lookup whose fingerprint
# still matches returns the stored object; any other lookup rebuilds and
# replaces the entry, so a fixture rewritten in place is never served
# stale and rewrites never grow the cache. A real deployment resolves
# the same once per table version in a metastore. Session-attached
# (rather than a module-level dict keyed by id(session)) because a
# DataFrame executes under the session that created it — a different
# session (e.g. an ANSI-on test session) must build its own — and so a
# stopped session's artifacts die WITH the session.


def _artifacts(spark: SparkSession) -> dict:
    if not hasattr(spark, "_sg_artifacts"):
        spark._sg_artifacts = {}
    return spark._sg_artifacts


def _fingerprint(path: str | None):
    if path is None:
        return None
    if os.path.isfile(path):
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    files = []
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            st = os.stat(full)
            files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def get_or_build(
    spark: SparkSession, kind: str, path: str | None, build: Callable, *params
):
    """The artifact ``kind`` built from the file or directory ``path``
    with ``params``: ``build()``'s result, reused while ``path``'s
    fingerprint is unchanged. ``path`` None is an artifact of the
    session alone.

    When ``path`` changed under an existing entry, Spark's own cached
    relations over it (an operator's ``persist()``) are stale too:
    Spark matches a cached plan by path, not by content. They are
    refreshed before the rebuild reads them."""
    cache = _artifacts(spark)
    key = (kind, None if path is None else os.path.abspath(path), params)
    fp = _fingerprint(path)
    hit = cache.get(key)
    if hit is not None:
        if hit[0] == fp:
            return hit[1]
        spark.catalog.refreshByPath(key[1])
    value = build()
    cache[key] = (fp, value)
    return value


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Timestamps in the fixtures are naive instants; DuckDB reads them
    # naive. A non-UTC session tz would shift every year()/date_format()
    # derivation on a caller-provided session, so pin it here at the
    # access path (runtime-settable, like the nanos conf below) rather
    # than trusting the session builder.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Resolving the table once per file version saves the file listing
    # and footer reads a bare `spark.read.parquet(path)` pays per call.
    return get_or_build(
        spark, "table", f"{sf_dir}/{name}.parquet",
        lambda: _resolve_table(spark, sf_dir, name),
    )


def local_table(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """Driver-side ``rows`` (tuples or ``Row``s, in ``schema``'s column
    order) as a DataFrame that plans as a JVM ``LocalRelation``.

    ``spark.createDataFrame`` over a Python list builds a Python RDD, so
    every job that reads the frame runs Python worker tasks. Over a
    ``pyarrow.Table`` it plans a LocalRelation instead, which executes
    as a LocalTableScan in the JVM: collecting it starts no job, and
    nothing that reads it starts a Python worker. Every driver-built
    table of the package comes through here. ``schema`` is a DDL string
    or a StructType."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)


def _resolve_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (older fixture
        # generations) and as TIMESTAMP(MICROS, isAdjustedToUTC=false)
        # (current), which Spark 4 reads as TIMESTAMP_NTZ. Normalize both
        # to plain TIMESTAMP so downstream epoch functions (unix_micros,
        # window, unix_timestamp) type-check identically either way:
        # - NANOS: Spark rejects by default (PARQUET_TYPE_ILLEGAL); read
        #   as long (runtime-settable legacy conf) and convert with
        #   integer `div` (double division loses precision: ns since
        #   2024 ≈ 1.7e18 > 2^53).
        # - NTZ: cast under the UTC session tz pinned above — wall-clock
        #   preserved, matching DuckDB's naive-timestamp reading.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "embeddings":
        # Every embeddings consumer is per-row vector math (quantized
        # cosine, centroid assignment) where the one-row-group fixture
        # would otherwise serialize the whole map stage on one core;
        # measured win on the kNN family. documents consumers measured
        # NET-WORSE with a forced spread (their expensive work happens
        # after their own exchanges, so the extra shuffle only added
        # cost) — they keep the plain scan.
        df = spread_small_scan(df, spark)
    return df


def spread_small_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Restore scan-stage parallelism for compute-heavy operators when
    the input's task count is far below the core count.

    Spark parallelizes a parquet scan at row-group granularity; a small
    table written as one file with one row group is a ONE-task scan no
    matter what ``files.maxPartitionBytes`` says, and every expression
    evaluated in that scan stage (tokenization, shingling, hashing,
    vector math) runs on a single core. For operators whose dominant
    cost is per-row compute in the map stage, a round-robin
    ``repartition`` of the raw rows buys back all cores for the price
    of shuffling the (small, by precondition) input once.

    Self-disabling at scale: the repartition is attached ONLY when the
    scan already has fewer partitions than half the cores — a 100 TB
    table scans as tens of thousands of row-group splits, so the
    condition never fires and the DataFrame passes through untouched.
    Call sites are the compute-heavy operators only; pure
    scan→aggregate queries keep their unshuffled pipeline."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so the SQL API can be
    used interchangeably with the DataFrame API (SURVEY.md §3.3)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def table_exists(spark: SparkSession, table: str, db: str | None = None) -> bool:
    """Catalog-introspection analog of the reference's `table_exists`
    dbt macro (`dbt_transform/macros/table_exists.sql:1-15`), which
    counts information_schema.tables rows for (schema, name). Spark's
    catalog IS the information schema here; a qualified name probes a
    specific database, exactly like the macro's schema argument."""
    qualified = f"{db}.{table}" if db else table
    return spark.catalog.tableExists(qualified)


def ensure_table(
    spark: SparkSession,
    table: str,
    build: Callable[[], DataFrame],
    overwrite: bool = False,
) -> DataFrame:
    """The macro's actual use in the reference: guard an incremental
    build — materialize only when the target is missing (or a refresh
    is forced), else reuse what the catalog already has. Returns the
    catalog table either way."""
    if overwrite or not table_exists(spark, table):
        build().write.mode("overwrite").saveAsTable(table)
    return spark.table(table)
