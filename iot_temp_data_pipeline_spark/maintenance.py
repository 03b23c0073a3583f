"""Table maintenance: the reference's cleanup/ANALYZE tasks
(SURVEY.md §2.1 S11/S12, `airflow/dags/iot_temperature_dag.py:249-305`).

- S11 retention: Postgres `DELETE WHERE ingestion_timestamp <
  CURRENT_DATE - 90 days` → immutable-storage rewrite: filter + overwrite
  (at scale: partition the table by date so the rewrite prunes to the
  expiring partitions only, or use a Delta/Iceberg DELETE).
- S12 stats refresh: `ANALYZE <table>` → `ANALYZE TABLE … COMPUTE
  STATISTICS [FOR ALL COLUMNS]`, feeding Spark's CBO (row counts, sizes,
  per-column NDV/min/max). AQE re-plans at runtime anyway, so this is
  the batch-planning complement, exactly like Postgres's ANALYZE fed its
  cost model.
- Layout: hash bucketing and Z-order clustering here. Small-files
  compaction is ``sources/versioned.compact``, which commits the packed
  files as a new table version, so readers never see a half-swapped
  directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.catalog import local_table


def apply_retention(
    df: DataFrame, ts_col: str = "ingestion_timestamp", days: int = 90
) -> DataFrame:
    """S11: keep only rows younger than the retention window (the
    rewrite-on-write form of the reference's DELETE)."""
    return df.filter(F.col(ts_col) >= F.date_sub(F.current_date(), days))


def materialize_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """S9's index analog at join time: hash-bucketed table layout.

    Two tables bucketed identically on the join key co-locate their
    buckets, so the join runs with NO shuffle exchange on either side —
    the Spark equivalent of the reference's B-tree-indexed mart join
    access path (`models/marts/mart_temperature_readings.sql:4-12`), and
    the standard trick for repeated large-×-large joins at 100 TB (pay
    the shuffle once at write time, never again per query).
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def materialize_and_analyze(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    all_columns: bool = True,
) -> dict[str, str]:
    """S12: persist a model as a catalog table and refresh optimizer
    statistics; returns the collected table stats for inspection."""
    df.write.mode("overwrite").saveAsTable(table)
    suffix = " FOR ALL COLUMNS" if all_columns else ""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS{suffix}")
    described = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return {r["col_name"]: str(r["data_type"]) for r in described if r["col_name"]}


def analyzed_column_stats(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    cols: list[str],
) -> DataFrame:
    """S12 as a queryable surface: materialize ``df`` as a catalog
    table, run `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS`
    (the exact analog of the reference's per-table `ANALYZE`,
    `airflow/dags/iot_temperature_dag.py:276-287`), and return the
    CBO's recorded statistics — table row count plus per-column
    null count and min/max — as a DataFrame.

    Row count, null counts, and min/max in Spark's catalog stats are
    exact aggregates, so they oracle-check against direct SQL over the
    source; `distinct_count` is a HyperLogLog estimate and is
    deliberately NOT exposed here (not exactly reproducible across
    engines)."""
    df.write.mode("overwrite").saveAsTable(table)
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR ALL COLUMNS")
    detail = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    stats_line = next(
        r["data_type"] for r in detail if r["col_name"] == "Statistics"
    )
    # "NNN bytes, MMM rows"
    table_rows = int(stats_line.split(",")[1].strip().split(" ")[0])
    out = []
    for c in cols:
        info = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(f"DESCRIBE EXTENDED {table} {c}").collect()
        }
        out.append((c, table_rows, int(info["num_nulls"]), info["min"], info["max"]))
    # stats are fully driver-materialized above — drop the probe table
    # so repeated runs don't accumulate copies in the warehouse dir
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    return local_table(
        spark,
        out,
        schema="col_name string, table_rows long, num_nulls long, "
        "min_value string, max_value string",
    )


def zorder_key(cols: list, bits: int = 8):
    """Bit-interleaved (Morton / Z-order) key over pre-quantized integer
    columns, as a pure Column expression (JVM-side, codegen-friendly).

    Each input must already be an integer in [0, 2**bits); the result
    interleaves their bits MSB-first, so rows close in the key are close
    in EVERY dimension at once — the property that makes multi-column
    min/max file skipping work where a lexicographic sort only prunes on
    its leading column (Delta/Iceberg's OPTIMIZE ZORDER, re-expressed
    with shiftleft/shiftright/bitwise-OR)."""
    if bits * len(cols) > 63:
        # the interleaved key lives in a signed long; overflowing it (or
        # shifting >= 64, which Java masks to shift & 63) would silently
        # misassign rows to boxes — fail loudly instead
        raise ValueError(
            f"zorder_key: bits*len(cols) = {bits * len(cols)} exceeds 63 "
            f"(signed-long key); lower bits to {63 // len(cols)} or fewer"
        )
    z = F.lit(0).cast("long")
    for b in range(bits - 1, -1, -1):
        for c in cols:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            )
    return z


def quantize_minmax(col, lo: float, hi: float, bits: int = 8):
    """Scale a numeric column to the integer grid [0, 2**bits) using
    known [lo, hi] bounds (one stats pass supplies them), clamped at the
    edges. Quantization only steers LAYOUT — queries still filter on
    the original values, so its precision affects skipping quality, not
    correctness."""
    n = (1 << bits) - 1
    span = (hi - lo) or 1.0
    scaled = F.floor((col - F.lit(lo)) / F.lit(span) * F.lit(n))
    return F.least(F.greatest(scaled, F.lit(0)), F.lit(n)).cast("long")


def cluster_zorder(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    n_files: int = 16,
) -> None:
    """Rewrite ``df`` as parquet clustered on the Z-order curve over
    ``cols`` — the maintenance job that makes multi-predicate scans
    prune at the FILE level (each file's footer min/max covers a small
    box in every clustered dimension, so a selective conjunctive filter
    overlaps only a few files; a lexicographic layout prunes on the
    first column only).

    One stats job collects per-column bounds (2 scalars/column,
    driver-bounded regardless of table size); the rewrite is
    range-partition + local sort on the interleaved key — one shuffle,
    exactly what a 100 TB OPTIMIZE ZORDER pays per run."""
    if bits * len(cols) > 63:
        # auto-reduce so the interleaved key fits a signed long;
        # quantization precision only affects skipping quality, never
        # correctness, so degrading bits is safe (see quantize_minmax)
        bits = 63 // len(cols)
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    row = df.agg(*aggs).first()
    z = zorder_key(
        [
            quantize_minmax(
                F.col(c).cast("double"),
                float(row[f"__lo_{c}"]),
                float(row[f"__hi_{c}"]),
                bits,
            )
            for c in cols
        ],
        bits,
    )
    # Files must align EXACTLY with curve boxes: range-partitioning on
    # z estimates boundaries by sampling, and a boundary even one row
    # inside the next box drags that box's whole span into the file's
    # footer min/max (measured: 9/16 files overlapped a one-box
    # predicate instead of the ideal 4). So assign deterministically —
    # one Hive-style directory per curve-box prefix (`zbox=<k>`), each
    # holding only that box's rows, locally sorted by z. Box count =
    # 2^floor(log2(n_files)); a hot box at scale splits into multiple
    # files within its directory (maxRecordsPerFile), never across
    # boxes.
    import math

    # clamp: more boxes than key bits is impossible, and a negative
    # shift would hit Java's masked shiftright (shift by 63) and
    # silently collapse EVERY row into box 0
    bucket_bits = min(
        max(0, int(math.floor(math.log2(n_files)))), bits * len(cols)
    )
    shift = bits * len(cols) - bucket_bits
    (
        df.withColumn("zbox", F.shiftright(z, shift))
        .repartition(F.col("zbox"))
        .sortWithinPartitions("zbox", z)
        .write.mode("overwrite")
        .partitionBy("zbox")
        .parquet(path)
    )
