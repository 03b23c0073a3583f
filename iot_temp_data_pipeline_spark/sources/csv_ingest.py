"""Batch CSV ingestion — the dlt-layer analog (SURVEY.md §2.1/§2.3).

The reference's dlt pipeline (`dlt_ingest/iot_temperature_pipeline.py`)
is single-process row-at-a-time Python: glob → sha256 → skip-check →
pandas read with encoding fallback → per-row transform dicts → Postgres
INSERTs. Here the same semantics are distributed Spark:

- S1 directory glob      → `list_csv_files`, then one `spark.read.csv`
                           per new file with an explicit schema
- S2 encoding            → decided in the driver's pass over the bytes
                           (`scan_file`): `utf-8` when they decode
                           strictly as UTF-8, else `latin1`, which
                           decodes any byte — the outcome of the
                           reference's try-in-order chain (py:107-123)
- S3 hash-skip           → LEFT ANTI join of file hashes against the
                           processing log (py:33-39,236-252; the
                           reference's `_get_processed_files` is a stub,
                           so its dedup never fires — ours does); a
                           byte-identical copy within one drop lands once
- S4 file metadata       → literal columns stamped on each file's rows
- S5 row ids per file    → one `row_number()` over the batch, partitioned
                           by the `file_hash` column (one file per hash)
- S6 audit log           → one-row-per-file aggregate
- I1 format dispatch     → driver-side header inspection (py:126-143)
- I2-I5, I10-I12         → native column expressions (never Python UDFs)
- I6-I9 synthetic fields → `rand(seed)`/`randn(seed)` columns, documented
                           distribution-equivalent (not value-equal) to
                           the reference's numpy sequences (SURVEY §7.4.3)

At scale: building the batch starts no Spark job (hash, encoding and
header all come from the driver's read of the bytes); ingestion is one
narrow map stage per file plus the row-id window's hash exchange on
`file_hash`, which parallelizes per file.
"""

from __future__ import annotations

import codecs
import csv
import hashlib
import itertools
import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import local_table

# Audit-log encoding label → the Java charset Spark's CSV reader takes.
JAVA_CHARSETS = {"utf-8": "UTF-8", "latin1": "ISO-8859-1"}

DEVICE_TYPES = ["DHT22", "DS18B20", "SHT30", "BME280", "TMP36"]  # py:197-200
FIRMWARE_VERSIONS = ["v1.2.3", "v1.2.4", "v1.3.0", "v1.3.1", "v2.0.0"]  # py:198-201


@dataclass(frozen=True)
class LandedFile:
    path: str
    sha256: str
    encoding: str  # "utf-8" or "latin1"
    header: list[str]  # column names as Spark would infer them


def scan_file(path: str) -> LandedFile:
    """S2/S3/I11 in one chunked driver pass over a file's bytes: its
    SHA-256 (py:236-245), its encoding and its header row.

    The encoding is ``utf-8`` when every byte decodes strictly as UTF-8
    (an authored U+FFFD included), otherwise ``latin1``, which accepts
    all 256 byte values — the codec the reference's pandas chain settles
    on for the same bytes. The header is parsed with the csv module after
    stripping a UTF-8 BOM, and named the way Spark names an inferred
    header (`CSVUtils.makeSafeHeader`): an empty name becomes ``_c<i>``,
    a name repeated case-insensitively gets its index appended."""
    digest = hashlib.sha256()
    utf8 = codecs.getincrementaldecoder("utf-8")()
    is_utf8, head = True, b""
    with open(path, "rb") as f:
        for chunk in itertools.chain(iter(lambda: f.read(1 << 20), b""), [b""]):
            digest.update(chunk)
            if b"\n" not in head:
                head += chunk
            if is_utf8:
                try:
                    utf8.decode(chunk, final=not chunk)
                except UnicodeDecodeError:
                    is_utf8 = False
    encoding = "utf-8" if is_utf8 else "latin1"
    line = head.split(b"\n", 1)[0].removeprefix(codecs.BOM_UTF8)
    names = next(csv.reader([line.decode(encoding)]), [])
    lowered = [n.lower() for n in names]
    header = [
        f"_c{i}" if not n else f"{n}{i}" if lowered.count(n.lower()) > 1 else n
        for i, n in enumerate(names)
    ]
    return LandedFile(path, digest.hexdigest(), encoding, header)


def sha256_file(path: str) -> str:
    """File-level content hash — py:236-245."""
    return scan_file(path).sha256


def list_csv_files(landing_dir: str) -> list[str]:
    """S1 landing-zone glob — py:27-30."""
    return sorted(
        os.path.join(landing_dir, f)
        for f in os.listdir(landing_dir)
        if f.endswith(".csv")
    )


def read_landed(spark: SparkSession, f: LandedFile) -> DataFrame:
    """One read of a scanned file: all-string schema named by its raw
    header (so Spark's header check agrees), columns sanitized after.
    PERMISSIVE parsing null-pads a short row and drops a long row's
    extra tokens."""
    schema = T.StructType([T.StructField(c, T.StringType()) for c in f.header])
    df = spark.read.csv(
        f.path, schema=schema, header=True, encoding=JAVA_CHARSETS[f.encoding]
    )
    return sanitize_columns(df)


def sanitize_columns(df: DataFrame) -> DataFrame:
    """I11 — `room_id/id` → `room_id_id` etc. (py:224-228)."""
    cleaned = [c.replace("/", "_").replace(" ", "_") for c in df.columns]
    return df.toDF(*cleaned)


def kaggle_transform(df: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """I2-I5 Kaggle-format transform as native expressions (py:146-170).

    Input columns (post-sanitize): id, room_id_id, noted_date, temp, out_in.
    ``passthrough`` columns are carried along unchanged.
    """
    return df.select(
        *[F.col(c) for c in passthrough],
        # I2 device-id synthesis: last `_` segment, first 8 chars, upper
        F.coalesce(
            F.when(
                F.col("id").isNotNull(),
                F.concat(
                    F.lit("IOT_TEMP_"),
                    F.upper(
                        F.substring(F.element_at(F.split(F.col("id"), "_"), -1), 1, 8)
                    ),
                ),
            ),
            F.lit("IOT_TEMP_UNKNOWN"),
        ).alias("device_id"),
        # I3 timestamp parse with coerce-to-null. try_to_timestamp gives
        # null-on-failure regardless of spark.sql.ansi.enabled — the session
        # is owned by the caller, so the parse must be session-independent
        # (reference: pd.to_datetime(..., errors='coerce'), py:157).
        F.try_to_timestamp(F.col("noted_date"), F.lit("dd-MM-yyyy HH:mm")).alias(
            "timestamp"
        ),
        # I4 float cast — try_cast: null-on-bad-value under ANSI too
        F.col("temp").try_cast("double").alias("temperature"),
        # I5 location synthesis: strip "Room ", Admin→Office, suffix _in/_out
        F.concat_ws(
            "_",
            F.regexp_replace(
                F.regexp_replace(F.col("room_id_id"), "Room ", ""), "Admin", "Office"
            ),
            F.lower(F.col("out_in")),
        ).alias("location"),
    )


def with_synthetic_sensor_fields(df: DataFrame, seed: int = 42) -> DataFrame:
    """I6-I9 synthetic humidity / battery / signal / device metadata.

    Distribution-equivalent to py:170-201 (same bases, scales and clips);
    exact numpy sequences are not reproducible distributed (SURVEY §7.4.3).
    """
    is_outdoor = F.lower(F.col("location")).contains("out")
    t = F.col("temperature")
    clip = lambda c, lo, hi: F.least(F.greatest(c, F.lit(lo)), F.lit(hi))  # noqa: E731
    humidity_base = F.when(is_outdoor, 65.0).otherwise(45.0)
    signal_base = F.when(is_outdoor, -45.0).otherwise(-55.0)
    pick = lambda opts, r: F.element_at(  # noqa: E731
        F.array(*[F.lit(o) for o in opts]),
        (F.floor(r * len(opts)) + 1).cast("int"),
    )
    return (
        df.withColumn(
            "humidity",
            F.round(
                clip(
                    humidity_base + (F.lit(25.0) - t) * 1.2 + F.randn(seed) * 8,
                    20.0,
                    95.0,
                ),
                1,
            ),
        )
        .withColumn(
            "battery_level",
            F.round(clip(F.lit(70.0) + F.rand(seed + 1) * 30 + F.randn(seed + 2) * 5, 10.0, 100.0), 1),
        )
        .withColumn(
            "signal_strength",
            F.round(clip(signal_base + F.randn(seed + 3) * 10, -90.0, -20.0), 1),
        )
        .withColumn("device_type", pick(DEVICE_TYPES, F.rand(seed + 4)))
        .withColumn("firmware_version", pick(FIRMWARE_VERSIONS, F.rand(seed + 5)))
    )


@dataclass
class IngestResult:
    readings: DataFrame  # standardized raw readings (FIXTURES.md §2 shape)
    audit_log: DataFrame  # one row per file (S6)
    skipped_files: list[str]  # hash-deduped (S3)


def ingest_directory(
    spark: SparkSession,
    landing_dir: str,
    processed_hashes: DataFrame | None = None,
    load_id: str | None = None,
    synthetic_fields: bool = False,
) -> IngestResult:
    """Full batch ingestion of a landing directory.

    ``processed_hashes``: single-column ``file_hash`` DataFrame (the
    processing log); already-seen files are skipped via a LEFT ANTI join
    of this batch's candidate (path, hash) list against the log. Only the
    surviving file *list* is collected (bounded by the batch's new-file
    count, per SURVEY §2.1 S3) — the processing log itself stays
    distributed, so a million-file history never lands in driver memory.
    A byte-identical copy within the drop is skipped the same way: the
    first path per hash, in sorted order, lands.
    """
    scans = {p: scan_file(p) for p in list_csv_files(landing_dir)}
    first: dict[str, str] = {}
    for p, scan in scans.items():
        first.setdefault(scan.sha256, p)
    files = list(first.values())

    if processed_hashes is not None and files:
        candidates = local_table(
            spark,
            [(p, scans[p].sha256) for p in files],
            schema="file_path string, file_hash string",
        )
        fresh = {
            r["file_path"]
            for r in candidates.join(
                processed_hashes.select("file_hash"), "file_hash", "left_anti"
            )
            .select("file_path")
            .collect()
        }
        files = [p for p in files if p in fresh]
    skipped = sorted(set(scans) - set(files))

    # md5, not Python hash(): the fallback load id must agree across
    # processes (PYTHONHASHSEED randomizes str hashes per interpreter)
    load_id = load_id or hashlib.md5(
        "\x00".join(files).encode()
    ).hexdigest()[:12]
    meta = ["file_name", "file_path", "file_size_bytes", "file_hash"]
    parts: list[DataFrame] = []
    audit_rows: list[tuple] = []
    for path in files:
        scan = scans[path]
        df = read_landed(spark, scan)
        # S4/I11: the audit row records the post-sanitize header (the
        # reference's file log stores per-file metadata alongside the
        # hash, `dlt_ingest/iot_temperature_pipeline.py:27-102`)
        sanitized_header = ",".join(df.columns)
        # I1 format dispatch — py:126-143
        raw_cols = set(df.columns)
        if {"id", "room_id_id", "noted_date", "temp", "out_in"} <= raw_cols:
            df = kaggle_transform(df)
        elif {"device_id", "timestamp", "temperature", "location"} <= raw_cols:
            df = df.select(
                "device_id",
                F.try_to_timestamp(F.col("timestamp")).alias("timestamp"),
                F.col("temperature").try_cast("double").alias("temperature"),
                "location",
            )
        else:
            raise ValueError(f"unrecognized CSV format in {path}: {sorted(raw_cols)}")
        # S4: file metadata as literals, not looked up from `_metadata`,
        # whose file name and path come back URL-encoded
        values = (os.path.basename(path), path, os.path.getsize(path), scan.sha256)
        parts.append(df.select("*", *[F.lit(v).alias(c) for c, v in zip(meta, values)]))
        audit_rows.append((*values, "processed", scan.encoding, sanitized_header))

    schema = (
        "file_name string, file_path string, file_size_bytes long, "
        "file_hash string, status string, encoding string, "
        "sanitized_columns string"
    )
    audit = local_table(spark, audit_rows, schema=schema)
    if not parts:
        readings = local_table(spark, [], schema="device_id string")
        return IngestResult(readings=readings, audit_log=audit, skipped_files=skipped)

    readings = reduce(DataFrame.unionByName, parts)
    if synthetic_fields:
        readings = with_synthetic_sensor_fields(readings)
    # I10 drop null-timestamp rows (py:204-207)
    readings = readings.na.drop(subset=["timestamp"])
    # S5: per-file row ids from one window over the batch (one file per
    # hash, so the hash names the file)
    w = Window.partitionBy("file_hash").orderBy("timestamp", "device_id")
    rn = F.col("row_number")
    readings = readings.withColumn("row_number", F.row_number().over(w)).select(
        *[c for c in readings.columns if c not in meta],
        rn,
        F.concat_ws("_", "file_hash", rn.cast("string")).alias("file_record_id"),
        *meta,
        F.current_timestamp().alias("ingestion_timestamp"),
        F.lit(load_id).alias("_dlt_load_id"),
        F.sha2(F.concat_ws("|", "file_hash", rn), 256).alias("_dlt_id"),
    )
    return IngestResult(readings=readings, audit_log=audit, skipped_files=skipped)


def append_to_table(df: DataFrame, path: str) -> None:
    """S7 Postgres append sink analog: append-mode parquet."""
    df.write.mode("append").parquet(path)
