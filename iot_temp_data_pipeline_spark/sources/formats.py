"""JSON-lines ingestion with an explicit schema and corrupt-record
capture (SURVEY.md §2.1 S7-S9 generalized). Every reader takes an
explicit StructType: inference reads the data twice and
nondeterministically widens types. Table writes and MERGEs go through
the one table format, ``sources/versioned``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-lines source with explicit schema; malformed lines land in
    `_corrupt_json` instead of failing the read (PERMISSIVE), matching
    the CSV path's bad-row policy (sources/csv_ingest.py)."""
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_json", T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_json")
        .json(path)
    )
