"""Independent DuckDB computations the benchmark checks outputs against,
and the order-insensitive row comparison both sides go through."""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb

from iot_temp_data_pipeline_spark.plans.registry import REGISTRY
from iot_temp_data_pipeline_spark.sources.readings import READINGS_SQL

_READINGS_CTE = READINGS_SQL.strip().rstrip(",")


def connect(work: str) -> duckdb.DuckDBPyConnection:
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET threads = 2")
    return con


def registry_oracle(name: str, raw_parquet_glob: str | None = None) -> str:
    """The registry's DuckDB oracle for ``name``. With
    ``raw_parquet_glob`` the chain's leading ``raw_readings`` CTE (the
    events mapping) is swapped for the raw readings the batch pipeline
    appended, so the same staging → anomalies → mart → summary SQL runs
    over what the pipeline actually ingested."""
    sql = REGISTRY[name].oracle
    if raw_parquet_glob is None:
        return sql
    assert _READINGS_CTE in sql, name
    raw = f"""raw_readings AS (
    SELECT device_id, "timestamp", temperature, location, _dlt_id, _dlt_load_id
    FROM read_parquet('{raw_parquet_glob}')
)"""
    return sql.replace(_READINGS_CTE, raw, 1)


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 4)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        return _norm(v.to_pydatetime())
    return v


def normalize(rows) -> list[tuple]:
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def _close(a, b) -> bool:
    """Floats match within one unit of the 4th decimal: both engines
    round the registry's ``f4`` columns, and a value on a rounding
    boundary (x.xxxx5) can round either way."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None or isinstance(a, str) or isinstance(b, str):
            return a == b
        return abs(a - b) <= 1.5e-4 + 1e-9 * max(abs(a), abs(b))
    return a == b


def same_rows(got, want) -> bool:
    g, w = normalize(got), normalize(want)
    if len(g) != len(w):
        return False
    return all(
        len(x) == len(y) and all(_close(a, b) for a, b in zip(x, y))
        for x, y in zip(g, w)
    )
