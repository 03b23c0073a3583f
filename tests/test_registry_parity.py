"""Every registry query must hash-match its DuckDB oracle — the local
mirror of the driver's t2 correctness gate."""

from __future__ import annotations

import os
import re

import pytest

from iot_temp_data_pipeline_spark.plans.registry import REGISTRY

from .oracle_compare import assert_matches_oracle, duckdb_con

ORACLE_QUERIES = [n for n, s in REGISTRY.items() if s.oracle is not None]
ROWS_ONLY_QUERIES = [n for n, s in REGISTRY.items() if s.oracle is None]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, sf_dir, con, name):
    spec = REGISTRY[name]
    assert_matches_oracle(spec.spark(spark, sf_dir), con, spec.oracle)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, sf_dir, name):
    df = REGISTRY[name].spark(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_no_round_numbered_scaffolding():
    """Registry modules are named by domain and `REGISTRY` keeps its
    insertion order: no module named after a release round, no
    round-by-round reordering of the registry, and one benchmark
    harness (`perfbench/`)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    package = os.path.join(root, "iot_temp_data_pipeline_spark")
    round_named = [
        os.path.relpath(os.path.join(d, name), root)
        for d, _dirs, files in os.walk(package)
        for name in files
        if name.endswith(".py") and re.search(r"_r\d+", name)
    ]
    assert round_named == []
    with open(os.path.join(package, "plans", "registry.py"), encoding="utf-8") as fh:
        registry_src = fh.read()
    assert not re.search(r"_DRIVER_VERIFIED|_CHANGED_R|_ROUND_SETS", registry_src)
    assert not os.path.exists(os.path.join(root, "bench.py"))
