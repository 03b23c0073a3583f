"""The artifact cache (`sources/catalog.get_or_build`): a cached artifact
is served only while the files it was built from are unchanged, so a
fixture rewritten in place inside a live session is rebuilt, never
served stale."""

from __future__ import annotations

import importlib.util
import os
import re

import duckdb

from iot_temp_data_pipeline_spark.plans.registry import REGISTRY

from .oracle_compare import assert_matches_oracle

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PACKAGE = os.path.join(_ROOT, "iot_temp_data_pipeline_spark")


def _gen():
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen", os.path.join(_ROOT, "perfbench", "gen.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _matches(spark_df, table: str, path: str, name: str) -> None:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    try:
        assert_matches_oracle(spark_df, con, REGISTRY[name].oracle)
    finally:
        con.close()


def test_curation_follows_documents_rewritten_in_place(spark, tmp_path):
    gen = _gen()
    docs = str(tmp_path / "documents.parquet")
    for k in (1, 2, 3):
        gen.write_documents(docs, 7, k, 300)
        df = REGISTRY["corpus_pipeline_full"].spark(spark, str(tmp_path))
        _matches(df, "documents", docs, "corpus_pipeline_full")
        if k == 2:
            spark.catalog.clearCache()


def test_registry_mart_follows_events_rewritten_in_place(spark, tmp_path):
    gen = _gen()
    events = str(tmp_path / "events.parquet")
    for seed in (11, 12):
        gen.write_events(events, seed, 3000)
        for name in ("summary_overall", "summary_by_device"):
            df = REGISTRY[name].spark(spark, str(tmp_path))
            _matches(df, "events", events, name)


def test_unchanged_inputs_return_the_same_object(spark, tmp_path):
    from iot_temp_data_pipeline_spark.sources.catalog import get_or_build

    f = tmp_path / "input.bin"
    f.write_bytes(b"a")
    a = get_or_build(spark, "t_same", str(f), object)
    assert get_or_build(spark, "t_same", str(f), object) is a
    assert get_or_build(spark, "t_same", str(tmp_path), object) is not a


def test_rewrite_that_changes_size_rebuilds(spark, tmp_path):
    from iot_temp_data_pipeline_spark.sources.catalog import get_or_build

    for target in ("file", "dir"):
        f = tmp_path / target / "input.bin"
        f.parent.mkdir()
        path = str(f if target == "file" else f.parent)
        f.write_bytes(b"a")
        a = get_or_build(spark, "t_rebuild", path, object)
        f.write_bytes(b"ab")
        b = get_or_build(spark, "t_rebuild", path, object)
        assert b is not a
        assert get_or_build(spark, "t_rebuild", path, object) is b


def test_params_key_separate_entries(spark, tmp_path):
    from iot_temp_data_pipeline_spark.sources.catalog import get_or_build

    a = get_or_build(spark, "t_params", str(tmp_path), object, 1)
    b = get_or_build(spark, "t_params", str(tmp_path), object, 2)
    assert a is not b
    assert get_or_build(spark, "t_params", str(tmp_path), object, 1) is a
    assert get_or_build(spark, "t_params", None, object, 1) is not a


def test_rewrites_keep_one_entry_per_key(spark, tmp_path):
    from iot_temp_data_pipeline_spark.sources.catalog import _artifacts, get_or_build

    f = tmp_path / "input.bin"
    builds = []
    for i in range(10):
        f.write_bytes(b"x" * (i + 1))
        get_or_build(spark, "t_grow", str(f), lambda: builds.append(1))
    assert len(builds) == 10
    kinds = [key for key in _artifacts(spark) if key[0] == "t_grow"]
    assert len(kinds) == 1


def test_no_cache_outside_the_artifact_cache():
    """Only `sources/catalog.py` may attach state to the session or keep
    a module-level ``*_CACHE`` dict: every other cache goes through
    `get_or_build`, so its entries follow their inputs."""
    session_state = re.compile(r"setattr\(\s*spark\b|\bspark\._sg_")
    module_cache = re.compile(r"^[A-Za-z_]\w*_CACHE\s*(:[^=]*)?=\s*(\{|dict\()", re.M)
    offenders = []
    for root, _dirs, files in os.walk(_PACKAGE):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path.endswith(
                os.path.join("sources", "catalog.py")
            ):
                continue
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            if session_state.search(src) or module_cache.search(src):
                offenders.append(os.path.relpath(path, _ROOT))
    assert offenders == []
