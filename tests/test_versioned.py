"""Manifest-based versioned tables (sources/versioned.py): snapshot
isolation under copy-on-write upsert (with and without version
precedence), time travel, file-stats pruning, compaction, retention
expiry, and reads concurrent with commits."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from iot_temp_data_pipeline_spark.sources.versioned import (
    create_table,
    expire_versions,
    read_version,
    upsert,
    versions,
)


@pytest.fixture()
def table(spark, tmp_path):
    t = str(tmp_path / "events_v")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).alias("day"),
        (F.col("id") * 3 % 97).alias("v"),
    )
    v = create_table(spark, df, t, layout_col="day", n_files=8)
    assert v == 1
    return t


def test_create_and_read_back(spark, table):
    df = read_version(spark, table)
    assert df.count() == 1000
    assert df.agg(F.sum("v")).first()[0] == sum(i * 3 % 97 for i in range(1000))


def test_upsert_creates_new_version_and_old_stays_readable(spark, table):
    updates = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).alias("day"),
        F.lit(1000).alias("v"),
    )
    v2 = upsert(spark, table, updates, key_cols=["k"], layout_col="day")
    assert v2 == 2 and versions(table) == [1, 2]
    # snapshot isolation: v1 unchanged
    old = read_version(spark, table, version=1)
    assert old.agg(F.sum("v")).first()[0] == sum(i * 3 % 97 for i in range(1000))
    # v2 reflects the merge: keys 0..99 replaced, count unchanged
    new = read_version(spark, table, version=2)
    assert new.count() == 1000
    want = sum(i * 3 % 97 for i in range(100, 1000)) + 100 * 1000
    assert new.agg(F.sum("v")).first()[0] == want


def test_copy_on_write_preserves_untouched_files(spark, table):
    # updates confined to day range [0, 4]: files covering only days
    # outside the range must carry over by reference (same path)
    from iot_temp_data_pipeline_spark.sources.versioned import _read_manifest

    updates = spark.range(5).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).alias("day"),  # days 0-4
        F.lit(7).alias("v"),
    )
    v1_files = {e["path"] for e in _read_manifest(table, 1)["files"]}
    upsert(spark, table, updates, key_cols=["k"], layout_col="day")
    v2 = _read_manifest(table, 2)["files"]
    carried = {e["path"] for e in v2} & v1_files
    assert carried, "no files carried over — copy-on-write rewrote everything"
    rewritten = v1_files - {e["path"] for e in v2}
    assert rewritten, "no files rewritten — update did not touch any file"


def test_upsert_rewrites_only_touched_files(spark, tmp_path):
    # updates on days d0 and d2 only: the d1 file lies inside their
    # [min, max] but holds neither value, so it carries over by reference
    from iot_temp_data_pipeline_spark.sources.versioned import _read_manifest

    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"d{i % 3}", i * 10) for i in range(30)],
        "id long, day string, v long",
    )
    create_table(spark, base, t, layout_col="day", n_files=3)
    v1 = {e["min"]: e for e in _read_manifest(t, 1)["files"]}
    assert sorted(v1) == ["d0", "d1", "d2"]  # fixture: one file per day
    assert all(e["min"] == e["max"] for e in v1.values())

    updates = spark.createDataFrame(
        [(0, "d0", 999), (2, "d2", 888), (100, "d2", 111)],
        "id long, day string, v long",
    )
    upsert(spark, t, updates, key_cols=["id"], layout_col="day")
    v2 = {e["path"] for e in _read_manifest(t, 2)["files"]}
    assert v1["d1"]["path"] in v2
    assert v1["d0"]["path"] not in v2 and v1["d2"]["path"] not in v2

    merged = {r["id"]: r["v"] for r in read_version(spark, t).collect()}
    assert len(merged) == 31  # 30 base − 2 replaced + 2 updates + 1 insert
    assert (merged[0], merged[2], merged[100]) == (999, 888, 111)
    assert merged[1] == 10  # a d1 row is untouched


def test_upsert_null_layout_value_touches_every_file(spark, table):
    # a NULL layout value could sit in any file, so every file rewrites
    # and the update lands (it is not dropped as an empty update set)
    from iot_temp_data_pipeline_spark.sources.versioned import _read_manifest

    updates = spark.createDataFrame([(5000, None, 1)], "k long, day long, v long")
    upsert(spark, table, updates, key_cols=["k"], layout_col="day")
    v1 = {e["path"] for e in _read_manifest(table, 1)["files"]}
    v2 = {e["path"] for e in _read_manifest(table, 2)["files"]}
    assert not v1 & v2
    assert read_version(spark, table).count() == 1001


def _cdc_table(spark, path: str) -> str:
    rows = spark.createDataFrame(
        [(1, 0, 10, "b"), (2, 0, 20, "b")], "k long, day long, v long, ver string"
    )
    create_table(spark, rows, path, layout_col="day", n_files=1)
    return path


def _cdc_upsert(spark, table: str, rows: list) -> dict:
    updates = spark.createDataFrame(rows, "k long, day long, v long, ver string")
    upsert(spark, table, updates, key_cols=["k"], layout_col="day", version_col="ver")
    return {r["k"]: (r["v"], r["ver"]) for r in read_version(spark, table).collect()}


def test_upsert_version_col_older_replay_cannot_clobber(spark, tmp_path):
    t = _cdc_table(spark, str(tmp_path / "cdc"))
    assert _cdc_upsert(spark, t, [(1, 0, 11, "c")]) == {1: (11, "c"), 2: (20, "b")}
    # the older change arrives after the newer one: the newer row stays
    assert _cdc_upsert(spark, t, [(1, 0, 5, "a")]) == {1: (11, "c"), 2: (20, "b")}


def test_upsert_version_col_tie_goes_to_update_and_new_key_inserts(spark, tmp_path):
    t = _cdc_table(spark, str(tmp_path / "cdc"))
    got = _cdc_upsert(spark, t, [(2, 0, 21, "b"), (3, 0, 30, "a")])
    assert got == {1: (10, "b"), 2: (21, "b"), 3: (30, "a")}


def test_reads_during_upserts_and_compact_see_committed_rows(spark, table):
    # a reader pinned to the latest committed version never sees a
    # half-written table: every commit is one manifest link, and the
    # files a version references are never rewritten in place
    import threading

    from iot_temp_data_pipeline_spark.sources.versioned import compact

    stop = threading.Event()
    counts, errors = [], []

    def reader():
        while not stop.is_set():
            try:
                counts.append(read_version(spark, table).count())
            except Exception as exc:  # noqa: BLE001 — every failure counts
                errors.append(exc)

    thread = threading.Thread(target=reader)
    thread.start()
    try:
        for i in range(10):  # replace-only: the row count stays 1000
            updates = spark.range(i * 10, i * 10 + 10).select(
                F.col("id").alias("k"),
                (F.col("id") % 20).alias("day"),
                F.lit(i).alias("v"),
            )
            upsert(spark, table, updates, key_cols=["k"], layout_col="day")
        compact(spark, table, layout_col="day", small_rows=10**9, n_files=2)
    finally:
        stop.set()
        thread.join(timeout=120)
    assert not thread.is_alive()
    assert errors == []
    assert counts and set(counts) == {1000}
    assert versions(table) == list(range(1, 13))


def test_stats_pruning_reads_fewer_files(spark, table):
    from iot_temp_data_pipeline_spark.sources.versioned import _read_manifest

    all_files = len(_read_manifest(table, 1)["files"])
    pruned = read_version(spark, table, version=1, layout_between=(3, 4))
    # correctness of the pruned read
    assert pruned.filter(F.col("day").between(3, 4)).count() == 100
    # and it planned over fewer files than the full snapshot
    n_scanned = len(pruned.inputFiles())
    assert n_scanned < all_files


def test_expire_keeps_latest_and_drops_orphans(spark, table):
    updates = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") % 20).alias("day"), F.lit(5).alias("v")
    )
    upsert(spark, table, updates, key_cols=["k"], layout_col="day")
    upsert(spark, table, updates.withColumn("v", F.lit(6)), key_cols=["k"], layout_col="day")
    assert versions(table) == [1, 2, 3]
    expired = expire_versions(table, keep_last=1)
    assert expired == [1, 2] and versions(table) == [3]
    # latest still fully readable after vacuum
    assert read_version(spark, table).count() == 1000
    # every remaining data file is referenced
    from iot_temp_data_pipeline_spark.sources.versioned import _read_manifest

    live = {e["path"] for e in _read_manifest(table, 3)["files"]}
    on_disk = {
        os.path.relpath(p, table)
        for p in glob.glob(os.path.join(table, "data", "*", "*.parquet"))
    }
    assert on_disk == live


def test_double_commit_rejected(spark, table, tmp_path):
    from iot_temp_data_pipeline_spark.sources.versioned import _commit

    with pytest.raises(RuntimeError, match="already committed"):
        _commit(table, 1, [], "day")


def test_empty_update_set_commits_noop_version(spark, table):
    updates = spark.range(0).select(
        F.col("id").alias("k"), (F.col("id") % 20).alias("day"), F.col("id").alias("v")
    )
    v2 = upsert(spark, table, updates, key_cols=["k"], layout_col="day")
    assert v2 == 2
    assert read_version(spark, table, version=2).count() == 1000


def test_fully_pruned_read_returns_empty_frame(spark, table):
    df = read_version(spark, table, version=1, layout_between=(100, 200))
    assert df.count() == 0
    assert set(df.columns) == {"k", "day", "v"}


def test_commit_leaves_no_tmp_files(spark, table):
    # _commit must clean up its scratch file in both outcomes
    from iot_temp_data_pipeline_spark.sources.versioned import _commit

    _commit(table, 2, [], "day")
    with pytest.raises(RuntimeError, match="already committed"):
        _commit(table, 2, [], "day")
    assert glob.glob(os.path.join(table, "_manifests", "*.tmp.*")) == []


def test_upsert_rewrites_files_with_absent_stats(spark, table):
    # a manifest entry with min/max of None (all-null layout column, or
    # a writer that omitted stats) must be treated as touched, not crash
    import json

    from iot_temp_data_pipeline_spark.sources.versioned import (
        _manifest_path,
        _read_manifest,
    )

    man = _read_manifest(table, 1)
    man["files"][0]["min"] = None
    man["files"][0]["max"] = None
    with open(_manifest_path(table, 1), "w") as f:
        json.dump(man, f)
    updates = spark.createDataFrame([(1, 1, 999)], "k long, day long, v long")
    v2 = upsert(spark, table, updates, key_cols=["k"], layout_col="day")
    df = read_version(spark, table, version=v2)
    assert df.count() == 1000
    assert df.filter(F.col("k") == 1).first()["v"] == 999


def test_expire_prunes_tmp_manifests_and_empty_write_dirs(spark, table):
    # crash hygiene: orphaned .tmp manifests and emptied data/w* dirs go
    orphan = os.path.join(table, "_manifests", "v9.json.tmp.deadbeef")
    with open(orphan, "w") as f:
        f.write("{}")
    updates = spark.createDataFrame([(1, 1, 999)], "k long, day long, v long")
    upsert(spark, table, updates, key_cols=["k"], layout_col="day")
    upsert(spark, table, updates, key_cols=["k"], layout_col="day")
    expire_versions(table, keep_last=1)
    assert not os.path.exists(orphan)
    for d in glob.glob(os.path.join(table, "data", "w*")):
        assert os.listdir(d), f"empty write dir survived VACUUM: {d}"


def test_compact_shrinks_files_preserves_rows_and_history(spark, table):
    """OPTIMIZE analog: compaction bin-packs the 8 small files into 2,
    rows stay bit-identical, pre-compaction snapshots remain readable
    (time travel across a layout change), and stats pruning still works
    on the compacted layout."""
    from iot_temp_data_pipeline_spark.sources.versioned import compact, file_count

    v2, n_comp, n_kept = compact(
        spark, table, layout_col="day", small_rows=10**9, n_files=2
    )
    assert v2 == 2 and n_comp == 8 and n_kept == 0
    assert file_count(table, 2) < file_count(table, 1)
    before = sorted(read_version(spark, table, version=1).collect())
    after = sorted(read_version(spark, table, version=2).collect())
    assert before == after
    # pruning is FILE-granular: the compacted layout has 2 range files,
    # so the [0,5] predicate keeps the low-range file (a superset of the
    # matching rows) and skips the high-range one entirely
    pruned = read_version(spark, table, version=2, layout_between=(0, 5))
    n_match = sum(1 for i in range(1000) if i % 20 <= 5)
    assert n_match <= pruned.count() < 1000
    assert pruned.filter("day <= 5").count() == n_match


def test_compact_carries_large_files_by_reference(spark, table):
    """Files above the small-rows threshold are NOT rewritten — their
    manifest entries carry into the new version unchanged (compaction
    pays for the small tail only)."""
    from iot_temp_data_pipeline_spark.sources.versioned import (
        _read_manifest,
        compact,
    )

    man1 = _read_manifest(table, 1)
    big_paths = {e["path"] for e in man1["files"] if e["rows"] >= 100}
    assert big_paths  # fixture: 1000 rows over 8 range files
    small_rows = 100
    v2, n_comp, n_kept = compact(
        spark, table, layout_col="day", small_rows=small_rows, n_files=1
    )
    man2 = _read_manifest(table, v2)
    carried = {e["path"] for e in man2["files"]} & big_paths
    assert carried == big_paths
    assert n_kept == len(big_paths)


def test_diff_versions_reads_only_churned_files(spark, table):
    """CDF contract: the feed between v1 and v2 classifies exactly the
    merged rows (pre+post per update, insert per new key), survivors
    rewritten into new files drop out by value equality, and carried
    files are never scanned (every scanned path is in the manifests'
    symmetric difference)."""
    from iot_temp_data_pipeline_spark.sources.versioned import (
        _read_manifest,
        diff_versions,
    )

    updates = spark.range(0, 50, 7).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).alias("day"),
        F.lit(9999).alias("v"),
    )
    inserts = spark.range(5000, 5003).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).alias("day"),
        F.lit(1).alias("v"),
    )
    upsert(spark, table, updates.unionByName(inserts), key_cols=["k"], layout_col="day")

    feed = diff_versions(spark, table, 1, 2, key_cols=["k"])
    rows = feed.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["change_type"], set()).add(r["k"])
    upd_keys = set(range(0, 50, 7))
    assert by_type["update_preimage"] == upd_keys
    assert by_type["update_postimage"] == upd_keys
    assert by_type["insert"] == {5000, 5001, 5002}
    assert "delete" not in by_type
    pre_v = {r["k"]: r["v"] for r in rows if r["change_type"] == "update_preimage"}
    assert pre_v[7] == 7 * 3 % 97
    post_v = {r["k"]: r["v"] for r in rows if r["change_type"] == "update_postimage"}
    assert set(post_v.values()) == {9999}

    # scan bound: every parquet file in the diff plan is a churned file
    man1 = _read_manifest(table, 1)
    man2 = _read_manifest(table, 2)
    p1 = {e["path"] for e in man1["files"]}
    p2 = {e["path"] for e in man2["files"]}
    churned = {os.path.basename(p) for p in (p1 ^ p2)}
    carried = {os.path.basename(p) for p in (p1 & p2)}
    assert carried  # fixture must exercise carry-by-reference
    plan = feed._jdf.queryExecution().toString()
    for f in carried:
        assert f not in plan

    # identical snapshots → empty feed
    from iot_temp_data_pipeline_spark.sources.versioned import _commit

    _commit(table, 3, man2["files"], man2["layout_col"])
    assert diff_versions(spark, table, 2, 3, key_cols=["k"]).count() == 0


def _txn_upsert(spark, table: str, txn: tuple) -> int:
    updates = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") % 20).alias("day"), F.lit(txn[1]).alias("v")
    )
    return upsert(spark, table, updates, key_cols=["k"], layout_col="day", txn=txn)


def test_same_txn_commits_once(spark, table):
    # a replayed micro-batch (same query id, same batch id) finds its
    # transaction in the latest manifest and commits nothing
    assert _txn_upsert(spark, table, ("q", 0)) == 2
    assert _txn_upsert(spark, table, ("q", 0)) == 2
    assert versions(table) == [1, 2]
    # another query's batch 0 is its own transaction
    assert _txn_upsert(spark, table, ("r", 0)) == 3


def test_compact_keeps_txn_record(spark, table):
    from iot_temp_data_pipeline_spark.sources.versioned import compact

    assert _txn_upsert(spark, table, ("q", 0)) == 2
    v3, _, _ = compact(spark, table, layout_col="day", small_rows=10**9, n_files=2)
    assert _txn_upsert(spark, table, ("q", 0)) == v3 == 3
    assert _txn_upsert(spark, table, ("q", 1)) == 4
    assert versions(table) == [1, 2, 3, 4]
