"""Manifest-based versioned tables: snapshot isolation, time travel,
file-stats pruning, and copy-on-write upsert — the lakehouse table
format (Iceberg/Delta's core mechanics), minimal and dependency-free.

The reference's Postgres tables are mutable in place; its dbt runs
full-refresh so every run silently replaces history
(`airflow/dags/iot_temperature_dag.py:236-239`). A training-data
pipeline at 100 TB needs the opposite: immutable data files + a tiny
commit log, so that (a) a running job keeps reading the snapshot it
started with, (b) any past corpus state can be re-materialized exactly
("which data trained run N?"), and (c) an upsert pays for the files it
touches, not the table.

Mechanics (all standard, all public):

- Data files are immutable parquet under ``<table>/data/``, each
  covering a narrow range of the layout column because writes go
  through ``repartitionByRange`` on it.
- A manifest (``<table>/_manifests/v<N>.json``) lists each data file
  with row count and layout-column min/max — per-file stats, the same
  thing an Iceberg manifest stores. Committing a version = writing one
  small JSON and hard-linking it to its final name, which fails if
  that version exists; readers of version N-1 never observe a
  half-written N (the link is the commit point).
- ``read_version`` prunes files against a layout-column predicate
  DRIVER-SIDE from manifest stats before Spark ever lists them — scan
  cost scales with the predicate's footprint.
- ``upsert`` is copy-on-write: rewrite only files whose stats range
  holds one of the update set's distinct layout values; untouched
  files are carried into the new manifest BY REFERENCE. Old versions
  remain readable (time travel) until explicitly expired.
- ``compact`` rewrites small files into a new version the same
  copy-on-write way. Every MERGE and compaction of a table thus
  commits through one manifest link, and a reader never sees a table
  half-rewritten.
- A streaming writer passes ``txn = (query id, batch id)``. Each
  manifest records the last batch id per query and every commit
  carries that record forward, so a replayed micro-batch commits
  nothing (Delta's ``txnAppId``/``txnVersion``).

Driver-side work is metadata-only (file lists, min/max pairs) —
bounded by file count, never row count, exactly like any table
format's commit path.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _json_safe(v):
    """Normalize a stats/bound value to its JSON representation so
    manifest stats and caller bounds compare natively (dates/timestamps
    → ISO strings, numbers stay numbers)."""
    return v.isoformat() if hasattr(v, "isoformat") else v


def _manifest_dir(table: str) -> str:
    return os.path.join(table, "_manifests")


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(_manifest_dir(table), f"v{version}.json")


def versions(table: str) -> list[int]:
    """Committed versions, ascending."""
    out = []
    for p in glob.glob(os.path.join(_manifest_dir(table), "v*.json")):
        name = os.path.basename(p)
        out.append(int(name[1:-5]))
    return sorted(out)


def _read_manifest(table: str, version: int) -> dict:
    with open(_manifest_path(table, version)) as f:
        return json.load(f)


def _txns(man: dict, txn: tuple[str, int] | None = None) -> dict:
    """The manifest's ``{query id: last batch id}`` record, carried
    forward and advanced by ``txn``."""
    txns = dict(man.get("txns", {}))
    if txn is not None:
        txns[txn[0]] = txn[1]
    return txns


def _commit(
    table: str,
    version: int,
    entries: list[dict],
    layout_col: str,
    txns: dict | None = None,
) -> None:
    os.makedirs(_manifest_dir(table), exist_ok=True)
    target = _manifest_path(table, version)
    tmp = target + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(
            {
                "version": version,
                "layout_col": layout_col,
                "files": entries,
                "txns": txns or {},
            },
            f,
        )
    # Commit point must be EXCLUSIVE creation, not exists()+rename:
    # POSIX rename silently replaces an existing target, so two writers
    # racing on the same version would both "succeed" and one commit's
    # manifest would vanish (its data files then VACUUMed — data loss).
    # link(2) fails with EEXIST if the version is already committed,
    # which makes the loser fail loudly instead.
    try:
        os.link(tmp, target)
    except FileExistsError:
        raise RuntimeError(
            f"version {version} already committed (concurrent writer?)"
        )
    finally:
        os.remove(tmp)


def write_clustered(
    df: DataFrame, path: str, col: str, n_files: int, mode: str = "errorifexists"
) -> None:
    """Write ``df`` as at most ``n_files`` parquet files, range-partitioned
    on ``col`` and sorted on it within each file. Every file then covers
    a narrow ``col`` range, so its footer min/max stats let a scan skip
    it on a ``col`` predicate — pruning without a directory per value."""
    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode(mode)
        .parquet(path)
    )


def _write_files(
    df: DataFrame, table: str, layout_col: str, n_files: int
) -> list[dict]:
    """Write df as immutable range-clustered files; return manifest
    entries with per-file (rows, min, max) stats read from the parquet
    footers — metadata-only driver work."""
    import pyarrow.parquet as pq

    write_id = uuid.uuid4().hex[:12]
    out_dir = os.path.join(table, "data", f"w{write_id}")
    write_clustered(df, out_dir, layout_col, n_files)
    entries = []
    for p in sorted(glob.glob(os.path.join(out_dir, "*.parquet"))):
        md = pq.ParquetFile(p).metadata
        fmin = fmax = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == layout_col and c.statistics:
                    s = c.statistics
                    fmin = s.min if fmin is None else min(fmin, s.min)
                    fmax = s.max if fmax is None else max(fmax, s.max)
        if md.num_rows == 0:
            os.remove(p)
            continue
        entries.append(
            {
                "path": os.path.relpath(p, table),
                "rows": md.num_rows,
                "min": _json_safe(fmin),
                "max": _json_safe(fmax),
            }
        )
    return entries


def create_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    layout_col: str,
    n_files: int = 8,
    txn: tuple[str, int] | None = None,
) -> int:
    """Create version 1 from ``df``. ``layout_col`` is the clustering/
    pruning column (a date or bucketable key); ``txn`` is recorded as
    in ``upsert``."""
    entries = _write_files(df, table, layout_col, n_files)
    _commit(table, 1, entries, layout_col, _txns({}, txn))
    return 1


def read_version(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    layout_between: tuple | None = None,
) -> DataFrame:
    """Read a committed snapshot (latest if ``version`` is None).
    ``layout_between=(lo, hi)`` prunes data files from manifest stats
    before the scan is planned."""
    if version is None:
        vs = versions(table)
        if not vs:
            raise FileNotFoundError(f"no committed versions in {table}")
        version = vs[-1]
    man = _read_manifest(table, version)
    files = man["files"]
    if layout_between is not None:
        lo, hi = _json_safe(layout_between[0]), _json_safe(layout_between[1])
        # stats and bounds share the layout column's JSON type (number
        # or string), so native comparison is correct; NEVER coerce to
        # str (that would make 9 > 10 and silently drop files)
        files = [
            e
            for e in files
            if e["max"] is None or (e["max"] >= lo and e["min"] <= hi)
        ]
    if not files:
        # legitimate no-data predicate: return an EMPTY frame with the
        # table's schema (recovered from any manifest file) — callers
        # must be able to use manifest pruning without special-casing
        if not man["files"]:
            raise ValueError(f"version {version} of {table} has no files")
        probe = os.path.join(table, man["files"][0]["path"])
        return spark.read.parquet(probe).limit(0)
    paths = [os.path.join(table, e["path"]) for e in files]
    return spark.read.parquet(*paths)


def upsert(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_cols: list[str],
    layout_col: str,
    n_files: int = 4,
    version_col: str | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Copy-on-write MERGE producing a NEW version; the previous version
    stays readable (snapshot isolation / time travel). Only data files
    whose stats range holds one of the updates' distinct layout values
    are rewritten; the rest carry over by reference.

    Without ``version_col`` the update wins every key it carries. With
    it, base ∪ updates is reduced to the highest-``version_col`` row per
    key, ties going to the update, so replaying an older change can
    never clobber a newer row (the precedence change-data-capture
    needs under out-of-order delivery).

    ``txn = (query id, batch id)`` makes a streaming MERGE exactly-once
    (Delta's ``txnAppId``/``txnVersion``): every commit carries the
    ``{query id: last batch id}`` record forward, and a batch the latest
    manifest already holds returns the current version uncommitted.

    Invariant: a key's layout value never changes between versions —
    otherwise the stale row in an untouched file would survive."""
    vs = versions(table)
    current = vs[-1]
    man = _read_manifest(table, current)
    if txn is not None and man.get("txns", {}).get(txn[0], -1) >= txn[1]:
        return current
    txns = _txns(man, txn)
    # the distinct layout values: metadata-sized, and one job fewer
    # than a global collect_set aggregate
    values = [
        _json_safe(r[0]) for r in updates.select(layout_col).distinct().collect()
    ]
    if not values:
        # empty update set: a MERGE with nothing to merge commits a
        # no-op version (same files by reference) rather than crashing
        _commit(table, current + 1, man["files"], layout_col, txns)
        return current + 1
    any_null = None in values
    values = sorted(v for v in values if v is not None)
    touched, kept = [], []
    for e in man["files"]:
        # a NULL layout value in the updates, or a file with absent
        # layout stats (all-null column, or a writer that omitted
        # min/max), could match anywhere — treat the file as touched
        # (conservative rewrite), mirroring read_version's None guard
        if any_null or e["min"] is None or e["max"] is None:
            hit = True
        else:
            i = bisect.bisect_left(values, e["min"])
            hit = i < len(values) and values[i] <= e["max"]
        (touched if hit else kept).append(e)
    base = (
        spark.read.parquet(*[os.path.join(table, e["path"]) for e in touched])
        if touched
        else None
    )
    if version_col is not None:
        rows = updates.withColumn("_src", F.lit(1))
        if base is not None:
            rows = base.withColumn("_src", F.lit(0)).unionByName(rows)
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(version_col).desc(), F.col("_src").desc()
        )
        merged = (
            rows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
    elif base is not None:
        survivors = base.join(
            updates.select(*key_cols).distinct(), on=key_cols, how="left_anti"
        )
        merged = survivors.unionByName(updates)
    else:
        merged = updates
    new_entries = _write_files(merged, table, layout_col, n_files)
    _commit(table, current + 1, kept + new_entries, layout_col, txns)
    return current + 1


def compact(
    spark: SparkSession,
    table: str,
    layout_col: str,
    small_rows: int,
    n_files: int = 2,
) -> tuple[int, int, int]:
    """OPTIMIZE analog: bin-pack small files into range-clustered
    full-size ones, committing a NEW version with bit-identical rows —
    a pure layout change (the small-files problem is the chronic
    failure mode of streaming/CDC ingest into a lakehouse table: every
    micro-batch commit leaves files far below target size, and scan
    task count grows with file count, not data size).

    Files with rows >= ``small_rows`` carry into the new version BY
    REFERENCE (compaction pays for the small tail, not the table —
    same COW economics as upsert); the small ones are read once and
    rewritten through the same range-clustered writer, so per-file
    stats pruning keeps working on the compacted layout. Old versions
    stay readable until expired (time travel across compaction).

    Returns (new_version, n_compacted, n_carried)."""
    vs = versions(table)
    current = vs[-1]
    man = _read_manifest(table, current)
    small = [e for e in man["files"] if e["rows"] < small_rows]
    kept = [e for e in man["files"] if e["rows"] >= small_rows]
    if len(small) <= 1:
        # nothing to pack: commit a no-op version (all files by
        # reference) so callers get uniform version bookkeeping
        _commit(table, current + 1, man["files"], layout_col, _txns(man))
        return current + 1, 0, len(man["files"])
    df = spark.read.parquet(*[os.path.join(table, e["path"]) for e in small])
    new_entries = _write_files(df, table, layout_col, n_files)
    _commit(table, current + 1, kept + new_entries, layout_col, _txns(man))
    return current + 1, len(small), len(kept)


def file_count(table: str, version: int) -> int:
    """Number of data files a committed version references."""
    return len(_read_manifest(table, version)["files"])


def expire_versions(table: str, keep_last: int = 2) -> list[int]:
    """Retention for the commit log: drop old manifests and any data
    file no surviving manifest references (the VACUUM analog).
    Returns the expired version numbers."""
    vs = versions(table)
    expired = vs[:-keep_last] if keep_last > 0 else vs
    survivors = vs[-keep_last:] if keep_last > 0 else []
    live = set()
    for v in survivors:
        for e in _read_manifest(table, v)["files"]:
            live.add(e["path"])
    for v in expired:
        for e in _read_manifest(table, v)["files"]:
            if e["path"] not in live:
                fp = os.path.join(table, e["path"])
                if os.path.exists(fp):
                    os.remove(fp)
        os.remove(_manifest_path(table, v))
    # crash hygiene: a writer that died before its commit point leaves
    # v<N>.json.tmp.<hex> orphans; emptied write dirs accumulate after
    # their files are vacuumed — clean both up here
    for p in glob.glob(os.path.join(_manifest_dir(table), "*.tmp.*")):
        os.remove(p)
    for d in glob.glob(os.path.join(table, "data", "w*")):
        if os.path.isdir(d) and not os.listdir(d):
            os.rmdir(d)
    return expired


def diff_versions(
    spark: SparkSession,
    table: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """Change data feed between two snapshots (Delta's
    ``table_changes`` / Iceberg's incremental-read analog): one row per
    changed record, tagged ``change_type`` ∈ {'insert', 'delete',
    'update_preimage', 'update_postimage'}.

    THE metadata trick that makes CDF cheap at 100 TB: files carried
    BY REFERENCE between the manifests are bit-identical by
    construction, so only the SYMMETRIC DIFFERENCE of the two file
    lists is ever read — an upsert that touched 2 of 10k files costs a
    2-file diff, not a table-sized join. Within the churned files a
    full outer join on the key classifies rows; survivors rewritten
    into new files compare equal and drop out.
    """
    man_from = _read_manifest(table, v_from)
    man_to = _read_manifest(table, v_to)
    paths_from = {e["path"] for e in man_from["files"]}
    paths_to = {e["path"] for e in man_to["files"]}
    only_from = sorted(paths_from - paths_to)
    only_to = sorted(paths_to - paths_from)

    cols = None
    if only_from:
        old = spark.read.parquet(*[os.path.join(table, p) for p in only_from])
        cols = old.columns
    if only_to:
        new = spark.read.parquet(*[os.path.join(table, p) for p in only_to])
        cols = cols or new.columns
    # every branch emits the SAME column order (change_type, keys, vals)
    # so callers can union feeds from different version pairs
    if cols is None:  # identical manifests: empty feed with table schema
        empty = read_version(spark, table, v_to).limit(0)
        cols = empty.columns
        vals = [c for c in cols if c not in key_cols]
        return empty.select(
            F.lit("insert").alias("change_type"), *key_cols, *vals
        ).limit(0)
    val_cols = [c for c in cols if c not in key_cols]
    if not only_from:
        return new.select(
            F.lit("insert").alias("change_type"), *key_cols, *val_cols
        )
    if not only_to:
        return old.select(
            F.lit("delete").alias("change_type"), *key_cols, *val_cols
        )

    o = old.select(
        *[F.col(k) for k in key_cols],
        F.struct(*[F.col(c) for c in val_cols]).alias("_old"),
    )
    n = new.select(
        *[F.col(k) for k in key_cols],
        F.struct(*[F.col(c) for c in val_cols]).alias("_new"),
    )
    j = o.join(n, on=key_cols, how="full_outer")
    changed = (
        F.col("_old").isNotNull()
        & F.col("_new").isNotNull()
        & ~F.col("_old").eqNullSafe(F.col("_new"))
    )
    pre = j.filter(changed).select(
        F.lit("update_preimage").alias("change_type"),
        *key_cols,
        *[F.col(f"_old.{c}").alias(c) for c in val_cols],
    )
    post = j.filter(changed).select(
        F.lit("update_postimage").alias("change_type"),
        *key_cols,
        *[F.col(f"_new.{c}").alias(c) for c in val_cols],
    )
    ins = j.filter(F.col("_old").isNull()).select(
        F.lit("insert").alias("change_type"),
        *key_cols,
        *[F.col(f"_new.{c}").alias(c) for c in val_cols],
    )
    dele = j.filter(F.col("_new").isNull()).select(
        F.lit("delete").alias("change_type"),
        *key_cols,
        *[F.col(f"_old.{c}").alias(c) for c in val_cols],
    )
    return pre.unionByName(post).unionByName(ins).unionByName(dele)
