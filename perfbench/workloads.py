"""The benchmark's two workloads. Each drives the pipeline only through
its public functions and exposes:

- ``setup(warm)``    build the artifacts the first timed op needs (timed
                     as part of ``setup_s``, with the session start);
                     ``warm`` also runs one untimed warm-up op;
- ``ready()``        untimed bookkeeping after the set-up;
- ``prepare(i, c)``  generate op ``i``'s inputs (never timed);
- ``op(i, c, inp)``  one timed op; returns the input rows it consumed;
- ``after(i)``       untimed per-op housekeeping and per-layer counts;
- ``check()``        compare outputs with independent DuckDB
                     computations, returning the number of failed ops;
- ``layer_metrics(spans)`` the workload's per-layer numbers (traced run).

Sizes are scaled so a ``batch_refresh`` op takes seconds and a
``mart_serve`` query well under one at ``local[4]``.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import random
import statistics
import threading
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F
from pyspark.sql import types as T

from iot_temp_data_pipeline_spark.checks import check_violations
from iot_temp_data_pipeline_spark.operators import dedup as dd
from iot_temp_data_pipeline_spark.operators.anomalies import int_temperature_anomalies
from iot_temp_data_pipeline_spark.operators.marts import (
    anomaly_analysis,
    device_level_stats,
    load_level_stats,
    location_level_stats,
    mart_temperature_readings,
    pipeline_summary,
    write_mart,
)
from iot_temp_data_pipeline_spark.operators.staging import stg_raw_temperature_readings
from iot_temp_data_pipeline_spark.plans.oracles import oracle_prelude
from iot_temp_data_pipeline_spark.plans.registry import (
    ACTIVE_THRESHOLD,
    ANOMALY_BREAKDOWN_SPEC,
    DQ_CHECK_SPEC,
    REGISTRY,
    SUMMARY_BY_DEVICE_SPEC,
    SUMMARY_BY_LOAD_SPEC,
    SUMMARY_BY_LOCATION_SPEC,
    SUMMARY_OVERALL_SPEC,
    shape,
)
from iot_temp_data_pipeline_spark.sources.csv_ingest import (
    append_to_table,
    ingest_directory,
)
from iot_temp_data_pipeline_spark.sources.readings import raw_readings
from iot_temp_data_pipeline_spark.sources.versioned import (
    create_table,
    file_count,
    read_version,
    versions,
)
from iot_temp_data_pipeline_spark.streaming.pipeline import incremental_mart_refresh

import gen
import oracle

# The summary report: (registry name, mart → DataFrame, column spec).
SUMMARIES = [
    ("summary_by_device", device_level_stats, SUMMARY_BY_DEVICE_SPEC),
    ("summary_by_location", location_level_stats, SUMMARY_BY_LOCATION_SPEC),
    ("summary_by_load", load_level_stats, SUMMARY_BY_LOAD_SPEC),
    ("summary_overall", pipeline_summary, SUMMARY_OVERALL_SPEC),
    ("anomaly_breakdown", anomaly_analysis, ANOMALY_BREAKDOWN_SPEC),
]


def part_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    clients = 1

    def __init__(self, spark, tracer, work: str, seed: int, nproc: int):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.nproc = seed, nproc
        self.failed_ops: set[int] = set()
        self.notes: list[str] = []
        os.makedirs(work, exist_ok=True)

    def span(self, name, op=None, **kw):
        return self.tracer.span(name, op=op, **kw)

    def summaries(self, mart_dir: str, op: int) -> dict:
        """The 5-summary report over the written mart: plan (lazy call)
        and action timed as separate spans."""
        out = {}
        for name, fn, spec in SUMMARIES:
            with self.span("marts.plan", op):
                df = shape(fn(self.spark.read.parquet(mart_dir)), spec)
            with self.span("marts.exec", op):
                out[name] = df.collect()
        return out

    def ready(self) -> None:
        pass

    def after(self, i: int) -> None:
        pass

    def layer_metrics(self, spans: list[dict]) -> dict:
        return {}


# ------------------------------------------------------------ batch_refresh

STREAM_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType()),
        T.StructField("ts_micros", T.LongType()),
        T.StructField("temp_centi", T.LongType()),
        T.StructField("dlt_id", T.StringType()),
    ]
)

# The Kaggle transform ``ingest_directory`` applies, written independently
# in DuckDB over the landed files (re-encoded to UTF-8 by Python first).
INGEST_ORACLE = """
SELECT regexp_extract(filename, '[^/]+$') AS file_name,
    COALESCE('IOT_TEMP_' || upper(substr(list_extract(string_split(id, '_'), -1), 1, 8)),
             'IOT_TEMP_UNKNOWN') AS device_id,
    try_strptime(noted_date, '%d-%m-%Y %H:%M') AS "timestamp",
    TRY_CAST(temp AS DOUBLE) AS temperature,
    concat_ws('_', replace(replace("room_id/id", 'Room ', ''), 'Admin', 'Office'),
              lower("out/in")) AS location
FROM read_csv('{glob}', header = true, all_varchar = true, filename = true)
WHERE try_strptime(noted_date, '%d-%m-%Y %H:%M') IS NOT NULL"""


class BatchRefresh(Workload):
    """One publish cycle per op, for everything a landed drop feeds:

    1. the reference DAG cycle: ingest the Kaggle CSV drop with the
       processing log → raw append → checks → full refresh (staging →
       anomalies → mart → ``write_mart``) → the 5-summary report;
    2. the incremental path: one ``availableNow`` trigger of
       ``incremental_mart_refresh`` MERGEs the drop's keyed stream batch
       (late, re-delivered and out-of-order readings) into the
       versioned mart;
    3. corpus curation: one cold ``corpus_pipeline_full`` over the
       drop's fresh documents batch, in its own input dir.

    An op's latency is drop landed → all three outputs committed."""

    HISTORY_ROWS = 4000
    DROP_FILES, DROP_ROWS = 2, 300
    STREAM_INITIAL_ROWS, STREAM_ROWS = 1000, 400
    DOCS = 300

    def setup(self, warm: bool) -> None:
        w = self.work
        self.pending, self.landing = f"{w}/pending", f"{w}/landing"
        self.raw, self.log, self.mart = f"{w}/raw", f"{w}/processing_log", f"{w}/mart"
        self.stream_in, self.vtable, self.ckpt = f"{w}/stream", f"{w}/mart_v", f"{w}/ckpt"
        for d in (self.pending, self.landing, self.stream_in):
            os.makedirs(d, exist_ok=True)
        self.drops = gen.KaggleDrops(self.seed)
        self.batches = gen.StreamBatches(self.seed)
        self.n_stream = 0
        self.triggers = 0  # timed triggers, for the streaming listener
        self.landed: dict[int, dict] = {}
        self.redelivered: set[str] = set()
        self.skip = {"redelivered": 0, "skipped": 0}
        self.refresh_ratio: list[float] = []
        self.mart_stats: list[tuple[int, int, int]] = []  # files, bytes, rows
        self.files_processed = 0
        self.versions_seen = 0
        self.commits: list[dict] = []  # per committed upsert: rewritten, written bytes
        self.stream_bytes = 0
        self.curated: dict[int, tuple[str, list]] = {}
        self.docs_in = self.docs_out = 0
        # the history: one paper-shaped file through ingest and the raw
        # append (the first op's full refresh builds the mart from it),
        # and the incremental mart's first version
        hist = self.drops.drop(f"{self.pending}/drop0", 0, 1, self.HISTORY_ROWS, redeliver=False)
        hist["k"] = 0
        self.ingest(-1, hist)
        self.trigger(-1, self._stream_file(self.STREAM_INITIAL_ROWS))
        self.versions_seen = len(versions(self.vtable))
        if warm:
            # the warm-up op only has to take every code path once, so
            # its three legs run side by side
            man = self.prepare(-1, 0)
            with ThreadPoolExecutor(3) as pool:
                legs = [
                    pool.submit(self.refresh, -1, man),
                    pool.submit(self.trigger, -1, man["stream"]),
                    pool.submit(self.curate, -1, man["docs"]),
                ]
                for leg in legs:
                    leg.result()
            self.after(-1)
            self.curated.clear()
        self.spark.catalog.clearCache()

    def ready(self) -> None:
        self.raw_rows = 0
        if self.tracer.enabled:
            with self.tracer.bookkeeping():
                self.raw_rows = self.spark.read.parquet(self.raw).count()

    def _stream_file(self, rows: int) -> str:
        name = f"batch{self.n_stream:05d}.csv"
        self.batches.batch(f"{self.pending}/{name}", self.n_stream, rows)
        self.n_stream += 1
        return name

    def prepare(self, i: int, client: int) -> dict:
        k = i + 2  # drop 0 is the history, drop 1 the warm-up op
        man = self.drops.drop(f"{self.pending}/drop{k}", k, self.DROP_FILES, self.DROP_ROWS)
        man.update(k=k, stream=self._stream_file(self.STREAM_ROWS), docs=f"{self.work}/docs{k}")
        os.makedirs(man["docs"], exist_ok=True)
        gen.write_documents(f"{man['docs']}/documents.parquet", self.seed, k, self.DOCS)
        return man

    def op(self, i: int, client: int, man: dict) -> int:
        self.refresh(i, man)
        self.trigger(i, man["stream"])
        self.curate(i, man["docs"])
        return man["rows"] + self.STREAM_ROWS + self.DOCS

    def ingest(self, i: int, man: dict):
        spark, k = self.spark, man["k"]
        landing = f"{self.landing}/drop{k}"
        os.rename(f"{self.pending}/drop{k}", landing)
        with self.span("csv_ingest.ingest", i):
            res = ingest_directory(
                spark, landing,
                processed_hashes=spark.read.parquet(self.log) if k else None,
            )
        with self.span("csv_ingest.append", i):
            append_to_table(res.readings, self.raw)
            append_to_table(res.audit_log.select("file_hash"), self.log)
        return res

    def refresh(self, i: int, man: dict) -> None:
        spark = self.spark
        res = self.ingest(i, man)
        with self.span("staging.plan", i):
            stg = stg_raw_temperature_readings(spark.read.parquet(self.raw))
        with self.span("checks.violations", i):
            violations = shape(check_violations(stg), DQ_CHECK_SPEC).collect()
        with self.span("anomalies.build", i):
            anomalies = int_temperature_anomalies(stg, threshold=ACTIVE_THRESHOLD)
        with self.span("marts.plan", i):
            mart = mart_temperature_readings(anomalies)
        with self.span("marts.write", i):
            write_mart(mart, self.mart)
        report = self.summaries(self.mart, i)
        report["dq_check_violations"] = violations
        skipped = sorted(os.path.basename(p) for p in res.skipped_files)
        man.update(skipped=skipped, report=report,
                   processed=len(man["files"]) - len(skipped))
        self.landed[i] = man

    def trigger(self, i: int, name: str) -> None:
        os.rename(f"{self.pending}/{name}", f"{self.stream_in}/{name}")
        stream = (
            self.spark.readStream.schema(STREAM_SCHEMA)
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(self.stream_in)
        )
        with self.span("streaming.trigger", i):
            incremental_mart_refresh(self.spark, stream, self.vtable, self.ckpt)
        self.triggers += i >= 0

    def curate(self, i: int, d: str) -> None:
        with self.span("dedup.pair_build", i):
            dd.cached_jaccard_pairs(self.spark, d)
        with self.span("curation.plan", i):
            df = REGISTRY["corpus_pipeline_full"].spark(self.spark, d)
        with self.span("curation.exec", i):
            rows = df.collect()
        self.curated[i] = (d, rows)
        self.docs_in += self.DOCS
        self.docs_out += len({r["doc_id"] for r in rows})

    def after(self, i: int) -> None:
        man = self.landed[i]
        self.redelivered.update(man["redelivered"])
        self.skip["redelivered"] += len(man["redelivered"])
        self.skip["skipped"] += len(set(man["skipped"]) & set(man["redelivered"]))
        if man["skipped"] != sorted(man["redelivered"]):
            self.failed_ops.add(i)
            self.notes.append(f"op {i}: skipped {man['skipped']} != re-delivered {man['redelivered']}")
        self.files_processed += man["processed"]
        # the last op's report is checked against the oracle; drop the rest
        for j in list(self.landed):
            if j != i:
                self.landed[j].pop("report", None)
        self.stream_bytes += os.path.getsize(f"{self.stream_in}/{man['stream']}")
        vs = versions(self.vtable)
        if len(vs) - self.versions_seen != 1:
            self.failed_ops.add(i)
            self.notes.append(f"op {i}: {len(vs) - self.versions_seen} versions for one stream file")
        if self.tracer.enabled:
            for v in vs[self.versions_seen:]:
                old, new = self._manifest(v - 1), self._manifest(v)
                self.commits.append(
                    {
                        "rewritten": len(old - new),
                        "written_bytes": sum(
                            os.path.getsize(os.path.join(self.vtable, p)) for p in new - old
                        ),
                    }
                )
            with self.tracer.bookkeeping():
                total = self.spark.read.parquet(self.raw).count()
                files = part_files(self.mart)
                mart_rows = self.spark.read.parquet(self.mart).count()
            new_rows = total - self.raw_rows
            self.raw_rows = total
            self.refresh_ratio.append(total / max(new_rows, 1))
            self.mart_stats.append(
                (len(files), sum(os.path.getsize(p) for p in files), mart_rows)
            )
        self.versions_seen = len(vs)
        self.spark.catalog.clearCache()

    def _manifest(self, v: int) -> set[str]:
        with open(os.path.join(self.vtable, "_manifests", f"v{v}.json")) as f:
            return {e["path"] for e in json.load(f)["files"]}

    def check(self) -> int:
        """Each output against an independent DuckDB computation:

        - ingest: every landed, not re-delivered CSV, decoded by Python
          and transformed in DuckDB, vs the raw table;
        - refresh: the last op's report vs the registry's oracle chain
          over the raw table (which the ingest check pins);
        - incremental mart: the last version vs a one-shot latest-wins
          merge of every landed stream row;
        - curation: every op's output vs the ``corpus_pipeline_full``
          oracle over its batch."""
        if not self.landed:
            return 0
        last = max(self.landed)
        con = oracle.connect(self.work)
        bad: list[str] = []

        utf8 = f"{self.work}/check_csv"
        os.makedirs(utf8, exist_ok=True)
        for p in glob.glob(f"{self.landing}/*/*.csv"):
            name = os.path.basename(p)
            if name in self.redelivered:
                continue
            data = open(p, "rb").read()
            try:
                text = data.decode("utf-8")
            except UnicodeDecodeError:
                text = data.decode("latin-1")
            with open(f"{utf8}/{name}", "w", encoding="utf-8") as f:
                f.write(text)
        want = con.execute(INGEST_ORACLE.format(glob=f"{utf8}/*.csv")).fetchall()
        got = (
            self.spark.read.parquet(self.raw)
            .select("file_name", "device_id", "timestamp", "temperature", "location")
            .collect()
        )
        if not oracle.same_rows(got, want):
            bad.append(f"ingest: raw table ({len(got)} rows) differs from the landed files ({len(want)} rows)")

        report = self.landed[last]["report"]
        for name in report:
            want = con.execute(oracle.registry_oracle(name, f"{self.raw}/*.parquet")).fetchall()
            if not oracle.same_rows(report[name], want):
                bad.append(f"refresh {name}: output differs from oracle")

        want = con.execute(f"""
SELECT device_id, ts_micros, arg_max(temp_centi, dlt_id), MAX(dlt_id),
    ts_micros // 86400000000
FROM read_csv('{self.stream_in}/*.csv', header = true, columns = {{
    'device_id': 'VARCHAR', 'ts_micros': 'BIGINT',
    'temp_centi': 'BIGINT', 'dlt_id': 'VARCHAR'}})
GROUP BY device_id, ts_micros""").fetchall()
        got = (
            read_version(self.spark, self.vtable)
            .select("device_id", "ts_micros", "temp_centi", "dlt_id", "day_us")
            .collect()
        )
        if not oracle.same_rows(got, want):
            bad.append("incremental mart: last version differs from the latest-wins merge")

        sql = oracle.registry_oracle("corpus_pipeline_full")
        for i, (d, rows) in sorted(self.curated.items()):
            con.execute(
                f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
            )
            if not oracle.same_rows(rows, con.execute(sql).fetchall()):
                self.failed_ops.add(i)
                self.notes.append(f"curation op {i}: output differs from oracle")
        con.close()
        if bad:
            self.failed_ops.add(last)
            self.notes.extend(f"batch_refresh {b}" for b in bad)
        return len(self.failed_ops)

    def layer_metrics(self, spans: list[dict]) -> dict:
        n = max(len(self.mart_stats), 1)
        files = sum(s[0] for s in self.mart_stats)
        nbytes = sum(s[1] for s in self.mart_stats)
        rows = sum(s[2] for s in self.mart_stats)
        n_commits = max(len(self.commits), 1)
        return {
            "csv_ingest.skip_ratio": self.skip["skipped"] / max(self.skip["redelivered"], 1),
            "refresh.rows_read_per_new_row": sum(self.refresh_ratio) / max(len(self.refresh_ratio), 1),
            "marts.files_written": files / n,
            "marts.bytes_per_row": nbytes / max(rows, 1),
            "marts.files_scanned_per_query": files / n,
            "versioned.files_rewritten_per_upsert": sum(c["rewritten"] for c in self.commits) / n_commits,
            "versioned.bytes_written_per_input_byte": sum(c["written_bytes"] for c in self.commits)
            / max(self.stream_bytes, 1),
            "versioned.files_live": file_count(self.vtable, versions(self.vtable)[-1]),
            "curation.survivor_ratio": self.docs_out / max(self.docs_in, 1),
            "files_processed": self.files_processed,
        }


# --------------------------------------------------------------- mart_serve


class MartServe(Workload):
    """Dashboard reads from ``nproc`` closed-loop clients over the
    ``write_mart`` layout and a ``create_table`` copy of it.

    Each client loads report pages: a page is the DAG report's five
    ``operators.marts`` summaries plus one drill-down, a one-device
    3-day lookup through ``read_version(layout_between=…)`` with seeded
    arguments. The clients start evenly spread over the page and walk it
    in order, so a run's query mix does not depend on the seed. Lookups
    are one query in six by construction; the repo holds no traffic
    record to take the share from."""

    EVENTS = 6000
    CHECK_LOOKUPS = 6

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.clients = self.nproc

    def setup(self, warm: bool) -> None:
        w, spark = self.work, self.spark
        self.sf, self.mart, self.vtable = f"{w}/sf", f"{w}/mart", f"{w}/mart_v"
        os.makedirs(self.sf, exist_ok=True)
        gen.write_events(f"{self.sf}/events.parquet", self.seed, self.EVENTS)
        stg = stg_raw_temperature_readings(
            raw_readings(spark, self.sf), with_processing_timestamp=False
        )
        write_mart(
            mart_temperature_readings(
                int_temperature_anomalies(stg, threshold=ACTIVE_THRESHOLD)
            ),
            self.mart,
        )
        create_table(spark, spark.read.parquet(self.mart), self.vtable, "reading_date")
        spark.catalog.clearCache()
        if warm:
            # one of each query, side by side as the clients issue them
            days = [(gen.EVENTS_EPOCH.date() + dt.timedelta(days=d)).isoformat() for d in (0, 2)]
            page = [("summary", name) for name, _, _ in SUMMARIES] + [("lookup", "DEV_0", *days)]
            with ThreadPoolExecutor(self.clients) as pool:
                list(pool.map(lambda q: self.run_query(-1, q), page))

    def ready(self) -> None:
        spark = self.spark
        day_rows = (
            spark.read.parquet(self.mart).groupBy("reading_date").count().collect()
        )
        self.day_rows = {r[0].isoformat(): r[1] for r in day_rows}
        self.mart_rows = sum(self.day_rows.values())
        self.days = sorted(self.day_rows)
        self.results: dict = {}
        self.lock = threading.Lock()
        self.kinds: dict[int, str] = {}
        self.rngs = [gen.rng_for(self.seed, "serve", c) for c in range(self.clients)]
        self.walked = [0] * self.clients

    def lookup(self, r: random.Random) -> tuple:
        d0 = r.randrange(len(self.days) - 2)
        return ("lookup", f"DEV_{r.randrange(60)}", self.days[d0], self.days[d0 + 2])

    def prepare(self, i: int, client: int) -> tuple:
        page = len(SUMMARIES) + 1
        j = (client * page // self.clients + self.walked[client]) % page
        self.walked[client] += 1
        if j == 0:
            return self.lookup(self.rngs[client])
        return ("summary", SUMMARIES[j - 1][0])

    def run_query(self, i: int, q: tuple):
        spark = self.spark
        if q[0] == "summary":
            _, fn, spec = next(s for s in SUMMARIES if s[0] == q[1])
            with self.span("marts.plan", i):
                df = shape(fn(spark.read.parquet(self.mart)), spec)
            with self.span("marts.exec", i):
                return df.collect()
        _, dev, lo, hi = q
        with self.span("versioned.read", i):
            df = (
                read_version(spark, self.vtable, layout_between=(lo, hi))
                .filter(
                    (F.col("device_id") == dev)
                    & F.col("reading_date").between(F.lit(lo).cast("date"), F.lit(hi).cast("date"))
                )
                .agg(
                    F.count("*").alias("n"),
                    F.min("temperature_celsius").alias("t_min"),
                    F.max("temperature_celsius").alias("t_max"),
                    F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
                )
            )
        with self.span("versioned.exec", i):
            return df.collect()

    def op(self, i: int, client: int, q: tuple) -> int:
        rows = self.run_query(i, q)
        with self.lock:
            self.kinds[i] = q[0]
            first = self.results.setdefault(q, (i, rows))
        if first[0] != i and oracle.normalize(first[1]) != oracle.normalize(rows):
            with self.lock:
                self.failed_ops.add(i)
                self.notes.append(f"op {i}: {q} differs from its first answer")
        if q[0] == "summary":
            return self.mart_rows
        return sum(n for d, n in self.day_rows.items() if q[2] <= d <= q[3])

    def check(self) -> int:
        con = oracle.connect(self.work)
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.sf}/events.parquet')")
        lookups = 0
        for q, (i, rows) in sorted(self.results.items(), key=lambda kv: kv[1][0]):
            if q[0] == "summary":
                sql = oracle.registry_oracle(q[1])
            elif lookups < self.CHECK_LOOKUPS:
                lookups += 1
                _, dev, lo, hi = q
                sql = oracle_prelude(ACTIVE_THRESHOLD) + f"""
SELECT COUNT(*), MIN(temperature_celsius), MAX(temperature_celsius),
    SUM(CAST(is_anomaly AS BIGINT))
FROM mart WHERE device_id = '{dev}'
    AND reading_date BETWEEN DATE '{lo}' AND DATE '{hi}'"""
            else:
                continue
            if not oracle.same_rows(rows, con.execute(sql).fetchall()):
                self.failed_ops.add(i)
                self.notes.append(f"mart_serve {q}: output differs from oracle")
        con.close()
        return len(self.failed_ops)

    def layer_metrics(self, spans: list[dict]) -> dict:
        spark = self.spark
        with self.tracer.bookkeeping():
            mart_files = len(spark.read.parquet(self.mart).inputFiles())
            live = file_count(self.vtable, versions(self.vtable)[-1])
            ratios = [
                len(read_version(spark, self.vtable, layout_between=(q[2], q[3])).inputFiles()) / live
                for q in self.results
                if q[0] == "lookup"
            ]
        kinds = list(self.kinds.values())
        n_sum, n_look = kinds.count("summary"), kinds.count("lookup")
        read_ratio = sum(ratios) / max(len(ratios), 1)
        lat = defaultdict(list)
        for s in spans:
            if s["name"] == "op" and s["op"] in self.kinds:
                lat[self.kinds[s["op"]]].append((s["end"] - s["start"]) * 1e3)
        return {
            "marts.files_scanned_per_query": (n_sum * mart_files + n_look * live * read_ratio)
            / max(n_sum + n_look, 1),
            "versioned.files_read_per_live": read_ratio,
            "versioned.files_live": live,
            "serve.summary_p50_ms": p50(lat["summary"]),
            "serve.lookup_p50_ms": p50(lat["lookup"]),
        }


WORKLOADS = {
    "batch_refresh": BatchRefresh,
    "mart_serve": MartServe,
}
