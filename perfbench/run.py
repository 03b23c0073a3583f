"""Pipeline benchmark of record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: batch_refresh, mart_serve
(see perfbench/README.md). Inputs come
from seeded generators (perfbench/gen.py); outputs are checked against
independent DuckDB computations outside the timed region.

--trace 0  the timed run: the workload is set up SETUP_REPS times (each a
           fresh session and fresh artifacts; the first also runs one
           untimed warm-up op; ``setup_s`` is the median), then ops run
           for ``--seconds``. Prints the end-to-end metrics.
--trace 1  the traced run: after a warm-up set-up, half the time
           untraced, then a fresh session with the Spark event log on, spans
           recorded around every layer call, and a
           StreamingQueryListener; prints the per-layer table with self
           times and the tracing overhead, then the per-layer metrics.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The exit code is non-zero when any output is wrong. All files
go under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
NPROC = len(os.sched_getaffinity(0))


def configure_env(work: str) -> dict[str, str]:
    """Keep every file the run writes (Python and JVM temp files, Spark
    local dirs, warehouse) inside the work dir, and size Spark to this
    machine. Returns the extra Spark conf for ``get_spark``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "TZ": "UTC",
            "TMPDIR": tmp,
            "SPARK_GRAFT_CPUS": str(NPROC),
            "SPARK_DRIVER_MEMORY": "1g",
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_SCRATCH": tmp,
            # every JVM, the spark-submit launcher included
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    time.tzset()
    return {
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def percentile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    idx = max(math.ceil(p / 100 * len(sorted_vals)) - 1, 0)
    return sorted_vals[idx]


def tail(latencies: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples beyond it,
    never below the median; returns (value, percentile)."""
    s = sorted(latencies)
    n = len(s)
    for p in range(99, 50, -1):
        if n - math.ceil(p / 100 * n) >= 10:
            return percentile(s, p), p
    return statistics.median(s), 50


class Session:
    """The Spark session the run drives, restartable in-process."""

    def __init__(self, extra_conf: dict[str, str]):
        self.extra_conf = extra_conf
        self.spark = None

    def start(self, conf: dict[str, str] | None = None):
        from iot_temp_data_pipeline_spark.session import get_spark

        self.stop()
        self.spark = get_spark(
            app_name="perfbench", extra_conf={**self.extra_conf, **(conf or {})}
        )
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def shutdown(self) -> None:
        """Stop the session, then the JVM gateway, and wait for it."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def setup_workload(cls, session, tracer, work, seed, conf=None, warm=False):
    """One set-up: fresh session, fresh artifacts and, when ``warm``,
    one warm-up op. Returns the workload, the set-up seconds and the
    session-start seconds."""
    from tracing import Tracer

    shutil.rmtree(work, ignore_errors=True)
    t0 = time.perf_counter()
    spark = session.start(conf)
    t_session = time.perf_counter() - t0
    tracer = tracer or Tracer(spark)
    tracer.spark = spark
    wl = cls(spark, tracer, work, seed, NPROC)
    wl.setup(warm)
    elapsed = time.perf_counter() - t0
    wl.ready()
    return wl, elapsed, t_session


def measure(wl, seconds: float) -> dict:
    """Closed loop: ``wl.clients`` client threads each issue their next
    op when the previous one completes, until ``seconds`` have passed."""
    lat: list[float] = []
    rows = [0]
    errors: list[str] = []
    counter = [0]
    lock = threading.Lock()
    start = time.perf_counter()
    deadline = start + seconds
    ends: list[float] = []

    def client(c: int) -> None:
        while time.perf_counter() < deadline:
            with lock:
                i = counter[0]
                counter[0] += 1
            try:
                inp = wl.prepare(i, c)
                t0 = time.perf_counter()
                with wl.span("op", i):
                    n = wl.op(i, c, inp)
            except Exception as exc:  # a failed op counts against error_rate
                with lock:
                    wl.failed_ops.add(i)
                    errors.append(f"op {i}: {type(exc).__name__}: {exc}"[:300])
                continue
            dt_ = time.perf_counter() - t0
            with lock:
                lat.append(dt_)
                rows[0] += n
                ends.append(time.perf_counter())
            wl.after(i)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = (max(ends) if ends else time.perf_counter()) - start
    wl.notes.extend(errors)
    return {"lat": lat, "rows": rows[0], "wall": wall, "attempted": counter[0]}


def e2e_metrics(m: dict, setup_s: float, rss_mb: float) -> dict:
    lat = m["lat"] or [float("nan")]
    tail_v, tail_p = tail(lat)
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (statistics.median(lat) * 1e3, "ms"),
        "latency_tail_ms": (tail_v * 1e3, "ms"),
        "ops_per_s": (len(m["lat"]) / m["wall"], "1/s"),
        "rows_per_s": (m["rows"] / m["wall"], "rows/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }, tail_p


def print_e2e(workload: str, metrics: dict, tail_p: int, n_ops: int, failed: int, attempted: int) -> None:
    print(f"== {workload}: end-to-end (nproc={NPROC}) ==")
    for name, (v, unit) in metrics.items():
        extra = f"   (p{tail_p}, {n_ops} ops)" if name == "latency_tail_ms" else ""
        print(f"  {name:<18} {v:>14.4f} {unit}{extra}")
    print(f"  {'error_rate':<18} {failed / max(attempted, 1):>14.4f} ratio   ({failed} of {attempted} ops)")


def timed_run(cls, args, extra_conf, work) -> tuple[dict, int, int, list[str]]:
    session = Session(extra_conf)
    setups = []
    try:
        for rep in range(SETUP_REPS):
            wl, s, _ = setup_workload(cls, session, None, os.path.join(work, "w"), args.seed, warm=rep == 0)
            setups.append(s)
        m = measure(wl, args.seconds)
        failed = wl.check()
        rss = vm_hwm_mb(session.jvm_pid()) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    finally:
        session.shutdown()
    metrics, tail_p = e2e_metrics(m, statistics.median(setups), rss)
    print(f"  setup reps (s): {', '.join(f'{s:.3f}' for s in setups)}")
    print(f"  op latencies (ms): {', '.join(f'{x * 1e3:.0f}' for x in m['lat'][:40])}")
    print_e2e(args.workload, metrics, tail_p, len(m["lat"]), failed, m["attempted"])
    return {k: v for k, v in metrics.items()}, m["attempted"], failed, wl.notes


# span names summed into each busy-time metric (seconds per op)
BUSY_SPANS = {
    "csv_ingest.busy_s": ("csv_ingest.ingest", "csv_ingest.append"),
    "checks.busy_s": ("checks.violations",),
    "anomalies.busy_s": ("anomalies.build",),
    "marts.write_s": ("marts.write",),
    "dedup.pair_build_s": ("dedup.pair_build",),
    "curation.busy_s": ("curation.plan", "curation.exec"),
}

# every per-layer metric the traced run computes, with its unit; a layer
# the workload does not reach reads 0
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "csv_ingest.busy_s": "s",
    "csv_ingest.jobs_per_file": "count",
    "csv_ingest.skip_ratio": "ratio",
    "checks.busy_s": "s",
    "anomalies.busy_s": "s",
    "refresh.rows_read_per_new_row": "ratio",
    "marts.write_s": "s",
    "marts.files_written": "count",
    "marts.bytes_per_row": "B",
    "marts.plan_ms": "ms",
    "marts.exec_ms": "ms",
    "marts.files_scanned_per_query": "count",
    "serve.summary_p50_ms": "ms",
    "serve.lookup_p50_ms": "ms",
    "versioned.files_read_per_live": "ratio",
    "versioned.upsert_s": "s",
    "versioned.files_rewritten_per_upsert": "count",
    "versioned.bytes_written_per_input_byte": "ratio",
    "versioned.files_live": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.batches_per_trigger": "count",
    "dedup.pair_build_s": "s",
    "curation.busy_s": "s",
    "curation.survivor_ratio": "ratio",
    "engine.jobs_per_op": "count",
    "engine.tasks_per_op": "count",
    "engine.shuffle_bytes_per_op": "B",
    "engine.task_skew": "ratio",
    "engine.gc_share": "ratio",
    "trace.overhead_ms": "ms",
    "trace.overhead_ratio": "ratio",
    "noise.steal_ticks": "count",
    "noise.nproc": "count",
}


def traced_run(cls, args, extra_conf, work) -> tuple[dict, int, int, list[str]]:
    from tracing import Tracer, engine_metrics, event_log_conf, parse_event_log, self_times, streaming_listener

    half = args.seconds / 2
    session = Session(extra_conf)
    log_dir = os.path.join(work, "eventlog")
    try:
        # the first set-up in a fresh JVM runs a warm-up op; the untraced
        # and traced halves each start from a later set-up, as the timed
        # run's window does
        setup_workload(cls, session, None, os.path.join(work, "cold"), args.seed, warm=True)
        wl, _, _ = setup_workload(cls, session, None, os.path.join(work, "plain"), args.seed)
        plain = measure(wl, half)
        tracer = Tracer(enabled=True)
        wl, _, session_s = setup_workload(
            cls, session, tracer, os.path.join(work, "traced"), args.seed, event_log_conf(log_dir)
        )
        # added after set-up, so the listener sees the timed triggers only
        listener = streaming_listener()
        session.spark.streams.addListener(listener)
        traced = measure(wl, half)
        failed = wl.check()
        layer = wl.layer_metrics(tracer.spans)
        listener.wait_terminated(getattr(wl, "triggers", 0), timeout=5.0)
        session.spark.streams.removeListener(listener)
    finally:
        session.shutdown()
    tracer.dump(os.path.join(WORK_ROOT, f"spans_{args.workload}.jsonl"))
    n_ops = max(len(traced["lat"]), 1)
    st = self_times([s for s in tracer.spans if s["op"] >= 0])
    engine, jobs_by_layer = engine_metrics(parse_event_log(log_dir), n_ops, tracer.spans)

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def mean_ms(name):
        s = st.get(name)
        return s["total_s"] / s["n"] * 1e3 if s else 0.0

    def durs(key):
        return [p["durations"].get(key, 0) for p in progress]

    files = layer.pop("files_processed", 0)
    ingest_jobs = sum(jobs_by_layer.get(n, {}).get("jobs", 0) for n in BUSY_SPANS["csv_ingest.busy_s"])
    progress = [p for p in listener.progress if p["rows"] > 0]
    n_trig = getattr(wl, "triggers", 0)
    per_layer = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    per_layer.update(
        {
            name: sum(st.get(n, {}).get("total_s", 0.0) for n in spans) / n_ops
            for name, spans in BUSY_SPANS.items()
        }
    )
    per_layer.update(
        {
            "session.start_s": session_s,
            "csv_ingest.jobs_per_file": ingest_jobs / files if files else 0.0,
            "marts.plan_ms": mean_ms("marts.plan"),
            "marts.exec_ms": mean_ms("marts.exec"),
            "versioned.upsert_s": mean(durs("addBatch")) / 1e3,
            "streaming.add_batch_ms": mean(durs("addBatch")),
            "streaming.commit_ms": mean([a + b for a, b in zip(durs("walCommit"), durs("commitOffsets"))]),
            "streaming.planning_ms": mean(durs("queryPlanning")),
            "streaming.batches_per_trigger": len(progress) / n_trig if n_trig else 0.0,
            **engine,
            **layer,
        }
    )
    p50 = lambda m: statistics.median(m["lat"]) * 1e3 if m["lat"] else 0.0  # noqa: E731
    per_layer["trace.overhead_ms"] = p50(traced) - p50(plain)
    per_layer["trace.overhead_ratio"] = per_layer["trace.overhead_ms"] / p50(plain) if plain["lat"] else 0.0

    print(f"== {args.workload}: traced run ({len(traced['lat'])} traced ops, {len(plain['lat'])} untraced; nproc={NPROC}) ==")
    print(f"  {'span':<22} {'n':>5} {'total_s':>10} {'self_s':>10} {'self/op_ms':>11} {'jobs':>6} {'tasks':>7}")
    for name, s in sorted(st.items(), key=lambda kv: -kv[1]["self_s"]):
        jl = jobs_by_layer.get(name, {})
        print(
            f"  {name:<22} {s['n']:>5} {s['total_s']:>10.3f} {s['self_s']:>10.3f} "
            f"{s['self_s'] / n_ops * 1e3:>11.2f} {jl.get('jobs', 0):>6} {jl.get('tasks', 0):>7}"
        )
    print(f"  tracing overhead: p50 {p50(plain):.2f} ms untraced -> {p50(traced):.2f} ms traced "
          f"({per_layer['trace.overhead_ms']:+.2f} ms)")
    for name, v in per_layer.items():
        if not name.startswith("noise."):
            print(f"  {name:<40} {v:>16.4f} {PER_LAYER_UNITS[name]}")
    return {k: (v, PER_LAYER_UNITS[k]) for k, v in per_layer.items()}, traced["attempted"], failed, wl.notes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(WORK_ROOT, f"run{os.getpid()}")
    extra_conf = configure_env(work)
    sys.path.insert(0, ROOT)
    steal0 = steal_ticks()
    try:
        from workloads import WORKLOADS

        run = traced_run if args.trace else timed_run
        metrics, attempted, failed, notes = run(WORKLOADS[args.workload], args, extra_conf, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal = steal_ticks() - steal0
    print(f"  noise: steal_ticks={steal} nproc={NPROC}")
    for n in notes[:20]:
        print(f"  FAIL {n}")
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    if args.trace:
        metrics["noise.steal_ticks"] = (float(steal), "count")
        metrics["noise.nproc"] = (float(NPROC), "count")
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in wanted
        },
    }
    with open(os.path.join(WORK_ROOT, f"last_{args.workload}_{args.trace}.json"), "w") as f:
        json.dump({**result, "steal_ticks": steal, "nproc": NPROC, "notes": notes}, f)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
