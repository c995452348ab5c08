#!/usr/bin/env python3
"""Benchmark of the strategy_analyzer_exporter_spark engine.

    python3 perfbench/run.py --workload export|stream --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. It sizes Spark to the host
(``local[N]`` from the CPUs this process may use, driver heap a quarter
of ``MemTotal``), generates its inputs from ``--seed`` under
``.perfbench_work/`` in the checkout, runs the workload, checks every
output against the package's DuckDB oracle, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``first_job_s``, ``job_s``, ``bytes_per_row``, ``peak_rss_mb``); with
``--trace 1`` the run writes Spark's event log and the benchmark's spans
and the metrics are the per-layer ones. The line before the result holds
the run's details: input properties, sample counts, percentiles,
``error_rate`` and, on ``stream``, the backlog and generator lateness.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "strategy_analyzer_exporter_spark"
END_TO_END = {
    "setup_s": "s",
    "first_job_s": "s",
    "job_s": "s",
    "bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "registry.import_s": "s",
    "session.start_s": "s",
    "operators.build_s": "s",
    "operators.py4j_calls": "count",
    "operators.plan_s": "s",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.exchanges": "count",
    "operators.agg_build_s": "s",
    "operators.sort_s": "s",
    "operators.python_s": "s",
    "operators.python_bytes": "B",
    "operators.shuffle_bytes": "B",
    "operators.spill_bytes": "B",
    "operators.gc_s": "s",
    "operators.summary_builds": "count",
    "sources.scan_s": "s",
    "sources.rows_read": "count",
    "sources.bytes_read": "B",
    "sinks.parquet_write_s": "s",
    "sinks.duckdb_ingest_s": "s",
    "sinks.parquet_bytes": "B",
    "sinks.duckdb_bytes": "B",
    "sinks.commits": "count",
    "sinks.checkpoints": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "self.bench_s": "s",
    "self.operators_s": "s",
    "self.sinks_s": "s",
    "self.streaming_s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
}
#: module-level summary caches of the operators (dedup gram/signature
#: and PQ indexes); their growth during a run counts summary builds
SUMMARY_CACHES = (
    ("operators.dedup", ("_GRAM_CACHE", "_SIG_CACHE", "_SIMKEY_CACHE", "_BATCH_GRAM_CACHE")),
    ("operators.pq", ("_INDEX_CACHE",)),
)


def host_env(run_dir: str) -> dict[str, str]:
    """Spark sizing and temporary locations for this host, passed through
    the package's own environment variables."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(8192, mem_kb // 1024 // 4))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pythonpath = os.environ.get("PYTHONPATH")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        # Python workers import the package, whatever their cwd
        "PYTHONPATH": ROOT + (os.pathsep + pythonpath if pythonpath else ""),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_TMP_DIR": os.path.join(run_dir, "staging"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }


def spark_conf(run_dir: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class PeakRss:
    """Peak resident memory of this process's descendants (the JVM and its
    Python workers): the sum of their kernel-tracked peaks (``VmHWM`` in
    /proc), read when the workload's measured part ends."""

    def __init__(self):
        self.mb = 0.0
        self.parts: list[tuple[str, float]] = []  # (command, MB) per process

    def read(self) -> None:
        if self.parts:
            return
        for pid in _descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            self.parts.append((name, _hwm_kb(pid) / 1024.0))
        self.mb = sum(mb for _, mb in self.parts)


def _descendants(pid: int) -> list[int]:
    """Every live descendant; a child is listed under the thread that
    forked it, so all threads of each process are read."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = []
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            tids = []
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids.extend(int(x) for x in f.read().split())
            except OSError:
                pass
        out.extend(kids)
        todo.extend(kids)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def timed_setup(run_dir: str, event_log: str | None = None):
    """Import the registry (every operator module), then start the
    session; returns (spark, registry import s, session start s)."""
    t0 = time.perf_counter()
    import strategy_analyzer_exporter_spark.registry  # noqa: F401

    t1 = time.perf_counter()
    from strategy_analyzer_exporter_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(run_dir, event_log))
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop the session, end its JVM and wait until the JVM and its Python
    workers have exited."""
    procs = _descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def summary_entries() -> int:
    import importlib

    n = 0
    for mod, names in SUMMARY_CACHES:
        m = importlib.import_module(f"{PACKAGE}.{mod}")
        n += sum(len(getattr(m, name, {})) for name in names)
    return n


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("export", "stream"), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ.update(host_env(run_dir))
    trace = bool(args.trace)
    event_log = os.path.join(run_dir, "eventlog") if trace else None
    try:
        return run(args, run_dir, trace, event_log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str, trace: bool, event_log: str | None) -> int:
    from tracing import Tracer
    from workloads import WORKLOADS, Ctx, highest_supported, percentile

    peak = PeakRss()
    tracer = Tracer()
    spark, import_s, start_s = timed_setup(run_dir, event_log)
    try:
        summaries0 = summary_entries()
        ctx = Ctx(spark, args.seed, args.seconds, trace, run_dir, tracer, peak.read)
        res = WORKLOADS[args.workload](ctx)
        summaries = summary_entries() - summaries0
    finally:
        stop_session(spark)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": res.inputs,
        "local": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "job_samples": len(res.samples),
        "job_samples_s": res.samples,
        "job_highest_percentile": highest_supported(res.samples),
        "error_rate": res.failed / res.attempted,
        "peak_rss_parts_mb": peak.parts,
        **res.detail,
    }
    if args.workload == "stream":
        detail["latency_p50_s"] = statistics.median(res.samples)
        detail["latency_p90_s"] = percentile(res.samples, 0.9)
    if trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(res.layers)
        layers["registry.import_s"] = import_s
        layers["session.start_s"] = start_s
        layers["operators.summary_builds"] = summaries
        layers.update(engine_layers(event_log, res, args.workload))
        selfs = tracer.self_times()
        for layer in ("bench", "operators", "sinks"):
            vals = [s.get(layer, 0.0) for s in selfs.values()]
            layers[f"self.{layer}_s"] = statistics.median(vals) if vals else 0.0
        layers["trace.job_s"] = statistics.median(res.samples)
        if res.traced_s and res.untraced_s:
            layers["trace.overhead_s"] = statistics.median(res.traced_s) - statistics.median(
                res.untraced_s
            )
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.json"))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": import_s + start_s,
            "first_job_s": res.first_job_s,
            "job_s": statistics.median(res.samples),
            "bytes_per_row": res.bytes_per_row,
            "peak_rss_mb": peak.mb,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def engine_layers(event_log: str, res, workload: str) -> dict[str, float]:
    """Event-log numbers per unit of work: the median over traced export
    jobs, or the mean per micro-batch (warm-up included) on stream."""
    from tracing import GROUP_KEYS, parse_event_log
    from workloads import CHECK_GROUP

    logs = [os.path.join(event_log, f) for f in os.listdir(event_log)]
    groups: dict[str, dict[str, float]] = {}
    for path in logs:
        with open(path) as f:
            groups.update(parse_event_log(f))
    if workload == "export":
        traced = [groups[g] for g in res.detail["traced_groups"] if g in groups]
        if not traced:
            return {}
        return {k: statistics.median(g[k] for g in traced) for k in GROUP_KEYS}
    batches = max(1, res.detail["data_batches"])
    return {
        k: sum(g[k] for name, g in groups.items() if name != CHECK_GROUP) / batches
        for k in GROUP_KEYS
    }


if __name__ == "__main__":
    sys.exit(main())
