"""The benchmark's workloads. Each drives the package only through its
public functions and times every call from outside.

``export``: closed loop, one client. Each job is
``features_df`` → ``export_to_duckdb`` (float32 parquet, one DuckDB
ingest, CHECKPOINT) over a seeded events random walk.

``stream``: open loop. Seeded bar day-files are copied into a watched
directory on a fixed schedule and go through ``stream_features`` →
``foreach_batch_duckdb_sink``; each file is timed from when it was due
until its day's rows are committed in DuckDB.

A workload returns a :class:`Result`; ``run.py`` turns it into the
printed metrics.
"""

from __future__ import annotations

import math
import os
import sys
import shutil
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import gate
import gen
from tracing import Py4jCounter, Tracer, jvm_gc_seconds

TABLE = "features"
#: job group of the untimed correctness jobs, left out of layer numbers
CHECK_GROUP = "correctness"


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    tracer: Tracer
    end_measurement: Callable[[], None]  # reads peak memory; call once the measured part ends


@dataclass
class Result:
    first_job_s: float
    samples: list[float]  # one per unit of work in the measured window
    bytes_per_row: float
    attempted: int
    failed: int
    inputs: dict
    layers: dict = field(default_factory=dict)  # per-layer values (traced run)
    detail: dict = field(default_factory=dict)
    traced_s: list[float] = field(default_factory=list)
    untraced_s: list[float] = field(default_factory=list)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..1) of a non-empty sample."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def highest_supported(values: list[float]) -> dict:
    """The highest percentile with at least ten samples above it."""
    n = len(values)
    if n < 20:
        return {"p": 50, "value": statistics.median(values) if values else None, "n": n}
    p = math.floor(100 * (n - 10) / n)
    return {"p": p, "value": percentile(values, p / 100), "n": n}


# ---------------------------------------------------------------------------
# export

#: seeded input: many more days than cores, thousands of bars per day
EXPORT_INPUT = gen.EventsSpec(days=24, bars_per_day=1200)
#: warm jobs run after the first and before the measured window; jobs
#: keep getting faster for several jobs while the JVM compiles hot code
EXPORT_WARMUP_JOBS = 3


def run_export(ctx: Ctx) -> Result:
    from strategy_analyzer_exporter_spark.operators.features import (
        features_df,
        features_sql,
    )
    from strategy_analyzer_exporter_spark.sinks import (
        export_to_duckdb,
        ingest_parquet_to_duckdb,
        write_parquet,
    )

    spark = ctx.spark
    in_dir = os.path.join(ctx.run_dir, "inputs")
    inputs = gen.write_events_dir(EXPORT_INPUT, ctx.seed, in_dir)
    oracle = gate.Oracle(os.path.join(in_dir, "events.parquet"), features_sql())
    inputs["exported_rows"] = oracle.rows
    tracer = ctx.tracer
    layers: dict[str, list[float]] = {}
    failed = 0
    checks: list[gate.Comparison] = []
    last_db = None

    def job(i: int, traced: bool) -> float:
        nonlocal last_db, failed
        out = os.path.join(ctx.run_dir, f"job{i}")
        db, staging = out + ".duckdb", out + "_parquet"
        group = f"job-{i}"
        spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            if traced:
                gc0 = jvm_gc_seconds(spark)
                with tracer.span("bench.job", group):
                    counter = Py4jCounter(spark)
                    try:
                        with tracer.span("operators.build", group):
                            df = features_df(spark, in_dir)
                    finally:
                        counter.close()
                    with tracer.span("operators.plan", group):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("sinks.parquet_write", group):
                        write_parquet(df, staging)
                    with tracer.span("sinks.duckdb_ingest", group):
                        ingest_parquet_to_duckdb(staging, db, TABLE)
                wall = time.perf_counter() - t0
                for k, v in (
                    ("operators.py4j_calls", counter.calls),
                    ("operators.gc_s", jvm_gc_seconds(spark) - gc0),
                    ("sinks.parquet_bytes", _tree_bytes(staging)),
                    ("sinks.duckdb_bytes", os.path.getsize(db)),
                ):
                    layers.setdefault(k, []).append(v)
            else:
                export_to_duckdb(features_df(spark, in_dir), db, TABLE, staging)
                wall = time.perf_counter() - t0
            checks.append(oracle.compare(db, TABLE))
            ok = checks[-1].bad == 0
        except Exception as e:  # a failed job counts toward error_rate
            print(f"job {i} failed: {e!r}", file=sys.stderr, flush=True)
            wall, ok = time.perf_counter() - t0, False
        failed += not ok
        shutil.rmtree(staging, ignore_errors=True)
        if os.path.exists(db):  # keep the newest result, for bytes_per_row
            if last_db:
                os.remove(last_db)
            last_db = db
        return wall

    first = job(0, False)
    for i in range(1, 1 + EXPORT_WARMUP_JOBS):
        job(i, False)
    samples, traced_s, untraced_s = [], [], []
    i = 1 + EXPORT_WARMUP_JOBS
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(samples) < 3:
        traced = ctx.trace and i % 2 == 0
        w = job(i, traced)
        samples.append(w)
        (traced_s if traced else untraced_s).append(w)
        i += 1
    ctx.end_measurement()
    oracle.close()
    attempted = i
    bytes_per_row = duckdb_data_bytes(last_db) / max(1, inputs["exported_rows"])
    res = Result(first, samples, bytes_per_row, attempted, failed, inputs)
    res.detail.update(_check_detail("oracle", checks))
    res.traced_s, res.untraced_s = traced_s, untraced_s
    if ctx.trace:
        res.layers = {k: statistics.median(v) for k, v in layers.items()}
        for name, key in (
            ("operators.build", "operators.build_s"),
            ("operators.plan", "operators.plan_s"),
            ("sinks.parquet_write", "sinks.parquet_write_s"),
            ("sinks.duckdb_ingest", "sinks.duckdb_ingest_s"),
        ):
            res.layers[key] = statistics.median(tracer.durations(name))
        res.detail["traced_groups"] = [
            f"job-{j}" for j in range(1 + EXPORT_WARMUP_JOBS, i) if j % 2 == 0
        ]
    return res


def _check_detail(name: str, checks: list[gate.Comparison]) -> dict:
    """Per check: rows off the reference, rows within tolerance but not
    bit-identical, and the largest difference on a tolerance column."""
    return {
        f"{name}_bad_rows": [c.bad for c in checks],
        f"{name}_inexact_rows": [c.inexact for c in checks],
        f"{name}_max_diff": max((c.max_diff for c in checks), default=0.0),
    }


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# ---------------------------------------------------------------------------
# stream

#: day-files per stream run: WARM files first (untimed except for the
#: first commit), then BACKFILL files at once (untimed: they warm the JVM
#: and give the table enough rows that bytes_per_row does not turn on a
#: single 256 KiB block), then one file every INTERVAL seconds for the
#: window. A lone file takes about 1.4 s from due to committed on a
#: 4-vCPU host, so at one file per 2 s the stream idles between files and
#: the backlog stays 0; at 0.5 s it batched 3-4 files, and any slowdown of
#: the host grew the batches and the latency more than in proportion.
STREAM_WARM_FILES = 3
STREAM_BACKFILL_FILES = 20
STREAM_INTERVAL_S = 2.0
STREAM_BARS_PER_DAY = 600
STREAM_DRAIN_TIMEOUT_S = 60.0


def run_stream(ctx: Ctx) -> Result:
    import duckdb

    from strategy_analyzer_exporter_spark.operators.features import (
        features_df,
        features_sql,
    )
    from strategy_analyzer_exporter_spark.sinks import export_to_duckdb
    from strategy_analyzer_exporter_spark.streaming import (
        BAR_SCHEMA,
        foreach_batch_duckdb_sink,
        stream_features,
    )

    spark = ctx.spark
    n_sched = max(1, math.ceil(ctx.seconds / STREAM_INTERVAL_S))
    n_warm = STREAM_WARM_FILES + STREAM_BACKFILL_FILES
    spec = gen.EventsSpec(days=n_warm + n_sched, bars_per_day=STREAM_BARS_PER_DAY)
    in_dir = os.path.join(ctx.run_dir, "inputs")
    inputs = gen.write_events_dir(spec, ctx.seed, in_dir)
    oracle = gate.Oracle(os.path.join(in_dir, "events.parquet"), features_sql())
    inputs["exported_rows"] = oracle.rows
    src_dir = os.path.join(ctx.run_dir, "dayfiles")
    os.makedirs(src_dir)
    files = []
    for k, (day, tbl) in enumerate(gen.split_day_files(gen.bars_from_events(in_dir))):
        path = os.path.join(src_dir, f"day_{k:04d}.parquet")
        gen.write_table(tbl, path)
        files.append((day, path))
    inputs["files"] = len(files)

    watch = os.path.join(ctx.run_dir, "watch")
    os.makedirs(watch)
    db = os.path.join(ctx.run_dir, "stream.duckdb")
    sink = foreach_batch_duckdb_sink(db, TABLE)
    committed: dict[int, tuple[float, int]] = {}  # day → (commit time, epoch)
    tracer = ctx.tracer

    def on_batch(df, epoch_id: int) -> None:
        if ctx.trace and epoch_id % 2 == 0:
            with tracer.span("bench.batch", f"epoch-{epoch_id}"):
                with tracer.span("sinks.duckdb_commit", f"epoch-{epoch_id}"):
                    sink(df, epoch_id)
                days = _committed_days(duckdb, db)
        else:
            sink(df, epoch_id)
            days = _committed_days(duckdb, db)
        now = time.perf_counter()
        for d in days:
            committed.setdefault(d, (now, epoch_id))

    def place(path: str) -> None:
        # copy under a hidden name, then rename: the file source never
        # lists a half-written file
        tmp = os.path.join(watch, "." + os.path.basename(path))
        shutil.copyfile(path, tmp)
        os.replace(tmp, os.path.join(watch, os.path.basename(path)))

    def wait_for(days: list[int], timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            if all(d in committed for d in days):
                return True
            time.sleep(0.005)
        return False

    bars_stream = spark.readStream.schema(BAR_SCHEMA).parquet(watch)
    t_start = time.perf_counter()
    query = (
        stream_features(bars_stream)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", os.path.join(ctx.run_dir, "checkpoint"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    due: dict[int, float] = {}
    late: list[float] = []
    backlog_seen: list[int] = []  # files due and not committed, at each due time
    try:
        warm_days = [d for d, _ in files[:n_warm]]
        for _, path in files[:STREAM_WARM_FILES]:
            place(path)
        if not wait_for(warm_days[:1], STREAM_DRAIN_TIMEOUT_S):
            raise RuntimeError("stream did not commit its first day-file")
        first = committed[warm_days[0]][0] - t_start
        for _, path in files[STREAM_WARM_FILES:n_warm]:
            place(path)
        wait_for(warm_days, STREAM_DRAIN_TIMEOUT_S)
        n_warm_progress = len(query.recentProgress)
        t0 = time.perf_counter() + STREAM_INTERVAL_S
        for k, (day, path) in enumerate(files[n_warm:]):
            t_due = t0 + k * STREAM_INTERVAL_S
            while (now := time.perf_counter()) < t_due:
                time.sleep(min(0.01, t_due - now))
            backlog_seen.append(sum(1 for d in due if d not in committed))
            due[day] = t_due
            place(path)
            late.append(time.perf_counter() - due[day])
        t_end = t0 + n_sched * STREAM_INTERVAL_S
        while time.perf_counter() < t_end:
            time.sleep(0.005)
        backlog = sum(1 for d in due if d not in committed)
        wait_for(list(due), STREAM_DRAIN_TIMEOUT_S)
        all_progress = [p for p in query.recentProgress if p.numInputRows > 0]
        progress = [p for p in query.recentProgress[n_warm_progress:] if p.numInputRows > 0]
    finally:
        query.stop()
    ctx.end_measurement()

    # correctness: every file committed and the table equals the oracle;
    # the traced run also checks it equals the batch export of the same
    # bars (a cold batch job, too slow for every run)
    failed = sum(1 for d, _ in files if d not in committed)
    file_bytes = os.path.getsize(db)
    checks = [oracle.compare(db, TABLE)]
    oracle.close()
    res_detail = _check_detail("oracle", checks)
    if ctx.trace:
        export_db = os.path.join(ctx.run_dir, "export.duckdb")
        spark.sparkContext.setJobGroup(CHECK_GROUP, CHECK_GROUP)
        export_to_duckdb(
            features_df(spark, in_dir), export_db, TABLE, os.path.join(ctx.run_dir, "export_parquet")
        )
        con = duckdb.connect()
        try:
            con.execute(f"ATTACH '{export_db}' AS exp (READ_ONLY)")
            checks.append(gate.compare_table(con, db, TABLE, f'SELECT * FROM exp."{TABLE}"'))
        finally:
            con.close()
        res_detail.update(_check_detail("export", checks[-1:]))
    failed += sum(c.bad > 0 for c in checks)
    samples = [committed[d][0] - due[d] for d in due if d in committed]
    res = Result(
        first_job_s=first,
        samples=samples,
        bytes_per_row=duckdb_data_bytes(db) / max(1, oracle.rows),
        attempted=len(files) + len(checks),  # every day-file, plus the table checks
        failed=failed,
        inputs=inputs,
    )
    res.detail = {
        "backlog_files": backlog,
        "backlog_max": max(backlog_seen),
        "generator_late_max_s": max(late),
        "generator_late_median_s": statistics.median(late),
        "duckdb_file_bytes": file_bytes,
        "data_batches": len(all_progress),
        **res_detail,
    }
    if ctx.trace:
        for d in due:
            if d in committed:
                traced = committed[d][1] % 2 == 0
                (res.traced_s if traced else res.untraced_s).append(committed[d][0] - due[d])
    last = progress[-1] if progress else None
    state = (last.stateOperators or [None])[0] if last else None
    res.layers = {
        "streaming.batches": len(progress),
        "streaming.batch_s": _median_ms(progress, "triggerExecution"),
        "streaming.add_batch_s": _median_ms(progress, "addBatch"),
        # the engine's own share of a batch: everything but the sink call
        "self.streaming_s": statistics.median(
            (p.durationMs.get("triggerExecution", 0) - p.durationMs.get("addBatch", 0)) / 1000
            for p in progress
        ) if progress else 0.0,
        "streaming.state_rows": state.numRowsTotal if state else 0,
        "streaming.state_bytes": state.memoryUsedBytes if state else 0,
        "sinks.commits": sink.stats["commits"],
        "sinks.checkpoints": sink.stats["checkpoints"],
        "sinks.duckdb_bytes": file_bytes,
    }
    return res


def duckdb_data_bytes(db: str) -> int:
    """Bytes of the blocks a DuckDB file's data occupies after a
    CHECKPOINT. Unlike the file size, this does not depend on how commits
    happened to be timed (freed blocks stay in the file)."""
    import duckdb

    con = duckdb.connect(db)
    try:
        con.execute("CHECKPOINT")
        _, _, block_size, _, used_blocks, *_ = con.execute("PRAGMA database_size").fetchone()
        return int(block_size) * int(used_blocks)
    finally:
        con.close()


def _committed_days(duckdb, db: str) -> list[int]:
    con = duckdb.connect(db)
    try:
        return [r[0] for r in con.execute(f'SELECT DISTINCT day FROM "{TABLE}"').fetchall()]
    finally:
        con.close()


def _median_ms(progress, key: str) -> float:
    vals = [p.durationMs.get(key, 0) for p in progress]
    return statistics.median(vals) / 1000.0 if vals else 0.0


WORKLOADS = {"export": run_export, "stream": run_stream}
