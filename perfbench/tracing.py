"""Benchmark-side tracing: spans, a py4j round-trip counter and a Spark
event-log parser.

Nothing here reaches into the package: spans wrap the benchmark's own
calls into each layer, the counter wraps the py4j client the session
already owns, and every engine-side number comes from Spark's event log
(written uncompressed by the traced run) and from the JVM's GC beans.

Event-log units are checked per metric: SQL metrics carry a
``metricType`` (``timing`` = ms, ``nsTiming`` = ns, ``size`` = bytes,
``sum`` = count); task metrics are documented in Spark's
``JsonProtocol`` (run times and GC time in ms, bytes in bytes).
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str  # "<layer>.<call>", e.g. "operators.build"
    job: str  # spans of one job share this id
    start: float
    end: float
    parent: int | None  # index of the parent span, None for a root

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Tracer:
    """In-memory span recorder; ``dump`` writes the spans when the run ends."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, job: str):
        return _SpanCtx(self, name, job)

    def self_times(self) -> dict[str, dict[str, float]]:
        """{job: {layer: self seconds}} — each span's duration minus the
        part of its interval its child spans cover."""
        covered = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            out[s.job][s.layer] += max(0.0, (s.end - s.start) - covered[i])
        return {j: dict(v) for j, v in out.items()}

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": i, "name": s.name, "job": s.job, "start": s.start,
                     "end": s.end, "parent": s.parent}
                    for i, s in enumerate(self.spans)
                ],
                f,
            )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, job: str):
        self.tracer, self.name, self.job = tracer, name, job

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        self.idx = len(t.spans)
        t.spans.append(Span(self.name, self.job, time.perf_counter(), 0.0, parent))
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.idx].end = time.perf_counter()
        t._stack.pop()
        return False


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command`` (every JVM call from Python goes through it)."""

    def __init__(self, spark):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def counting(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counting

    def close(self) -> None:
        self._client.send_command = self._orig


def jvm_gc_seconds(spark) -> float:
    """Total collection time of the driver JVM's collectors (in local mode
    the driver JVM runs every task, so this is the whole engine's GC)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# ---------------------------------------------------------------------------
# Event log

#: SQL metric names (as Spark 4.1 writes them) → benchmark metric; the value
#: is scaled by the metric's own metricType (_SCALE)
SQL_METRICS = {
    "scan time": "sources.scan_s",
    "time in aggregation build": "operators.agg_build_s",
    "sort time": "operators.sort_s",
    "data sent to Python workers": "operators.python_bytes",
    "data returned from Python workers": "operators.python_bytes",
    "time to run Python workers": "operators.python_s",
}
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}

GROUP_KEYS = (
    "operators.stages", "operators.tasks", "operators.exchanges",
    "sources.rows_read", "sources.bytes_read",
    "sources.scan_s", "operators.agg_build_s", "operators.sort_s",
    "operators.python_s", "operators.python_bytes", "operators.shuffle_bytes",
    "operators.spill_bytes",
)


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Aggregate an uncompressed Spark event log per job group.

    Returns ``{job group: {metric: value}}`` with the keys of GROUP_KEYS;
    jobs without a group are reported under ``""``. Scan rows are the
    ``number of output rows`` of scan nodes and scan bytes their ``size of
    files read``; task-summed times (scan, aggregation build, sort, Python)
    add up the concurrent tasks' time, so they can exceed wall time.
    Exchanges count the shuffle
    ``Exchange`` nodes of each SQL execution's final (post-AQE) plan."""
    acc_meta: dict[int, tuple[str, str, str]] = {}  # acc id → (node, metric, type)
    final_plan: dict[int, dict] = {}  # execution id → latest plan info
    exec_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    driver_updates: list[tuple[int, list]] = []
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(GROUP_KEYS, 0.0))

    def add_plan(execution: int, plan: dict) -> None:
        final_plan[execution] = plan
        for node in _walk(plan):
            for m in node.get("metrics", ()):
                acc_meta[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])

    def add_acc(group: str, acc_id: int, value) -> None:
        meta = acc_meta.get(acc_id)
        if meta is None or value is None:
            return
        node, name, kind = meta
        value = float(value)  # task updates are written as strings
        g = out[group]
        if node.startswith("Scan"):
            if name == "number of output rows":
                g["sources.rows_read"] += value
            elif name == "size of files read":
                g["sources.bytes_read"] += value
        key = SQL_METRICS.get(name)
        if key is not None:
            g[key] += value * _SCALE.get(kind, 1.0)

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            add_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            add_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            g = out[group]
            g["operators.tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            g["operators.shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g["operators.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            # per-task deltas ("Update"), not the accumulator's running
            # "Value", so a metric updated by several stages is not
            # counted more than once
            for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
                add_acc(group, a["ID"], a.get("Update"))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            out[stage_group.get(info["Stage ID"], "")]["operators.stages"] += 1
        elif kind.endswith("DriverAccumUpdates"):
            # driver-side metrics (file listing) precede the execution's
            # first job, which is what names its group: apply them last
            driver_updates.append((ev["executionId"], ev.get("accumUpdates", ())))
    for execution, updates in driver_updates:
        for acc_id, value in updates:
            add_acc(exec_group.get(execution, ""), acc_id, value)
    for execution, plan in final_plan.items():
        group = exec_group.get(execution)
        if group is None:
            continue
        out[group]["operators.exchanges"] += sum(1 for n in _walk(plan) if n["nodeName"] == "Exchange")
    return {g: dict(v) for g, v in out.items()}
