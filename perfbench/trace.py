"""Tracing for the benchmark's traced run.

Three sources, joined on wall-clock time:

- benchmark spans (:class:`Tracer`): name, start, end, parent and run id,
  recorded around every call the benchmark makes into a layer and kept in
  memory until the run ends;
- Spark's own event log (jobs, stages, task metrics, SQL plans and SQL
  metrics), read after the session stops and flushes it;
- a ``StreamingQueryListener`` (micro-batch progress and state size).

Operations run one at a time, so a job, SQL execution or micro-batch belongs
to the operation whose span contains its start.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: span name -> layer its self time is charged to
SPAN_LAYER = {
    "op": "bench",
    "operators.build": "operators.build",
    "operators.action": "operators.action",
    "cache.release": "cache",
    "pipeline.convert": "pipeline",
    "sinks.scrub": "sinks",
    "sinks.read_array": "sinks",
    "streaming.build": "streaming",
    "streaming.run": "streaming",
    "streaming.action": "streaming",
}
JOB_LAYER = "spark_jobs"
SELF_LAYERS = sorted({*SPAN_LAYER.values(), JOB_LAYER})

#: |sum of self times - operation wall| / wall above which the report warns
SELF_TIME_TOLERANCE = 0.01

PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def wait_quiet(listener, settle_s: float = 0.5, limit_s: float = 5.0) -> None:
    """Listener events arrive asynchronously: wait until none has arrived
    for ``settle_s``."""
    deadline = time.time() + limit_s
    seen = -1
    while time.time() < deadline and seen != len(listener.progress):
        seen = len(listener.progress)
        time.sleep(settle_s)


# ------------------------------------------------------------- event log


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # id -> {start, end, stages}
    tasks: list = field(default_factory=list)  # (stage, run_ms, metrics, accums)
    executions: dict = field(default_factory=dict)  # id -> {start, plan, metrics}


def read_event_log(log_dir: str) -> EventLog:
    log = EventLog()
    paths = sorted(glob.glob(f"{log_dir}/*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    with open(paths[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                log.jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": set(ev["Stage IDs"]),
                }
            elif kind == "SparkListenerJobEnd":
                log.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                # SQL metric updates are logged as strings
                accums = {
                    a["ID"]: (a.get("Name"), _number(a.get("Update")))
                    for a in info.get("Accumulables", [])
                }
                log.tasks.append(
                    (
                        ev["Stage ID"],
                        info["Finish Time"] - info["Launch Time"],
                        ev.get("Task Metrics") or {},
                        accums,
                    )
                )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                log.executions[ev["executionId"]] = {
                    "start": ev["time"] / 1000.0,
                    "plan": ev["sparkPlanInfo"],
                    "metrics": _plan_metrics(ev["sparkPlanInfo"], {}),
                }
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                ex = log.executions.get(ev["executionId"])
                if ex is not None:
                    ex["plan"] = ev["sparkPlanInfo"]
                    _plan_metrics(ev["sparkPlanInfo"], ex["metrics"])
    return log


def _number(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_metrics(node: dict, out: dict) -> dict:
    """accumulator id -> (node name, metric name, node's metric names)."""
    names = {m["name"] for m in node.get("metrics", [])}
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"], names)
    for child in node.get("children", []):
        _plan_metrics(child, out)
    return out


def _count_nodes(node: dict, counts: dict) -> dict:
    name = node["nodeName"]
    counts[name] = counts.get(name, 0) + 1
    for child in node.get("children", []):
        _count_nodes(child, counts)
    return counts


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _inside(t: float, span: dict) -> bool:
    return span["start"] <= t <= span["end"]


# ---------------------------------------------------------- aggregation


def spark_counters(log: EventLog, windows: list[dict]) -> dict:
    """Job, stage, task and SQL counters for the jobs and SQL executions
    that start inside any of ``windows`` (spans)."""
    jobs = [j for j in log.jobs.values() if any(_inside(j["start"], w) for w in windows)]
    stages = set().union(*(j["stages"] for j in jobs)) if jobs else set()
    tasks = [t for t in log.tasks if t[0] in stages]
    execs = [
        e for e in log.executions.values() if any(_inside(e["start"], w) for w in windows)
    ]
    c = {
        "jobs": len(jobs),
        "stages": len({t[0] for t in tasks}),
        "tasks": len(tasks),
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "input_bytes": 0,
        "input_records": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "python_bytes_sent": 0,
        "python_bytes_received": 0,
        "python_rows_received": 0,
    }
    per_stage: dict[int, list[float]] = {}
    stage_python: dict[int, int] = {}
    accum_names: dict = {}
    for e in execs:
        accum_names.update(e["metrics"])
    for stage, run_ms, m, accums in tasks:
        per_stage.setdefault(stage, []).append(run_ms / 1000.0)
        c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        inp = m.get("Input Metrics", {})
        c["input_bytes"] += inp.get("Bytes Read", 0)
        c["input_records"] += inp.get("Records Read", 0)
        sr = m.get("Shuffle Read Metrics", {})
        c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc_id, (metric, update) in accums.items():
            if metric == PYTHON_SENT:
                c["python_bytes_sent"] += update
            elif metric == PYTHON_RETURNED:
                c["python_bytes_received"] += update
            if metric in (PYTHON_SENT, PYTHON_RETURNED):
                stage_python[stage] = stage_python.get(stage, 0) + update
            node = accum_names.get(acc_id)
            if metric == "number of output rows" and node and PYTHON_RETURNED in node[2]:
                c["python_rows_received"] += update
    skews = [
        max(times) / statistics.median(times)
        for times in per_stage.values()
        if len(times) > 1 and statistics.median(times) > 0
    ]
    c["task_skew"] = max(skews) if skews else 1.0
    nodes: dict[str, int] = {}
    for e in execs:
        _count_nodes(e["plan"], nodes)
    c["exchanges"] = nodes.get("Exchange", 0)
    c["broadcast_joins"] = nodes.get("BroadcastHashJoin", 0) + nodes.get(
        "BroadcastNestedLoopJoin", 0
    )
    c["sort_merge_joins"] = nodes.get("SortMergeJoin", 0)
    c["per_stage_run_s"] = {s: sum(v) for s, v in per_stage.items()}
    c["stage_python"] = {s: stage_python.get(s, 0) for s in per_stage}
    c["job_intervals"] = [(j["start"], j["end"] or j["start"]) for j in jobs]
    c["stage_cpu_s"] = {}
    for stage, _, m, _ in tasks:
        c["stage_cpu_s"][stage] = c["stage_cpu_s"].get(stage, 0.0) + m.get(
            "Executor CPU Time", 0
        ) / 1e9
    return c


def self_times(spans: list[dict], log: EventLog) -> tuple[dict, float]:
    """Self time per layer over the given operation spans and their
    descendants, plus the largest relative gap between an operation's wall
    time and the sum of its self times."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    jobs = [(j["start"], j["end"] or j["start"]) for j in log.jobs.values()]
    layers = dict.fromkeys(SELF_LAYERS, 0.0)
    worst = 0.0

    def visit(s: dict) -> float:
        kids = children.get(s["id"], [])
        own_jobs = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in jobs
            if _inside(a, s) and not any(_inside(a, k) for k in kids)
        ]
        job_s = union_s(own_jobs)
        kid_s = sum(visit(k) for k in kids)
        self_s = (s["end"] - s["start"]) - kid_s - job_s
        layers[SPAN_LAYER[s["name"]]] += self_s
        layers[JOB_LAYER] += job_s
        return s["end"] - s["start"]

    for s in spans:
        if s["name"] != "op":
            continue
        before = sum(layers.values())
        wall = visit(s)
        if wall > 0:
            worst = max(worst, abs(sum(layers.values()) - before - wall) / wall)
    return layers, worst


def streaming_counters(progress: list[dict], runs: list[dict]) -> dict:
    """Micro-batch phases and state size for the progress reports of
    streams started inside ``runs`` (``streaming.run`` spans)."""
    from datetime import datetime, timezone

    def start_of(p: dict) -> float:
        ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        return ts.replace(tzinfo=timezone.utc).timestamp()

    mine = [p for p in progress if any(_inside(start_of(p), r) for r in runs)]
    dur = [p.get("durationMs", {}) for p in mine]

    def total(key: str) -> float:
        return sum(d.get(key, 0) for d in dur) / 1000.0

    trigger = [d.get("triggerExecution", 0) / 1000.0 for d in dur]
    run_s = sum(r["end"] - r["start"] for r in runs)
    first = [
        min((start_of(p) for p in mine if _inside(start_of(p), r)), default=r["end"])
        - r["start"]
        for r in runs
    ]
    state = [p.get("stateOperators", []) for p in mine]
    return {
        "batches": len(mine),
        "input_rows": sum(p.get("numInputRows", 0) for p in mine),
        "trigger_s": sum(trigger),
        "add_batch_s": total("addBatch"),
        "latest_offset_s": total("latestOffset"),
        "query_planning_s": total("queryPlanning"),
        "wal_commit_s": total("walCommit"),
        "batch_p50_s": statistics.median(trigger) if trigger else 0.0,
        "query_start_s": sum(first),
        "outside_trigger_s": run_s - sum(trigger),
        "state_rows": max((sum(o.get("numRowsTotal", 0) for o in s) for s in state), default=0),
        "state_memory_bytes": max(
            (sum(o.get("memoryUsedBytes", 0) for o in s) for s in state), default=0
        ),
    }
