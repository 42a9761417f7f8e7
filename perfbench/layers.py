"""Metric catalogue and the per-layer numbers of a traced run.

``METRICS`` maps every reported metric to its unit, the layer it measures,
and the end-to-end metric and workload it should move. A layer that a
workload does not call reads 0 there: that workload is the one on which a
change to the layer predicts no change.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from . import trace

SQL, ZS = "sql_dataprep", "zarr_stream"

#: name -> (unit, layer, end-to-end metric it should move, workload)
METRICS: dict[str, tuple[str, str, str, str]] = {
    # end to end (untraced runs)
    "setup_s": ("s", "session", "-", "both"),
    "cold_pass_cpu_s": ("s", "all", "-", "both"),
    "pass_cpu_s": ("s", "all", "-", "both"),
    # wall clock of the same untraced loop, reported with the traced run
    "wall.setup_s": ("s", "session", "setup_s", "both"),
    "wall.cold_pass_s": ("s", "all", "cold_pass_cpu_s", "both"),
    "wall.pass_s": ("s", "all", "pass_cpu_s", "both"),
    "wall.op_p50_s": ("s", "all", "pass_cpu_s", "both"),
    # per layer (traced run)
    "session.start_s": ("s", "session", "setup_s", "both"),
    "session.warmup_s": ("s", "session", "setup_s", "both"),
    "session.peak_rss_mib": ("MiB", "session", "setup_s", "both"),
    "tables.input_bytes": ("bytes", "tables", "pass_cpu_s", SQL),
    "tables.input_records": ("count", "tables", "pass_cpu_s", SQL),
    "operators.build_s": ("s", "operators", "pass_cpu_s", SQL),
    "operators.action_s": ("s", "operators", "pass_cpu_s", SQL),
    "operators.driver_only_s": ("s", "operators", "pass_cpu_s", SQL),
    "operators.jobs": ("count", "operators", "pass_cpu_s", SQL),
    "operators.stages": ("count", "operators", "pass_cpu_s", SQL),
    "operators.tasks": ("count", "operators", "pass_cpu_s", SQL),
    "operators.executor_run_s": ("s", "operators", "pass_cpu_s", SQL),
    "operators.executor_cpu_s": ("s", "operators", "pass_cpu_s", SQL),
    "operators.gc_s": ("s", "operators", "pass_cpu_s", SQL),
    "operators.shuffle_write_bytes": ("bytes", "operators", "pass_cpu_s", SQL),
    "operators.shuffle_read_bytes": ("bytes", "operators", "pass_cpu_s", SQL),
    "operators.spill_bytes": ("bytes", "operators", "pass_cpu_s", SQL),
    "operators.exchanges": ("count", "operators", "pass_cpu_s", SQL),
    "operators.broadcast_joins": ("count", "operators", "pass_cpu_s", SQL),
    "operators.sort_merge_joins": ("count", "operators", "pass_cpu_s", SQL),
    "operators.task_skew": ("ratio", "operators", "pass_cpu_s", SQL),
    "python.bytes_sent": ("bytes", "python", "pass_cpu_s", SQL),
    "python.bytes_received": ("bytes", "python", "pass_cpu_s", SQL),
    "python.rows_received": ("count", "python", "pass_cpu_s", SQL),
    "cache.persists_released": ("count", "cache", "cold_pass_cpu_s", SQL),
    "cache.cold_minus_warm_s": ("s", "cache", "cold_pass_cpu_s", "both"),
    "streaming.feed_events_s": ("1/s", "streaming", "pass_cpu_s", ZS),
    "streaming.batches": ("count", "streaming", "pass_cpu_s", ZS),
    "streaming.input_rows": ("count", "streaming", "pass_cpu_s", ZS),
    "streaming.trigger_s": ("s", "streaming", "pass_cpu_s", ZS),
    "streaming.add_batch_s": ("s", "streaming", "pass_cpu_s", ZS),
    "streaming.latest_offset_s": ("s", "streaming", "pass_cpu_s", ZS),
    "streaming.query_planning_s": ("s", "streaming", "pass_cpu_s", ZS),
    "streaming.wal_commit_s": ("s", "streaming", "pass_cpu_s", ZS),
    "streaming.batch_p50_s": ("s", "streaming", "pass_cpu_s", ZS),
    "streaming.query_start_s": ("s", "streaming", "pass_cpu_s", ZS),
    "streaming.outside_trigger_s": ("s", "streaming", "pass_cpu_s", ZS),
    "streaming.state_rows": ("count", "streaming", "pass_cpu_s", ZS),
    "streaming.state_memory_bytes": ("bytes", "streaming", "pass_cpu_s", ZS),
    "pipeline.convert_mib_s": ("MiB/s", "pipeline", "pass_cpu_s", ZS),
    "pipeline.convert_s": ("s", "pipeline", "pass_cpu_s", ZS),
    "pipeline.driver_only_s": ("s", "pipeline", "pass_cpu_s", ZS),
    "pipeline.jobs": ("count", "pipeline", "pass_cpu_s", ZS),
    "pipeline.tasks": ("count", "pipeline", "pass_cpu_s", ZS),
    "pipeline.level_run_s.L0": ("s", "pipeline", "pass_cpu_s", ZS),
    "pipeline.level_run_s.L1": ("s", "pipeline", "pass_cpu_s", ZS),
    "pipeline.level_run_s.L2": ("s", "pipeline", "pass_cpu_s", ZS),
    "pipeline.level_cpu_s.L0": ("s", "pipeline", "pass_cpu_s", ZS),
    "pipeline.level_cpu_s.L1": ("s", "pipeline", "pass_cpu_s", ZS),
    "pipeline.level_cpu_s.L2": ("s", "pipeline", "pass_cpu_s", ZS),
    "pipeline.shuffle_bytes": ("bytes", "pipeline", "pass_cpu_s", ZS),
    "pipeline.python_bytes": ("bytes", "pipeline", "pass_cpu_s", ZS),
    "sinks.stored_ratio": ("ratio", "sinks", "pass_cpu_s", ZS),
    "sinks.bytes_stored": ("bytes", "sinks", "pass_cpu_s", ZS),
    "sinks.chunks_written": ("count", "sinks", "pass_cpu_s", ZS),
    "sinks.readback_mib_s": ("MiB/s", "sinks", "pass_cpu_s", ZS),
    "sinks.scrub_s": ("s", "sinks", "pass_cpu_s", ZS),
    "sinks.chunks_verified": ("count", "sinks", "pass_cpu_s", ZS),
    "sinks.read_array_s": ("s", "sinks", "pass_cpu_s", ZS),
    **{
        f"self_s.{layer}": ("s", layer, "pass_cpu_s", "both")
        for layer in trace.SELF_LAYERS
    },
    "trace.self_time_residual": ("ratio", "trace", "-", "both"),
    "trace.overhead_s": ("s", "trace", "-", "both"),
    "trace.overhead_frac": ("ratio", "trace", "-", "both"),
    "trace.nonrepeating_counts": ("count", "trace", "-", "both"),
}
END_TO_END = ["setup_s", "cold_pass_cpu_s", "pass_cpu_s"]
PER_LAYER = [m for m in METRICS if m not in END_TO_END]

#: counters expected to repeat exactly from one warm pass to the next
EXACT = [
    "operators.jobs",
    "operators.stages",
    "operators.tasks",
    "operators.exchanges",
    "operators.shuffle_write_bytes",
    "operators.shuffle_read_bytes",
    "pipeline.jobs",
    "pipeline.tasks",
    "pipeline.shuffle_bytes",
    "sinks.stored_ratio",
    "sinks.chunks_written",
    "streaming.batches",
]


def unit(name: str) -> str:
    return METRICS[name][0]


def select(values: dict[str, float]) -> dict:
    """Every per-layer metric, in catalogue order."""
    return {m: {"value": values[m], "unit": unit(m)} for m in PER_LAYER}


@dataclass
class Traced:
    metrics: dict = field(default_factory=dict)
    report: list = field(default_factory=list)


def _spans_of(records: list, spans: list[dict], names: tuple[str, ...]) -> list[dict]:
    ops = [r.span for r in records]
    return [
        s
        for s in spans
        if s["name"] in names and any(o["start"] <= s["start"] <= o["end"] for o in ops)
    ]


def _pass_counters(records, spans, progress, log, info) -> dict:
    """Per-layer counters of one traced pass."""
    c: dict = {}
    ops = [r.span for r in records]
    every = trace.spark_counters(log, ops)
    c["tables.input_bytes"] = every["input_bytes"]
    c["tables.input_records"] = every["input_records"]
    c["python.bytes_sent"] = every["python_bytes_sent"]
    c["python.bytes_received"] = every["python_bytes_received"]
    c["python.rows_received"] = every["python_rows_received"]

    build = _spans_of(records, spans, ("operators.build",))
    action = _spans_of(records, spans, ("operators.action",))
    sql = trace.spark_counters(log, build + action)
    c["operators.build_s"] = sum(s["end"] - s["start"] for s in build)
    c["operators.action_s"] = sum(s["end"] - s["start"] for s in action)
    c["operators.driver_only_s"] = sum(
        (a["end"] - a["start"])
        - trace.union_s(
            [
                (max(j0, a["start"]), min(j1, a["end"]))
                for j0, j1 in sql["job_intervals"]
                if a["start"] <= j0 <= a["end"]
            ]
        )
        for a in action
    )
    for key in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "exchanges",
        "broadcast_joins", "sort_merge_joins", "task_skew",
    ):
        c[f"operators.{key}"] = sql[key] if build else 0
    c["cache.persists_released"] = sum(r.released for r in records)

    runs = _spans_of(records, spans, ("streaming.run",))
    for key, value in trace.streaming_counters(progress, runs).items():
        c[f"streaming.{key}"] = value

    conv = _spans_of(records, spans, ("pipeline.convert",))
    pipe = trace.spark_counters(log, conv)
    c["pipeline.convert_s"] = sum(s["end"] - s["start"] for s in conv)
    c["pipeline.driver_only_s"] = c["pipeline.convert_s"] - trace.union_s(pipe["job_intervals"])
    c["pipeline.jobs"] = pipe["jobs"]
    c["pipeline.tasks"] = pipe["tasks"]
    c["pipeline.shuffle_bytes"] = pipe["shuffle_write_bytes"]
    c["pipeline.python_bytes"] = pipe["python_bytes_sent"] + pipe["python_bytes_received"]
    # the fused pyramid job writes level k in its k-th stage that runs
    # Python (the stages before it only shuffle the block index); the CPU
    # time is the JVM's, the Python workers' own CPU is not in the log
    write_stages = sorted(s for s, n in pipe["stage_python"].items() if n) if conv else []
    for lvl in range(3):
        stage = write_stages[lvl] if lvl < len(write_stages) else None
        c[f"pipeline.level_run_s.L{lvl}"] = pipe["per_stage_run_s"].get(stage, 0.0)
        c[f"pipeline.level_cpu_s.L{lvl}"] = pipe["stage_cpu_s"].get(stage, 0.0)

    facts = {r.name: r.facts for r in records}
    stored = facts.get("convert", {})
    c["sinks.bytes_stored"] = stored.get("bytes_stored", 0)
    c["sinks.chunks_written"] = stored.get("chunks_written", 0)
    c["sinks.stored_ratio"] = (
        c["sinks.bytes_stored"] / info["level0_bytes"] if "level0_bytes" in info else 0.0
    )
    c["sinks.chunks_verified"] = facts.get("scrub", {}).get("chunks_verified", 0)
    c["sinks.scrub_s"] = sum(
        s["end"] - s["start"] for s in _spans_of(records, spans, ("sinks.scrub",))
    )
    c["sinks.read_array_s"] = sum(
        s["end"] - s["start"] for s in _spans_of(records, spans, ("sinks.read_array",))
    )
    return c


def per_layer(passes, spans, progress, log_dir: Path, info: dict) -> Traced:
    """Per-layer metrics from the traced passes: ``passes[0]`` warmed the
    traced session, ``passes[1]`` is measured, ``passes[2]`` repeats it."""
    log = trace.read_event_log(str(log_dir))
    measured, repeat = passes[1], passes[2]
    out = Traced()
    out.metrics = _pass_counters(measured, spans, progress, log, info)
    again = _pass_counters(repeat, spans, progress, log, info)
    differ = [k for k in EXACT if out.metrics[k] != again[k]]
    out.metrics["trace.nonrepeating_counts"] = len(differ)

    selfs, residual = trace.self_times(_spans_of(measured, spans, tuple(trace.SPAN_LAYER)), log)
    for layer, secs in selfs.items():
        out.metrics[f"self_s.{layer}"] = secs
    out.metrics["trace.self_time_residual"] = residual
    wall = sum(r.span["end"] - r.span["start"] for r in measured)
    out.report = [
        f"self time by layer (s, traced warm pass {wall:.3f} s wall): "
        + ", ".join(f"{k} {v:.3f}" for k, v in selfs.items()),
        f"self times account for every operation's wall time within "
        f"{residual:.2e} (tolerance {trace.SELF_TIME_TOLERANCE})"
        + ("" if residual <= trace.SELF_TIME_TOLERANCE else " -- EXCEEDED"),
        "exact counters that did not repeat between two warm passes: "
        + (", ".join(f"{k} {out.metrics[k]} vs {again[k]}" for k in differ) or "none"),
        "per-operation traced wall (s): "
        + ", ".join(f"{r.name} {r.secs:.3f}" for r in measured),
    ]
    return out
