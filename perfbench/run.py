"""Benchmark of the spark-graft engine: one client, a closed loop of
operations, a fresh ``local[nproc]`` session per run.

    python3 perfbench/run.py --workload sql_dataprep --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from the seed into
``perfbench/.work`` (reused by later runs with the same seed). A run sets the
session up five times, then runs a cold pass over the workload's operations
and warm passes until ``--seconds`` have passed and the workload's minimum
of warm passes is done. Every result is checked; a wrong result counts as a
failed operation.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
untraced loop, then restarts the session with Spark's event log and a
streaming listener on and runs three more passes; the first warms the new
session, the second gives the per-layer metrics and the third checks that
the exact counters repeat. The tracing overhead is the traced warm pass
minus the fastest untraced one.

The last line of standard output is one JSON object; the lines before it
are a readable report. Exit status is 0 when the run completed (failed
operations included) and non-zero, with no JSON line, when it could not run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

SETUP_REPS = 5
TICKS_PER_S = os.sysconf("SC_CLK_TCK")
DRIVER_MEM = "4g"
#: a run that has not finished by then stops without a result
HARD_LIMIT_S = 150


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, size the session
    to this host, and put the checkout on the Python workers' path."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = str(tmp)
    sys.path.insert(0, str(ROOT))


def _host() -> dict:
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        ).stdout.strip() or None
    except OSError:
        head = None
    import pyspark

    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "nproc": os.cpu_count(),
        "ram_gib": round(mem / 2**30, 1),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_head": head,
    }


class Session:
    """The run's SparkSession, restartable in the same JVM."""

    def __init__(self, run_dir: Path):
        self.run_dir = run_dir
        self.spark = None
        self.count = 0

    def start(self, event_log: Path | None = None) -> tuple[float, float, float]:
        """Bring a session up and warm it; returns the wall seconds of each
        step and the host CPU seconds of both."""
        from aind_hcr_data_transformation_spark.session import get_spark

        self.stop()
        conf = {
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            # no hsperfdata files outside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        }
        if event_log is not None:
            event_log.mkdir(parents=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": str(event_log),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        c0 = _cpu_ticks()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.count}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        self.count += 1
        return t1 - t0, t2 - t1, (_cpu_ticks()[0] - c0[0]) / TICKS_PER_S

    def peak_rss_mib(self) -> float:
        """Peak resident memory of the driver JVM plus this process."""
        own_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kib = 0
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kib = int(line.split()[1])
        return (own_kib + jvm_kib) / 1024.0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM behind it, and wait for both."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.stop()
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _fixtures(workload: str, seed: int) -> tuple[dict, dict]:
    """Build (or reuse) and verify the seed's inputs; returns paths and a
    report."""
    from perfbench import datagen, workloads as W

    from aind_hcr_data_transformation_spark.sources.zisraw import stack_info

    data = WORK / "data"
    sf = W.SQL_SF if workload == "sql_dataprep" else W.FEED_SF
    key = f"tables-sf{sf}-seed{seed}"
    tables, secs = datagen.ensure(
        str(data), key, lambda d: {"rows": datagen.make_tables(d, seed, sf)}
    )
    datagen.verify_tables(str(data / key), tables["rows"])
    inputs = {"tables": str(data / key)}
    report = {"fixture_s": secs, "rows": tables["rows"]}
    if workload == "zarr_stream":
        shape = "x".join(map(str, W.STACK_SHAPE))
        stacks, ssecs = datagen.ensure(
            str(data),
            f"czi-{W.STACKS}x{shape}-seed{seed}",
            lambda d: {"paths": datagen.make_stacks(d, seed, W.STACKS, W.STACK_SHAPE)},
        )
        for path in stacks["paths"].values():
            got = stack_info(path)
            if got != (W.STACK_SHAPE, "uint16"):
                raise RuntimeError(f"fixture {path}: {got}, want {W.STACK_SHAPE} uint16")
        inputs["stacks"] = stacks["paths"]
        report["fixture_s"] += ssecs
        report["stacks"] = f"{W.STACKS} x {shape} uint16"
    return inputs, report


def _cpu_ticks() -> tuple[int, int, int]:
    """Host-wide (busy, steal, total) clock ticks from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    busy = f[0] + f[1] + f[2] + f[5] + f[6]
    return busy, f[7], sum(f[:8])


@dataclass
class Record:
    """One executed operation."""

    name: str
    secs: float
    error: str | None
    released: int
    span: dict | None
    facts: dict = field(default_factory=dict)
    ticks: tuple = (0, 0, 0)


def _run_passes(ops, ctx, deadline: float | None, min_warm: int, n_passes: int | None):
    """Run passes over ``ops``: the first is cold. Stops after ``n_passes``
    or, with a deadline, once the deadline has passed and ``min_warm``
    warm passes are done. Returns per pass a list of :class:`Record`."""
    passes = []
    while True:
        done_warm = max(0, len(passes) - 1)
        if n_passes is not None and len(passes) >= n_passes:
            break
        if deadline is not None and done_warm >= min_warm and time.time() >= deadline:
            break
        records = []
        with ctx.tracer.span("pass", index=len(passes)):
            for op in ops:
                released = ctx.persists_released
                error = None
                with ctx.tracer.span("op", op=op.name) as span:
                    ctx.spark.sparkContext.setJobGroup(
                        f"{op.name}#{len(passes)}", op.name, interruptOnCancel=False
                    )
                    c0 = _cpu_ticks()
                    t0 = time.perf_counter()
                    try:
                        result = op.run(ctx)
                    except Exception as exc:  # one failed operation must not end the run
                        result, error = None, f"{type(exc).__name__}: {exc}"
                        traceback.print_exc(file=sys.stderr)
                    secs = time.perf_counter() - t0
                    c1 = _cpu_ticks()
                if error is None:
                    try:
                        error = op.check(ctx, result)
                    except Exception as exc:
                        error = f"check raised {type(exc).__name__}: {exc}"
                records.append(
                    Record(
                        op.name,
                        secs,
                        error,
                        ctx.persists_released - released,
                        span,
                        ctx.facts.pop(op.name, {}),
                        tuple(b - a for a, b in zip(c0, c1)),
                    )
                )
        passes.append(records)
        ctx.passes += 1
    return passes


def _quantile(values: list[float], q: float) -> float:
    values = sorted(values)
    pos = q * (len(values) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (pos - lo)


def _cpu_s(records: list[Record]) -> float:
    return sum(r.ticks[0] for r in records) / TICKS_PER_S


def _metrics(setup: list[float], passes: list) -> tuple[dict, dict, list[str]]:
    """End-to-end metrics (host CPU seconds, gated) and wall-clock figures
    (reported, ungated) of one untraced loop. A warm figure is the least
    expensive warm pass: co-tenant load only ever adds to a pass."""
    warm = passes[1:]
    op_times = [r.secs for p in warm for r in p]
    n = len(op_times)
    # the highest percentile with at least ten samples beyond it
    tail_q = max(0, n - 10) / n
    e2e = {
        "setup_s": statistics.median(setup),
        "cold_pass_cpu_s": _cpu_s(passes[0]),
        "pass_cpu_s": min(_cpu_s(p) for p in warm),
    }
    wall = {
        "wall.cold_pass_s": sum(r.secs for r in passes[0]),
        "wall.pass_s": min(sum(r.secs for r in p) for p in warm),
        "wall.op_p50_s": _quantile(op_times, 0.5),
    }
    report = [
        f"op latency: {n} warm samples; p50 {wall['wall.op_p50_s']:.4f} s; "
        f"tail p{100 * tail_q:.0f} {_quantile(op_times, tail_q):.4f} s "
        f"(p90 needs >= 100 samples, {'met' if n >= 100 else 'not met'})"
    ]
    return e2e, wall, report


def _rates(workload: str, passes: list, info: dict) -> dict:
    """Workload-specific rates from the fastest warm run of each operation;
    zero on the workload that does not run the layer."""
    names = ("pipeline.convert_mib_s", "sinks.readback_mib_s", "streaming.feed_events_s")
    if workload != "zarr_stream":
        return dict.fromkeys(names, 0.0)

    def best(name: str) -> float:
        return min(r.secs for p in passes[1:] for r in p if r.name == name)

    mib = info["level0_bytes"] / 2**20
    return dict(
        zip(
            names,
            (
                mib / best("convert"),
                mib / (best("scrub") + best("read_back")),
                info["events"] / best("feed_window_count"),
            ),
        )
    )


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not (ROOT / "__spark_entry__.py").is_file():
        print(f"no engine to benchmark: {ROOT / '__spark_entry__.py'} is missing", file=sys.stderr)
        return 2
    _prepare_env()
    from perfbench import layers, workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {W.WORKLOADS}", file=sys.stderr)
        return 2

    def _too_long(signum, frame):
        raise TimeoutError(f"run exceeded {HARD_LIMIT_S} s")

    signal.signal(signal.SIGALRM, _too_long)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(HARD_LIMIT_S)
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    run_dir.mkdir(parents=True)
    session = Session(run_dir)
    try:
        return _run(args, run_id, run_dir, session, W, layers)
    finally:
        signal.alarm(0)
        try:
            session.close()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_id, run_dir, session, W, layers) -> int:
    from perfbench.trace import Tracer, make_stream_listener, wait_quiet

    host = _host()
    inputs, fixture = _fixtures(args.workload, args.seed)
    t0 = time.perf_counter()
    if args.workload == "sql_dataprep":
        ops, _ = W.sql_ops(inputs["tables"])
        info: dict = {}
    else:
        ops, info = W.zarr_ops(args.seed, inputs["stacks"], inputs["tables"])
        info["events"] = fixture["rows"]["events"]
    oracle_s = time.perf_counter() - t0

    setups, starts, warmups = [], [], []
    for _ in range(SETUP_REPS):
        start_s, warmup_s, cpu_s = session.start()
        starts.append(start_s)
        warmups.append(warmup_s)
        setups.append(cpu_s)

    ops_dir = run_dir / "ops"
    ops_dir.mkdir()
    ctx = W.Context(session.spark, Tracer(run_id, False), str(ops_dir))
    deadline = time.time() + args.seconds
    passes = _run_passes(ops, ctx, deadline, W.WARM_PASSES[args.workload], None)
    e2e, wall, report = _metrics(setups, passes)
    wall["wall.setup_s"] = statistics.median(s + w for s, w in zip(starts, warmups))
    rates = _rates(args.workload, passes, info)

    traced = None
    if args.trace:
        log_dir = run_dir / "eventlog"
        session.start(event_log=log_dir)
        listener = make_stream_listener()
        session.spark.streams.addListener(listener)
        tctx = W.Context(session.spark, Tracer(run_id, True), str(ops_dir))
        tpasses = _run_passes(ops, tctx, None, 0, 3)
        rss = session.peak_rss_mib()
        wait_quiet(listener)
        session.stop()
        traced = layers.per_layer(tpasses, tctx.tracer.spans, listener.progress, log_dir, info)
        overhead = sum(r.secs for r in tpasses[1]) - wall["wall.pass_s"]
        traced.metrics.update(
            {
                "session.start_s": statistics.median(starts),
                "session.warmup_s": statistics.median(warmups),
                "session.peak_rss_mib": rss,
                "cache.cold_minus_warm_s": sum(
                    c.secs - w.secs for c, w in zip(passes[0], passes[1])
                ),
                "trace.overhead_s": overhead,
                "trace.overhead_frac": overhead / wall["wall.pass_s"],
                **wall,
                **rates,
            }
        )
        report += traced.report
        report.append(
            "cold minus first warm per operation (s): "
            + ", ".join(f"{c.name} {c.secs - w.secs:.3f}" for c, w in zip(passes[0], passes[1]))
        )

    all_records = [r for p in passes for r in p]
    if traced is not None:
        all_records += [r for p in tpasses for r in p]
    failures = [(r.name, r.error) for r in all_records if r.error is not None]
    report = [
        f"workload {args.workload}, seed {args.seed}, trace {args.trace}, run {run_id}",
        "host " + json.dumps(host),
        "inputs " + json.dumps(fixture) + f" (fixture build not in setup_s); oracle {oracle_s:.3f} s",
        "setup reps, wall/CPU (s): "
        + ", ".join(f"{s + w:.3f}/{c:.2f}" for s, w, c in zip(starts, warmups, setups)),
        f"passes: {len(passes)} untraced"
        + (f", {len(tpasses)} traced" if traced is not None else "")
        + f"; pass walls (s): {', '.join(f'{sum(r.secs for r in p):.3f}' for p in passes)}",
        "per operation, cold then warm passes (s): "
        + "; ".join(
            f"{op.name} " + "/".join(f"{p[i].secs:.3f}" for p in passes)
            for i, op in enumerate(passes[0])
        ),
        "host busy ticks per operation, cold then warm passes: "
        + "; ".join(
            f"{op.name} " + "/".join(str(p[i].ticks[0]) for p in passes)
            for i, op in enumerate(passes[0])
        ),
        "host ticks per pass (busy/steal/total): "
        + "; ".join(
            "/".join(str(sum(r.ticks[k] for r in p)) for k in range(3)) for p in passes
        ),
        *report,
        f"failed_frac {len(failures) / len(all_records):.4f} ({len(failures)} of {len(all_records)})",
        *(f"FAILED {name}: {err}" for name, err in failures),
    ]
    for line in report:
        print("# " + line)
    shown = {**e2e, **wall, **rates}
    for name, value in shown.items():
        print(f"# {name} = {value:.6g} {layers.unit(name)}")
    if traced is None:
        metrics = {k: {"value": v, "unit": layers.unit(k)} for k, v in e2e.items()}
    else:
        metrics = layers.select(traced.metrics)
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": len(all_records),
                "failed": len(failures),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
