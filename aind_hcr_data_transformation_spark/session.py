"""SparkSession construction with scale-aware defaults.

Replaces the reference's hand-rolled execution substrate (SLURM array jobs +
static round-robin partitioning + dask threaded scheduler,
``zeiss_job.py:29-60,218-220``, ``scripts/submit_job.sh:3-21``): Spark's
scheduler does dynamic placement, AQE re-plans shuffles at runtime, and the
same session config scales from ``local[32]`` to a 1000-executor cluster.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; on a real cluster the same
# settings hold except parallelism-derived ones, which scale with cores.
_DEFAULT_CONFS: dict[str, str] = {
    # Adaptive Query Execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic broadcast demotion — the engine's first line of
    # defense at 100 TB where static planning guesses wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast threshold: dims like region/nation/supplier stay broadcast
    # even at sf 100; AQE upgrades sort-merge → broadcast when a side turns
    # out small at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas_udf / mapInPandas / toPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamp semantics for the DuckDB differential oracle.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS); read as long + convert
    # (see tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet: zstd mirrors the reference's Blosc-zstd-3 choice
    # (models.py:52-56) for the tabular layer.
    "spark.sql.parquet.compression.codec": "zstd",
    # Partition sizing: 128 MB splits keep scan tasks balanced; at 100 TB
    # that is ~800k tasks, well within scheduler capacity.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # In-memory columnar cache compression.
    "spark.sql.inMemoryColumnarStorage.compressed": "true",
    "spark.sql.shuffle.partitions": "32",
    # Off-heap friendly UI noise reduction for bench runs.
    "spark.ui.showConsoleProgress": "false",
    # Headless engine: no UI server, and tight listener retention. The
    # app-status and SQL listeners otherwise retain ~1000 executions'
    # plan strings and per-task metrics; over a 114-query sweep that is
    # hundreds of MB of driver heap and a growing listener-bus backlog
    # that progressively slows late queries.
    "spark.ui.enabled": "false",
    "spark.sql.ui.retainedExecutions": "10",
    "spark.ui.retainedJobs": "50",
    "spark.ui.retainedStages": "50",
    "spark.ui.retainedTasks": "500",
}


def cpu_parallelism() -> int:
    """Worker-thread count for local mode (driver override via env)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _defaults_conf_value(key: str) -> str | None:
    """Value for ``key`` from ``spark-defaults.conf`` (``$SPARK_CONF_DIR``
    or ``$SPARK_HOME/conf``), if the file exists and sets it.  The builder
    API cannot see these before the JVM launches, so merging deployment
    JVM flags (GC tuning, ``-D`` props) requires reading the file."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or (
        os.path.join(os.environ["SPARK_HOME"], "conf")
        if os.environ.get("SPARK_HOME")
        else None
    )
    if not conf_dir:
        return None
    path = os.path.join(conf_dir, "spark-defaults.conf")
    try:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("#"):
                    continue
                parts = line.split(None, 1)
                if len(parts) == 2 and parts[0] == key:
                    return parts[1].strip()
    except OSError:
        return None
    return None


# Long sessions compile hundreds of distinct wholestage-codegen classes
# (one registry sweep = ~127 queries); the JVM's default 240 MB reserved
# code cache fills, JIT compilation stops, and every later CPU-bound
# query runs interpreted at 5-15x cost. Reserve a real code cache and
# let the sweeper reclaim cold compiled methods.
_CODE_CACHE_FLAGS = "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"


def _merged_java_options(role: str, extra_conf: dict[str, str] | None) -> str:
    """Code-cache flags PLUS any deployment-supplied extraJavaOptions
    (spark-defaults.conf or the caller's ``extra_conf``), never clobbering
    them.  Deployment flags come LAST: for repeated ``-XX`` flags the JVM
    honors the final occurrence, so operator GC tuning wins over our
    defaults while the code-cache reserve still applies when unset."""
    key = f"spark.{role}.extraJavaOptions"
    existing = []
    from_defaults = _defaults_conf_value(key)
    if from_defaults:
        existing.append(from_defaults)
    if extra_conf and extra_conf.get(key):
        existing.append(extra_conf[key])
    return " ".join([_CODE_CACHE_FLAGS, *existing])


# The package's parent directory: where a worker finds the engine daemon
# module whatever the driver's working directory.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _merged_worker_pythonpath(extra_conf: dict[str, str] | None) -> str:
    """The package's parent directory PLUS any deployment-supplied
    ``spark.executorEnv.PYTHONPATH`` entries (spark-defaults.conf, then
    the caller's ``extra_conf``), never clobbering them; duplicates are
    dropped, first occurrence kept."""
    key = "spark.executorEnv.PYTHONPATH"
    entries = [_PACKAGE_PARENT]
    for value in (_defaults_conf_value(key), (extra_conf or {}).get(key)):
        if value:
            entries.extend(filter(None, value.split(os.pathsep)))
    return os.pathsep.join(dict.fromkeys(entries))


def _python_worker_confs(
    master: str | None, extra_conf: dict[str, str] | None
) -> dict[str, str]:
    """Python-worker confs for a session on ``master``: the engine daemon
    (unless the caller names another) and a worker path that can import
    it. Empty for non-local masters, whose executors receive the package
    through --py-files and cannot import it when the daemon starts."""
    if master is None or not master.startswith("local"):
        return {}
    # pyspark 4.1's worker calls importlib.invalidate_caches() at the start
    # of every task, and CPython before 3.13 then re-reads pyspark.zip's
    # directory once per zipimporter over it (0.1-0.25 s CPU a task); the
    # engine daemon re-reads it only when the archive changed. A static
    # conf, so apply_session_confs cannot set it on a session the driver
    # built.
    daemon = "spark.python.daemon.module"
    return {
        daemon: (extra_conf or {}).get(
            daemon, "aind_hcr_data_transformation_spark.pydaemon"
        ),
        "spark.executorEnv.PYTHONPATH": _merged_worker_pythonpath(extra_conf),
    }


def get_spark(
    app_name: str = "aind-hcr-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master=None`` honors an externally-configured cluster (spark-submit)
    and falls back to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    # local mode: the driver JVM hosts all executor threads — give it a
    # real heap (binary block payloads are MBs each; the 1g default OOMs).
    # Static conf: only applies to sessions this function creates.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    )
    # Driver + executor JVMs both JIT the generated classes; merge the
    # code-cache flags with (never clobber) deployment-supplied options.
    builder = builder.config(
        "spark.driver.extraJavaOptions",
        _merged_java_options("driver", extra_conf),
    )
    builder = builder.config(
        "spark.executor.extraJavaOptions",
        _merged_java_options("executor", extra_conf),
    )
    if master is None and not os.environ.get("SPARK_MASTER_URL"):
        master = f"local[{cpu_parallelism()}]"
    if master is not None:
        builder = builder.master(master)
    confs = dict(_DEFAULT_CONFS)
    if extra_conf:
        confs.update(extra_conf)
    confs.update(_python_worker_confs(master, extra_conf))
    for k, v in confs.items():
        if k.endswith(".extraJavaOptions"):
            continue  # already merged with the code-cache flags above
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


@contextmanager
def interpreted_eval(spark: SparkSession):
    """Run the enclosed driver-iterated jobs with whole-stage codegen
    OFF (interpreted expression evaluation — same expressions, same
    results, a supported execution mode).

    Rationale (r13, guide §1.2 per-task work): the Lloyd trainers
    inline the current centroids as LITERALS, so every iteration's
    assignment expression is a brand-new several-thousand-node tree —
    Janino compiles it from scratch each time (~0.5 s/iteration),
    while the job itself only touches a few thousand cached rows.
    Interpreted eval of those trees is near-free at codebook-training
    data volumes; measured 5.6 → 2.6 s cold / 1.8 → 1.4 s warm for the
    PQ trainer at sf0.1. Scale note: training-collect volume is
    codebook-sized (corpus-independent), and the per-row interpreted
    overhead is amortized the same way at any corpus size because the
    assignment jobs this wraps stay bounded by the training SAMPLE,
    not the corpus.
    """
    pairs = {
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    }
    prev = {k: spark.conf.get(k, None) for k in pairs}
    for k, v in pairs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def apply_session_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session.

    The driver hands us a pre-built SparkSession in ``entry()``; static confs
    (memory, master) are fixed by then, but SQL confs are runtime-settable
    and needed for oracle agreement (UTC) and performance (AQE).
    """
    for k, v in _DEFAULT_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on a live session — keep going
            pass
    return spark
