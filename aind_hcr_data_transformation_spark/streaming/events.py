"""Streaming event pipelines: file-source ``readStream`` over the events
table with watermarked event-time windows, run to completion with the
``availableNow`` trigger (bounded backfill — the mode that makes a
streaming pipeline testable and oracle-checkable).

Because batch ``window()``/``session_window`` and streaming windows share
one implementation, the streaming tumbling aggregate below is
oracle-checked against the SAME DuckDB SQL as the batch version
(operators/windows.py) — the strongest statement that the upgrade path
preserves semantics.

Scale notes: in production the file source becomes Kafka; the watermark
bounds state store size (late rows beyond 1 hour are dropped), and the
shuffle is on (window, event_type) — exactly as in batch.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.compat import dround
from ..tables import SCHEMAS
from .feed import _bounded_run

from ..operators.windows import EVW_SESSION_SQL, EVW_TUMBLING_SQL


def streaming_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet with the declared schema,
    handling both fixture ts encodings exactly like tables.load_table."""
    from pyspark.sql import types as T

    from ..tables import events_ts_is_nanos

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos = events_ts_is_nanos(f"{sf_dir}/events.parquet")
    schema = (
        T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.LongType())
                for f in SCHEMAS["events"]
            ]
        )
        if nanos
        else SCHEMAS["events"]
    )
    # file streams take a directory; glob-filter down to the events table
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos:
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw




def _run_to_memory_sink(
    df: DataFrame, prefix: str, output_mode: str, nparts: int = 4
):
    """Run a bounded stream (availableNow) into a memory sink and return
    the result table.

    The memory sink is the HARNESS device (the driver needs a DataFrame
    back); production sinks are files/Kafka for append-mode queries and
    ``foreachBatch`` upserts for update/complete — see each query's
    docstring. The checkpoint and the shuffle-partition count come from
    ``feed._bounded_run``.
    """
    spark = df.sparkSession
    sink_name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    # default 4, not 8: each state-store instance pays per-batch
    # checkpoint churn, and the r11 trigger-floor audit measured 8->4
    # saving ~0.3-0.7 s per JVM-stateful query at test scale with
    # identical answers. applyInPandasWithState queries pass nparts=8:
    # their state processing runs in PYTHON workers, and the same audit
    # measured 4 partitions ~1 s SLOWER there (fewer concurrent workers
    # outweighs the store churn).
    with _bounded_run(spark, sink_name, nparts) as checkpoint:
        q = (
            df.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink_name)


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate in APPEND mode — the
    production sink shape: each window row is emitted exactly once, when
    the watermark passes its end, so the sink (files/Kafka in production;
    memory here only because the harness reads the result back) receives
    an append-only stream and the state store holds only open windows.
    ``complete`` mode would re-materialize the entire result table every
    micro-batch — a driver/sink OOM at 100 TB.

    Append semantics means the trailing windows — those not yet closed by
    the final watermark (max event time − 1 h) — are withheld; the oracle
    states exactly that: the batch tumbling aggregate filtered to windows
    whose end ≤ max(ts) − 1 hour.
    """
    events = streaming_events(spark, sf_dir)
    windowed = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory_sink(windowed, "stream_tumbling", "append")


# the batch tumbling oracle, restricted to watermark-closed windows —
# i.e. exactly what append mode emits for a bounded run
STREAM_TUMBLING_APPEND_SQL = f"""
WITH full_result AS ({EVW_TUMBLING_SQL})
SELECT * FROM full_result
WHERE window_start + INTERVAL 10 MINUTE
      <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
"""

QUERIES = {
    "stream_tumbling_counts": stream_tumbling_counts,
}

ORACLES = {
    "stream_tumbling_counts": STREAM_TUMBLING_APPEND_SQL,
}


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState
# ---------------------------------------------------------------------------


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY custom-operator ladder, step b): per-user running totals kept
    in explicit GroupState across micro-batches, emitted in update mode.

    Run bounded (availableNow, single source file → one batch), the final
    update per user equals the batch aggregate — so even this custom
    state machine is DuckDB-oracle-checked.

    Determinism: the state accumulates EXACT integer units of 1e-10 (the
    ``dsum`` decimal routing applied per row before accumulation), never
    floats — a float64 running sum would depend on batch/partition
    arrival order and could flip a 2-dp rounding boundary against the
    oracle. Each value converts via its shortest decimal repr, HALF_UP at
    scale 10 — the same double→DECIMAL(30,10) cast Spark and DuckDB
    apply in ``dsum``/``sql_sum``.
    """
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = streaming_events(spark, sf_dir)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("su", T.LongType()),  # exact sum, units of 1e-10
            T.StructField("nv", T.LongType()),  # non-NULL values summed
        ]
    )

    _Q10 = Decimal("1e-10")
    _CENT = Decimal("0.01")

    # NULL-vs-NaN is decidable only JVM-side: F.isnull is true for a
    # missing value and false for float NaN, while pandas float64 shows
    # both as NaN. Ship the verdict with the row.
    # Project to exactly the columns the state function reads (guide
    # §4.1): the grouped state boundary is opaque to Spark, so without
    # this select every event column — including the wide ``props``
    # payload — crosses JVM→Arrow→Python per micro-batch.
    events = events.select(
        "user_id", "value", F.isnull("value").alias("value_null")
    )

    def update(key, pdfs, state: GroupState):
        import numpy as np

        n, su, nv = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            vals = pdf["value"].to_numpy(dtype=np.float64)
            # SQL aggregate NULL semantics (count(*) counts every row,
            # sum skips NULLs, an all-NULL sum is NULL). Parquet NULL
            # and a genuine NaN float both surface as NaN in a float64
            # pandas column, so the NULL mask is computed JVM-side
            # (isNull, which is false for NaN) and shipped alongside
            # the value. A real NaN would make SQL sum() return NaN —
            # unrepresentable in this exact-decimal accumulator — so
            # it raises loudly instead of silently diverging from the
            # oracle (r8 NULL-value probe found the int()-crash; the
            # r9 advisor pass found the NULL/NaN conflation).
            vals = vals[~pdf["value_null"].to_numpy(dtype=bool)]
            if np.isnan(vals).any():
                raise ValueError(
                    "stream_user_totals: non-NULL NaN in events.value; "
                    "SQL sum() would propagate NaN, which the exact "
                    "decimal state cannot represent"
                )
            nv += len(vals)
            # vectorized exact conversion: for |v| ≲ 1e5 the float64
            # error of v*1e10 is ≪ 0.5, so rint lands on the same
            # integer as the Decimal shortest-repr quantize; rows
            # outside that safety margin take the exact Decimal path.
            scaled = vals * 1e10
            near = np.abs(scaled - np.rint(scaled)) < 0.01
            # per-element int64 is exact (|v| bounded), but the SUM can
            # exceed 2^63 in one big batch — accumulate via object dtype
            # (arbitrary-precision Python ints), never wrapping int64
            su += int(np.rint(scaled[near]).astype(np.int64).astype(object).sum())
            for v in vals[~near]:
                su += int(
                    Decimal(repr(float(v)))
                    .quantize(_Q10, rounding=ROUND_HALF_UP)
                    .scaleb(10)
                )
        state.update((n, su, nv))
        final = (
            None
            if nv == 0
            else float(
                Decimal(su).scaleb(-10).quantize(_CENT, rounding=ROUND_HALF_UP)
            )
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [final],
            }
        )

    totals = (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory_sink(totals, "stream_user_totals", "update", nparts=8).select(
        "user_id", "n_events", "sum_value"
    )


STREAM_USER_TOTALS_SQL = """
SELECT
  user_id,
  count(*) AS n_events,
  CAST(round(sum(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY user_id
"""

QUERIES["stream_user_totals"] = stream_user_totals
ORACLES["stream_user_totals"] = STREAM_USER_TOTALS_SQL


# ---------------------------------------------------------------------------
# Streaming deduplication (watermark-bounded state)
# ---------------------------------------------------------------------------


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``dropDuplicates`` — first event per (user, type, day),
    emitted as the distinct key set (append mode).

    The dedup state is keyed on exactly the projected columns, so the
    output is a SET — arrival order never shows (whole-row dedup would
    keep a nondeterministic first row). The watermark on the day column
    lets the state store evict keys older than the watermark delay: at
    100 TB of events the state holds only the trailing ~2 days of keys,
    not history. Matches batch ``SELECT DISTINCT``.
    """
    events = streaming_events(spark, sf_dir)
    keys = (
        events.withColumn("day", F.date_trunc("day", F.col("ts")))
        .select("user_id", "event_type", "day")
        .withWatermark("day", "1 day")
        .dropDuplicates(["user_id", "event_type", "day"])
    )
    return _run_to_memory_sink(keys, "stream_dedup", "append")


STREAM_DEDUP_SQL = """
SELECT DISTINCT
  user_id,
  event_type,
  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
FROM events
"""

QUERIES["stream_dedup"] = stream_dedup
ORACLES["stream_dedup"] = STREAM_DEDUP_SQL


# ---------------------------------------------------------------------------
# Stream-static join (the reference's broadcast-metadata pattern, streaming)
# ---------------------------------------------------------------------------


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events enriched against the STATIC customer table, then
    aggregated per market segment.

    The static side re-snapshots per micro-batch and broadcasts (the
    streaming restatement of the reference's driver-side acquisition-
    metadata broadcast, ``zeiss_job.py:123-130``) — no stream-side state
    grows from the join itself. The value sum is decimal-routed per row
    so micro-batch arrival order can't flip the rounding.

    COMPLETE-MODE-IS-HARNESS-ONLY: an unwindowed global aggregate has no
    watermark to finalize rows, so append mode is unavailable; complete
    into a memory sink is how this bounded harness reads the final
    table. In production this runs in UPDATE mode through
    ``foreachBatch`` upserting changed segments into an idempotent store
    (MERGE on ``c_mktsegment``) — state is one row per segment, and no
    sink ever re-materializes the whole result.
    """
    from ..tables import load_table

    events = streaming_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = events.join(
        F.broadcast(cust), events.user_id == cust.c_custkey, "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2)
        .cast("double")
        .alias("sum_value"),
    )
    return _run_to_memory_sink(agg, "stream_static_join", "complete")


STREAM_STATIC_JOIN_SQL = """
SELECT
  c.c_mktsegment,
  count(*) AS n_events,
  CAST(round(sum(CAST(e.value AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""

QUERIES["stream_static_join"] = stream_static_join
ORACLES["stream_static_join"] = STREAM_STATIC_JOIN_SQL


# ---------------------------------------------------------------------------
# Stream-stream join (watermarked, time-interval condition)
# ---------------------------------------------------------------------------


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases within 30 minutes after a
    click by the same user (append mode).

    Both sides carry watermarks and the join condition bounds event time
    (``p_ts BETWEEN click_ts AND click_ts + 30 min``), so Spark can evict
    buffered rows once the watermark passes — state is bounded by the
    watermark delay + interval, not the stream length. Output is the
    deterministic pair set (IDs only), batch-equivalent to a self-join.
    """
    clicks = (
        streaming_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        streaming_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        (F.col("click_user") == F.col("user_id"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.expr("click_ts + INTERVAL 30 MINUTES")),
        "inner",
    ).select("click_id", "purchase_id", "user_id")
    return _run_to_memory_sink(pairs, "stream_stream_join", "append")


STREAM_STREAM_JOIN_SQL = """
SELECT
  c.event_id AS click_id,
  p.event_id AS purchase_id,
  c.user_id  AS user_id
FROM events c
JOIN events p
  ON c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""

QUERIES["stream_stream_join"] = stream_stream_join
ORACLES["stream_stream_join"] = STREAM_STREAM_JOIN_SQL


# ---------------------------------------------------------------------------
# Streaming session windows (merging-window state)
# ---------------------------------------------------------------------------


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization: ``session_window`` with a 30-minute gap
    under a watermark, run bounded (availableNow) into a memory sink.

    Unlike tumbling/sliding windows, session windows MERGE as rows
    arrive (two open sessions coalesce when a bridging event lands), so
    the state store holds per-key open sessions that the watermark
    closes — the canonical merging-window stateful operator.  Semantics
    are the batch ``evw_session``'s, so the SAME DuckDB oracle checks
    both (the batch/stream parity statement).

    COMPLETE-MODE-IS-HARNESS-ONLY: the batch-parity oracle includes the
    still-open trailing sessions (those the final watermark has not
    closed), which append mode by definition withholds — so this bounded
    harness runs complete into a memory sink purely to read the full
    table back. In production session windows run in APPEND mode to a
    files/Kafka sink: each session row is emitted exactly once when the
    watermark closes it, and state holds only open sessions (the
    ``stream_tumbling_counts`` query demonstrates exactly that sink
    shape, oracle included)."""
    events = streaming_events(spark, sf_dir)
    sessions = (
        events.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("sum_value"),
            F.min("ts").alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "sum_value")
    )
    return _run_to_memory_sink(sessions, "stream_sessions", "complete")


QUERIES["stream_sessions"] = stream_sessions
ORACLES["stream_sessions"] = EVW_SESSION_SQL


def make_upsert_merger(store_dir: str, fault=None):
    """Build the ``foreachBatch`` MERGE for update-mode per-key counts —
    the production sink body, extracted so the fault-injection probe
    (``tools/chaos_probe.py``) drives the EXACT shipped code.

    Replay idempotence (the exactly-once contract): update mode emits
    the updated CUMULATIVE aggregate per changed key, so the merge is
    **latest-batch-wins** (``coalesce(n_new, n_old)``), which reapplies
    to the same store state. r10's chaos-probe design review caught the
    previous implementation ADDING ``n_old + n_new`` — correct only
    while every run is a single never-replayed micro-batch; a batch
    replayed after a crash between the store swap and the checkpoint
    commit double-counted every key it touched.

    Crash-safe swap: write tmp → rename store→old → rename tmp→store →
    rm old, with a recovery preamble that repairs every kill window
    (store missing + old present → restore old; both present → the swap
    completed, drop old). At cluster scale the swap is a transactional
    table commit (Delta/Iceberg MERGE) with the same replay contract.

    ``fault(point)`` — optional chaos hook (``"after_write"``,
    ``"between_renames"``, ``"after_swap"``), None in production.
    """

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        old = store_dir + "_old"
        # recovery preamble: repair a previous attempt's partial swap
        if os.path.isdir(old):
            if not os.path.isdir(store_dir):
                os.rename(old, store_dir)  # died between the renames
            else:
                shutil.rmtree(old)  # died after the swap completed
        new = batch_df.withColumnRenamed("count", "n_new")
        if os.path.isdir(store_dir):
            cur = sess.read.parquet(store_dir).withColumnRenamed(
                "n_events", "n_old"
            )
            # eqNullSafe: a plain equi MERGE key never matches the NULL
            # group, so an update to it would land as a SECOND NULL row
            # instead of replacing the first (the agg_kmv_distinct NULL
            # class, r9) — GROUP BY upstream keeps NULL as one key, the
            # store must too
            merged = (
                cur.join(
                    new, cur["user_id"].eqNullSafe(new["user_id"]),
                    "full_outer",
                )
                .select(
                    F.coalesce(new["user_id"], cur["user_id"]).alias(
                        "user_id"
                    ),
                    # latest-batch-wins: n_new is already cumulative
                    F.coalesce(new["n_new"], cur["n_old"]).alias(
                        "n_events"
                    ),
                )
            )
        else:
            merged = new.select(
                "user_id", F.col("n_new").alias("n_events")
            )
        tmp = store_dir + f"_b{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        if fault is not None:
            fault("after_write")
        if os.path.isdir(store_dir):
            os.rename(store_dir, old)
        if fault is not None:
            fault("between_renames")
        os.rename(tmp, store_dir)
        if fault is not None:
            fault("after_swap")
        shutil.rmtree(old, ignore_errors=True)

    return merge_batch


def stream_foreach_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION sink for update-mode aggregates, made real:
    ``foreachBatch`` merges each micro-batch's per-user event counts
    into a keyed parquet store (latest-batch-wins upsert — the
    MERGE INTO every lakehouse sink runs), instead of the memory-sink
    harness the other update-mode queries use for result transport.

    Each batch: read the store, full-outer latest-wins merge on
    ``user_id``, crash-safe-swap the store directory (see
    ``make_upsert_merger`` for the replay-idempotence contract the
    chaos probe pins). At cluster scale the swap becomes a
    transactional table commit (Delta/Iceberg MERGE) and the merge is
    a key-partitioned join bounded by batch size, not stream history —
    exactly the shape ``upsert_scd1`` pins for batch.

    Run bounded (availableNow), the final store equals the batch
    aggregate, so the whole sink path — foreachBatch, merge, swap,
    read-back — is DuckDB-oracle-checked.
    """
    events = streaming_events(spark, sf_dir)
    counts = events.groupBy("user_id").count()

    store_dir = os.path.join(
        tempfile.gettempdir(), f"upsert_store_{uuid.uuid4().hex[:8]}"
    )
    # the STORE stays on the real filesystem: its crash-safe directory
    # swap is the demonstrated sink semantics, not harness scaffolding
    merge_batch = make_upsert_merger(store_dir)
    with _bounded_run(spark, os.path.basename(store_dir), 8) as checkpoint:
        q = (
            counts.writeStream.foreachBatch(merge_batch)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # harness read-back: the store is the query's real output and would
    # never be deleted in production — here it lives in /tmp, so copy the
    # directory aside (executor-free, never through the driver) and return
    # a lazy scan of the copy. The copy is retained until process exit so
    # the returned DataFrame stays re-readable; atexit reclaims it.
    keep_dir = store_dir + "_result"
    shutil.copytree(store_dir, keep_dir)
    atexit.register(shutil.rmtree, keep_dir, ignore_errors=True)
    shutil.rmtree(store_dir, ignore_errors=True)
    return (
        spark.read.parquet(keep_dir)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


STREAM_FOREACH_UPSERT_SQL = """
SELECT user_id, count(*) AS n_events
FROM events
GROUP BY user_id
ORDER BY user_id
"""

QUERIES["stream_foreach_upsert"] = stream_foreach_upsert
ORACLES["stream_foreach_upsert"] = STREAM_FOREACH_UPSERT_SQL


def stream_static_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static ANTI join — the streaming twin of
    ``dedup.dedup_incremental_batch``: live events whose user has NO row
    in the static customer table (unknown-entity detection / dedup of a
    stream against a historical key set). The static side broadcasts per
    micro-batch; left_anti adds no stream state, so this runs in append
    mode under the watermark like any stateless filter.

    Output: per event_type counts + id checksum of the orphaned events
    (append-mode safe aggregation happens batch-side in the oracle; the
    streaming side emits the anti-joined rows and the harness counts
    them after the bounded run)."""
    from pyspark.sql import functions as F

    from ..tables import load_table

    events = streaming_events(spark, sf_dir)
    # allowlist subset (every user exists in customer at fixture scale;
    # a full allowlist would make the anti-join vacuously empty)
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 != 0)
        .select("c_custkey")
    )
    orphans = events.join(
        F.broadcast(cust), events.user_id == cust.c_custkey, "left_anti"
    ).select("event_id", "user_id", "event_type")
    table = _run_to_memory_sink(orphans, "stream_anti", "append")
    return (
        table.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_orphans"),
            F.sum("event_id").alias("sum_event_id"),
        )
        .orderBy("event_type")
    )


STREAM_STATIC_ANTI_SQL = """
SELECT e.event_type,
       count(*) AS n_orphans,
       CAST(sum(e.event_id) AS BIGINT) AS sum_event_id
FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey % 3 <> 0 AND c.c_custkey = e.user_id
)
GROUP BY e.event_type
ORDER BY e.event_type
"""

QUERIES["stream_static_anti_join"] = stream_static_anti_join
ORACLES["stream_static_anti_join"] = STREAM_STATIC_ANTI_SQL


def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming INGEST QUALITY GATE — the continuous-crawl shape of a
    training-data pipeline: documents arrive as a file stream (Kafka in
    production), each micro-batch is scored by the hashed-linear quality
    classifier, and the per-source keep/drop monitoring view rolls up on
    the sink.

    The scoring is literally the batch operator's code
    (``textops.quality_logits`` — one streaming-legal aggregation),
    so the streaming and batch stages cannot drift; the oracle is the
    batch twin's SQL verbatim.  Streaming carries the per-doc scoring
    (update mode — each doc's logit finalizes once its one source file
    is read); the source-level rollup is a batch aggregate over the
    sink table, because stacked streaming aggregations are unsupported
    and a monitoring rollup belongs on the serving side anyway."""
    from ..operators.textops import quality_logits

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    docs = raw.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("t")
    )
    per_doc = quality_logits(docs)
    table = _run_to_memory_sink(per_doc, "stream_quality", "update")
    return (
        table.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("logit") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            dround(
                F.sum(F.col("logit").cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_logit"),
        )
        .orderBy("source")
    )


def _stream_quality_oracle() -> str:
    from ..operators.textops import QUALITY_CLASSIFIER_SQL

    return QUALITY_CLASSIFIER_SQL


QUERIES["stream_quality_filter"] = stream_quality_filter
ORACLES["stream_quality_filter"] = _stream_quality_oracle()


# ---------------------------------------------------------------------------
# Streaming hypertable rollup: watermarked OHLC in append mode
# ---------------------------------------------------------------------------


def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``timeseries.ts_resample_ohlc``: watermarked
    hourly OHLC per user in APPEND mode — each (user, hour) candle is
    emitted exactly once when the watermark passes the window end, the
    shape a live market-data / telemetry rollup ships to its sink.

    ``min_by``/``max_by`` over the (ts, event_id) struct run inside the
    streaming aggregation exactly as in batch (declarative aggregates are
    shared between the two runtimes — the point of the batch/streaming
    twin pairs). State per open window is O(1): five scalars, no event
    buffer. The oracle is the batch OHLC restricted to watermark-closed
    windows.
    """
    events = streaming_events(spark, sf_dir)
    key = F.struct("ts", "event_id")
    candles = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            dround(F.min_by("value", key), 2).alias("open"),
            dround(F.max("value"), 2).alias("high"),
            dround(F.min("value"), 2).alias("low"),
            dround(F.max_by("value", key), 2).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            "user_id",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
    return _run_to_memory_sink(candles, "stream_ohlc", "append")


def _stream_ohlc_oracle() -> str:
    from ..operators.timeseries import TS_RESAMPLE_OHLC_SQL

    return f"""
WITH full_result AS ({TS_RESAMPLE_OHLC_SQL})
SELECT * FROM full_result
WHERE bucket + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
"""


QUERIES["stream_ohlc"] = stream_ohlc
ORACLES["stream_ohlc"] = _stream_ohlc_oracle()


# ---------------------------------------------------------------------------
# Streaming multimodal ingest: binary columns + real PNG decode on a stream
# ---------------------------------------------------------------------------


def stream_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous multimodal ingest: the documents table as a file
    stream, each row's payload encoded to a real PNG and decoded back by
    the SAME ``mapInPandas`` kernel the batch query uses
    (``multimodal._png_roundtrip`` — one implementation, two runtimes).
    Stateless transform, append mode: binary columns ride Arrow batches
    through Python on a stream exactly as in batch, no state store.

    Production shape: the parquet source becomes a Kafka topic of blob
    references or inline payloads; the decode kernel is unchanged.
    """
    from ..operators.multimodal import PNG_DECODE_SCHEMA, _png_roundtrip
    from ..tables import SCHEMAS

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    media = raw.filter(F.length("text") >= 1).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    # the single-file micro-batch arrives as ONE input partition; the
    # decode kernel is the per-row CPU cost, so fan out before Python
    # (the streaming twin of load_table's spread) — 19.2 s -> ~2 s at
    # sf0.1 on local[32]
    media = media.repartition(spark.sparkContext.defaultParallelism)
    decoded = media.mapInPandas(_png_roundtrip, PNG_DECODE_SCHEMA).select(
        "doc_id", "pix_sum", "pix_md5"
    )
    return _run_to_memory_sink(decoded, "stream_png", "append")


def _stream_png_oracle() -> str:
    from ..operators.multimodal import MULTIMODAL_PNG_DECODE_SQL

    return f"""
SELECT doc_id, pix_sum, pix_md5 FROM ({MULTIMODAL_PNG_DECODE_SQL})
"""


QUERIES["stream_png_decode"] = stream_png_decode
ORACLES["stream_png_decode"] = _stream_png_oracle()


# ---------------------------------------------------------------------------
# Streaming CEP: sequential pattern match with explicit state
# ---------------------------------------------------------------------------


def stream_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming complex-event-processing twin of the batch
    ``events_pattern_match``: detect strict-consecutive
    view→click→purchase triples per user with the 2-event pattern tail
    carried in ``GroupState`` across micro-batches — the restricted
    MATCH_RECOGNIZE/CEP operator Flink ships and Spark lacks.

    State per user is O(pattern length): the last two event types plus
    the candidate view's timestamp and the running (n_matches,
    min_span) — not the event history. Rows inside a batch are sorted
    by (ts, event_id) in the kernel; cross-batch order is the file
    source's availableNow backfill order (in production, a watermark
    buffer upstream reorders before the matcher — same contract as any
    CEP engine). Single-batch bounded run ⇒ the final update equals the
    batch lead-chain, so the state machine is DuckDB-oracle-checked
    against the SAME SQL as the batch operator.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.windows import EVENTS_PATTERN_MATCH_SQL  # noqa: F401

    # only the columns the matcher reads cross the Python state
    # boundary (guide §4.1) — not value/props
    events = streaming_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_matches", T.LongType()),
            T.StructField("min_span_s", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("t1", T.StringType()),  # previous event type
            T.StructField("t2", T.StringType()),  # one before that
            T.StructField("view_ts_us", T.LongType()),  # ts of t2 if view
            T.StructField("n", T.LongType()),
            T.StructField("minspan", T.LongType()),
        ]
    )

    def match(key, pdfs, state: GroupState):
        t1, t2, view_ts_us, n, minspan = (
            state.get if state.exists else (None, None, None, 0, None)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
            ts_us = (
                (batch["ts"] - pd.Timestamp(0))
                // pd.Timedelta(microseconds=1)
            ).to_numpy()
            types = batch["event_type"].to_numpy()
            for i in range(len(batch)):
                cur = types[i]
                if cur == "purchase" and t1 == "click" and t2 == "view":
                    span = (int(ts_us[i]) - int(view_ts_us)) // 1_000_000
                    n += 1
                    minspan = span if minspan is None else min(minspan, span)
                t2, t1 = t1, cur
                if cur == "view":
                    view_ts_us = int(ts_us[i])
            state.update((t1, t2, view_ts_us, n, minspan))
        if n > 0:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_matches": [n],
                    "min_span_s": [minspan],
                }
            )

    matched = events.groupBy("user_id").applyInPandasWithState(
        match,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory_sink(matched, "stream_cep", "update", nparts=8)


def _stream_pattern_oracle() -> str:
    from ..operators.windows import EVENTS_PATTERN_MATCH_SQL

    return EVENTS_PATTERN_MATCH_SQL


QUERIES["stream_pattern_match"] = stream_pattern_match
ORACLES["stream_pattern_match"] = _stream_pattern_oracle()


# ---------------------------------------------------------------------------
# Streaming as-of enrichment (stateful temporal join, bounded staleness)
# ---------------------------------------------------------------------------


def stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of :func:`~..operators.relational.join_asof_tolerance`
    — THE production temporal-enrichment operator: every event is tagged
    with the same user's most recent purchase value, but only while it
    is at most one hour stale.  State per user is O(1) — exactly the
    (last_purchase_ts, value) pair — and the 1-hour tolerance IS the
    state-retention bound a watermark would enforce on an unbounded run:
    state older than the bound can never produce a non-NULL tag again.

    Kernel rows are sorted (ts, purchase-first, event_id) inside the
    batch so an event at the same microsecond as a purchase sees it
    (>= semantics, identical to the batch window's ``pri`` tiebreak);
    cross-batch order is the availableNow backfill order, as in
    ``stream_pattern_match``.  The purchase value passes through
    UNCHANGED (no arithmetic), so the oracle comparison is bit-exact
    double passthrough.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # only the columns the enricher reads cross the Python state
    # boundary (guide §4.1) — not props
    events = streaming_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("recent_purchase_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("pts_us", T.LongType()),
            T.StructField("pval", T.DoubleType()),
        ]
    )
    from ..operators.relational import _ASOF_TOLERANCE_US as tol_us

    def enrich(key, pdfs, state: GroupState):
        pts_us, pval = state.get if state.exists else (None, None)
        batch = pd.concat(list(pdfs), ignore_index=True)
        if not len(batch):
            return
        batch["_pri"] = (batch["event_type"] != "purchase").astype("int64")
        batch = batch.sort_values(["ts", "_pri", "event_id"], kind="mergesort")
        ts_us = (
            (batch["ts"] - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)
        ).to_numpy()
        types = batch["event_type"].to_numpy()
        values = batch["value"].to_numpy()
        out_vals = []
        for i in range(len(batch)):
            if types[i] == "purchase":
                # pts and pval are INDEPENDENT state (matching the batch
                # oracle's last_value(pts) / last_value(pv IGNORE NULLS)):
                # a NULL-valued purchase advances the freshness clock but
                # must not clobber the last known value with NaN
                pts_us = int(ts_us[i])
                v = values[i]
                if v == v:  # not NaN (pandas encodes NULL doubles as NaN)
                    pval = float(v)
            fresh = pts_us is not None and int(ts_us[i]) - pts_us <= tol_us
            out_vals.append(pval if fresh else None)
        state.update((pts_us, pval))
        yield pd.DataFrame(
            {
                "event_id": batch["event_id"].to_numpy(),
                "user_id": batch["user_id"].to_numpy(),
                "event_type": types,
                # nullable Float64 so missing values reach Spark as NULL,
                # never NaN
                "recent_purchase_value": pd.array(out_vals, dtype="Float64"),
            }
        )

    enriched = events.groupBy("user_id").applyInPandasWithState(
        enrich,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory_sink(enriched, "stream_asof", "append", nparts=8)


# bit-exact passthrough oracle: same window algebra as the batch
# tolerance as-of, WITHOUT the dround (no arithmetic touches the value)
from ..operators.relational import _ASOF_TOLERANCE_US

STREAM_ASOF_SQL = f"""
SELECT
  event_id,
  user_id,
  event_type,
  CASE
    WHEN epoch_us(ts) - last_value(pts IGNORE NULLS) OVER w <= {_ASOF_TOLERANCE_US}
    THEN last_value(pv IGNORE NULLS) OVER w
  END AS recent_purchase_value
FROM (
  SELECT
    event_id, user_id, ts, event_type,
    CASE WHEN event_type = 'purchase' THEN value END AS pv,
    CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS pts,
    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS pri
  FROM events
)
WINDOW w AS (
  PARTITION BY user_id
  ORDER BY ts, pri, event_id
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
)
"""

QUERIES["stream_asof_enrich"] = stream_asof_enrich
ORACLES["stream_asof_enrich"] = STREAM_ASOF_SQL


# ---------------------------------------------------------------------------
# Streaming drift detector: online CUSUM against a static profile
# ---------------------------------------------------------------------------


def stream_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online CUSUM drift monitor (Page 1954, one-sided upper form) as a
    custom stateful streaming operator: each user's event stream is
    checked against that user's STATIC profile mean (stream-static join,
    the fleet-baseline shape), and per-user GroupState tracks the CUSUM
    statistic S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (vᵢ − μ₀)) across micro-batches,
    reporting where it peaked — the streaming complement of the offline
    :func:`~..operators.timeseries.ts_changepoint_cusum` locator.

    Exactness across engines AND across restarts: values quantize to
    integer units of 1e-10 (the ``stream_user_totals`` conversion), the
    profile mean is computed by one IEEE division then frozen at 6 dp
    and scaled to the same integer units inside Spark DECIMAL arithmetic
    — so the state is pure int64 and the peak/argmax decision never
    touches a float. The oracle states the same statistic through the
    prefix-sum identity S⁺ᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ) (P = prefix sum
    of deviations), two window functions over the batch table — the
    recurrence and the identity agree exactly in integer arithmetic.

    Ties in the peak break to the earliest position (strict ``>`` in the
    state update; ``ORDER BY s DESC, i`` in the oracle). Scale: state is
    five int64s per user; the stream-static join broadcasts the profile;
    at 100 TB the profile lives in the state store via initialState.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..tables import load_table

    # NULL observations are excluded from both the profile and the
    # monitored stream (stated in the oracle too) — a NULL would crash
    # the integer quantization and skew the profile mean's denominator
    events = streaming_events(spark, sf_dir).filter(
        F.col("value").isNotNull()
    )
    prof = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            (
                # decimal-routed round (the dround convention): Spark
                # rounds doubles on shortest-decimal repr, DuckDB on the
                # binary value — the decimal cast makes them agree
                F.round(
                    (
                        F.sum(F.col("value").cast("decimal(30,10)"))
                        .cast("double")
                        / F.count(F.lit(1))
                    ).cast("decimal(30,10)"),
                    6,
                )
                * F.lit(10_000_000_000).cast("decimal(12,0)")
            )
            .cast("long")
            .alias("mu_units")
        )
    )
    enriched = events.join(prof, "user_id").select(
        "user_id", "ts", "event_id", "value", "mu_units"
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("peak_pos", T.LongType()),
            T.StructField("peak_ts", T.TimestampType()),
            T.StructField("peak_drift", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("i", T.LongType()),       # rows seen
            T.StructField("s", T.LongType()),       # current S+ (1e-10 units)
            T.StructField("best", T.LongType()),    # max S+ so far
            T.StructField("besti", T.LongType()),   # earliest argmax position
            T.StructField("bestts", T.LongType()),  # its event time (µs)
        ]
    )

    def update(key, pdfs, state: GroupState):
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np

        i, s, best, besti, bestts = (
            state.get if state.exists else (0, 0, 0, 1, 0)
        )
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # event-time order within the batch (the source replays in order
        # across batches; see stream_user_totals on the bounded-run shape)
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        scaled = pdf["value"].to_numpy(dtype=np.float64) * 1e10
        near = np.abs(scaled - np.rint(scaled)) < 0.01
        units = np.rint(scaled).astype(np.int64)
        if not near.all():  # exact Decimal fallback, same as user_totals
            vals = pdf["value"].to_numpy()
            for j in np.flatnonzero(~near):
                units[j] = int(
                    Decimal(repr(float(vals[j])))
                    .quantize(Decimal("1e-10"), rounding=ROUND_HALF_UP)
                    .scaleb(10)
                )
        mu = int(pdf["mu_units"].iloc[0])
        ts_us = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
        for j in range(len(pdf)):
            i += 1
            s = s + int(units[j]) - mu
            if s < 0:
                s = 0
            # first row seeds the peak (covers the all-zero-drift series:
            # the oracle's ORDER BY s DESC, i picks i=1 there); after
            # that, strict > keeps the EARLIEST position on ties
            if i == 1 or s > best:
                best, besti, bestts = s, i, int(ts_us[j])
        state.update((i, s, best, besti, bestts))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [i],
                "peak_pos": [besti],
                "peak_ts": [pd.Timestamp(bestts, unit="us")],
                "peak_drift": [
                    float(
                        Decimal(best)
                        .scaleb(-10)
                        .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
                    )
                ],
            }
        )

    drift = enriched.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory_sink(drift, "stream_cusum", "update", nparts=8).select(
        "user_id", "n_events", "peak_pos", "peak_ts", "peak_drift"
    )


STREAM_CUSUM_DRIFT_SQL = """
WITH ev AS (SELECT * FROM events WHERE value IS NOT NULL),
prof AS (
  SELECT user_id,
         round(CAST(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE)
                    / count(*) AS DECIMAL(30,10)), 6) AS mu
  FROM ev GROUP BY user_id
),
dev AS (
  SELECT e.user_id, e.ts, e.event_id,
         CAST(e.value AS DECIMAL(30,10)) - p.mu AS d
  FROM ev e JOIN prof p USING (user_id)
),
pref AS (
  SELECT user_id, ts,
         row_number() OVER w AS i,
         sum(d) OVER (w ROWS UNBOUNDED PRECEDING) AS pp
  FROM dev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
stat AS (
  SELECT user_id, ts, i,
         pp - least(min(pp) OVER (PARTITION BY user_id ORDER BY i
                                  ROWS UNBOUNDED PRECEDING), 0) AS s
  FROM pref
),
best AS (
  SELECT user_id, ts, i, s,
         count(*) OVER (PARTITION BY user_id) AS n,
         row_number() OVER (PARTITION BY user_id ORDER BY s DESC, i) AS rn
  FROM stat
)
SELECT user_id,
       n AS n_events,
       i AS peak_pos,
       ts AS peak_ts,
       CAST(round(CAST(s AS DECIMAL(30,10)), 4) AS DOUBLE) AS peak_drift
FROM best WHERE rn = 1
"""

QUERIES["stream_cusum_drift"] = stream_cusum_drift
ORACLES["stream_cusum_drift"] = STREAM_CUSUM_DRIFT_SQL
