"""The benchmark's two workloads: their inputs, operations and output checks.

A workload is a list of operations run as one pass by a single client, each
operation starting after the previous one returns (a closed loop). The seed
fixes the inputs. The order of the operations is fixed: operations warm
shared state for later ones (JIT, Python workers), so a seeded order moved
the CPU time of a pass by up to 15% from one seed to the next.

``sql_dataprep`` calls registered queries through ``__spark_entry__``: three
relational TPC-H queries (scan, shuffle and join on the JVM) and the
data-prep family's driver-side training loop, MinHash-LSH dedup and a
Python-worker (Arrow) operator. Pipeline and streaming code stay
idle.

``zarr_stream`` runs the reference's own job, seeded CZI stacks converted to a
3-level OME-Zarr pyramid and read back, and a bounded replay of the event
table through the broker-shaped feed into a watermarked window count. No
relational query runs.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Callable

import numpy as np

from . import datagen

#: the relational TPC-H queries, then the data-prep operators
SQL_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "embed_pq_quantize",
    "dedup_minhash_lsh",
    "multimodal_png_decode",
]
SQL_SF = 0.01

STACKS = 4
STACK_SHAPE = (128, 128, 128)
CHUNK = (128, 128, 128)
LEVELS = 3
FEED_SF = 0.002
FEED_BATCHES = 2
WINDOW = "10 minutes"
WATERMARK = "1 hour"

#: warm passes per run: the JVM is still compiling the SQL operators' hot
#: paths in the second warm pass, so the fastest of three is steadier
WARM_PASSES = {"sql_dataprep": 3, "zarr_stream": 2}
WORKLOADS = tuple(WARM_PASSES)


@dataclass
class Op:
    """One timed operation. ``run`` returns what ``check`` inspects after the
    timer stops; ``check`` returns an error message or None, and may leave
    counts about the output in ``ctx.facts``."""

    name: str
    run: Callable[["Context"], Any]
    check: Callable[["Context", Any], str | None]


@dataclass
class Context:
    """What operations share within one session."""

    spark: Any
    tracer: Any
    work_dir: str
    persists_released: int = 0
    passes: int = 0
    shared: dict = field(default_factory=dict)
    facts: dict = field(default_factory=dict)


# ---------------------------------------------------------------- checks


def _norm(v: Any) -> str:
    """Value normalisation of the differential oracle check: exact floats,
    no tolerance, NULL and NaN spelled out."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, Decimal):
        return _norm(float(v))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def result_digest(columns: list[str], rows: list) -> tuple[int, str]:
    """Row count plus an order-insensitive hash of the values, columns taken
    in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    return len(canon), hashlib.sha256("\x1e".join(canon).encode()).hexdigest()


def oracle_digests(data_dir: str, sqls: dict[str, str]) -> dict[str, tuple[int, str]]:
    """Run each SQL twin in DuckDB over the parquet tables. Digests are kept
    beside the tables, keyed by the SQL text, for later runs on the same
    inputs."""
    import duckdb

    cache_path = os.path.join(data_dir, "ORACLE.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path, encoding="utf-8") as fh:
            cache = json.load(fh)
    keys = {n: hashlib.sha256(sql.encode()).hexdigest() for n, sql in sqls.items()}
    if all(k in cache for k in keys.values()):
        return {n: tuple(cache[k]) for n, k in keys.items()}

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings"
        ).split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for name, sql in sqls.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = result_digest(cols, res.fetchall())
            cache[keys[name]] = out[name]
    finally:
        con.close()
    with open(cache_path + ".tmp", "w", encoding="utf-8") as fh:
        json.dump(cache, fh)
    os.replace(cache_path + ".tmp", cache_path)
    return out


# --------------------------------------------------------- sql_dataprep


def sql_ops(data_dir: str) -> tuple[list[Op], dict[str, tuple[int, str]]]:
    """Operations of ``sql_dataprep``, plus the oracle digests they are
    checked against."""
    import __spark_entry__ as entry
    from aind_hcr_data_transformation_spark.cache import release_persists

    registry = {**entry.queries(), **entry.production_queries()}
    sqls = entry.oracle_sql()
    expected = oracle_digests(data_dir, {n: sqls[n] for n in SQL_QUERIES if n in sqls})

    def make(name: str) -> Op:
        fn = registry[name]

        def run(ctx: Context):
            with ctx.tracer.span("operators.build", op=name):
                df = fn(ctx.spark, data_dir)
            with ctx.tracer.span("operators.action", op=name):
                rows = df.collect()
            with ctx.tracer.span("cache.release", op=name):
                ctx.persists_released += release_persists()
            return df.columns, rows

        def check(ctx: Context, result) -> str | None:
            cols, rows = result
            got = result_digest(cols, rows)
            if name not in expected:  # a production twin: no SQL twin
                return None if got[0] > 0 else "production twin returned no rows"
            if got[0] != expected[name][0]:
                return f"{got[0]} rows, oracle {expected[name][0]}"
            if got[1] != expected[name][1]:
                return "values differ from the oracle"
            return None

        return Op(name, run, check)

    return [make(n) for n in SQL_QUERIES], expected


# ---------------------------------------------------------- zarr_stream


def stack_goldens(seed: int) -> dict[str, list[np.ndarray]]:
    """Per stack, the expected array of every pyramid level (level 0 is the
    source; level k+1 is the windowed mean of level k)."""
    from aind_hcr_data_transformation_spark.operators.blockwise import windowed_mean_nd

    out = {}
    for i in range(STACKS):
        levels = [datagen.stack_voxels(seed, i, STACK_SHAPE)]
        for _ in range(1, LEVELS):
            levels.append(windowed_mean_nd(levels[-1], (2, 2, 2)))
        out[f"stack{i}"] = levels
    return out


FEED_COUNT_SQL = f"""
SELECT time_bucket(INTERVAL '{WINDOW}', ts) AS window_start, event_type,
       count(*) AS n_events
FROM events
GROUP BY window_start, event_type
HAVING time_bucket(INTERVAL '{WINDOW}', ts) + INTERVAL '{WINDOW}'
       <= (SELECT max(ts) FROM events) - INTERVAL '{WATERMARK}'
"""


def zarr_ops(
    seed: int, stack_paths: dict[str, str], feed_dir: str
) -> tuple[list[Op], dict]:
    """Operations of ``zarr_stream``: the feed replay, then convert, scrub
    and read-back, each reading what the previous one wrote."""
    from pyspark.sql import functions as F

    from aind_hcr_data_transformation_spark.config import ZarrConversionSettings
    from aind_hcr_data_transformation_spark.pipeline import convert_czi_stacks
    from aind_hcr_data_transformation_spark.sinks.zarr_sink import (
        read_array,
        scrub_groups_spark,
    )
    from aind_hcr_data_transformation_spark.streaming.feed import (
        read_feed,
        run_feed_bounded,
    )

    goldens = stack_goldens(seed)
    feed_expected = oracle_digests(feed_dir, {"feed": FEED_COUNT_SQL})["feed"]

    def convert(ctx: Context):
        out = os.path.join(ctx.work_dir, f"zarr{ctx.passes}")
        settings = ZarrConversionSettings(
            output_directory=out,
            chunk_size=CHUNK,
            scale_factor=(2, 2, 2),
            downsample_levels=LEVELS,
        )
        with ctx.tracer.span("pipeline.convert"):
            groups = convert_czi_stacks(ctx.spark, settings, stack_paths)
        ctx.shared["groups"] = groups
        ctx.shared["out"] = out
        return groups

    def check_convert(ctx: Context, groups) -> str | None:
        missing = sorted(set(stack_paths) - set(groups))
        if missing:
            return f"no group for {missing}"
        # chunk files are the all-digit paths below a level array
        sizes = [
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(ctx.shared["out"])
            for f in files
            if f.isdigit()
        ]
        ctx.facts["convert"] = {"chunks_written": len(sizes), "bytes_stored": sum(sizes)}
        return None

    def scrub(ctx: Context):
        with ctx.tracer.span("sinks.scrub"):
            return scrub_groups_spark(ctx.spark, list(ctx.shared["groups"].values()))

    def check_scrub(ctx: Context, verified) -> str | None:
        for url, per_level in verified.items():
            if sorted(per_level) != [str(k) for k in range(LEVELS)]:
                return f"{url}: levels {sorted(per_level)}"
        ctx.facts["scrub"] = {
            "chunks_verified": sum(n for lv in verified.values() for n in lv.values())
        }
        return None

    def read_back(ctx: Context):
        with ctx.tracer.span("sinks.read_array"):
            arrays = {
                (name, lvl): read_array(f"{url}/{lvl}")
                for name, url in ctx.shared["groups"].items()
                for lvl in range(LEVELS)
            }
        return arrays, ctx.shared.pop("out")

    def check_read_back(ctx: Context, result) -> str | None:
        arrays, out = result
        try:
            for (name, lvl), got in arrays.items():
                want = goldens[name][lvl]
                if got.shape[-3:] != want.shape or not np.array_equal(
                    got.reshape(want.shape), want
                ):
                    return f"{name} level {lvl} differs from the source/goldens"
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def feed(ctx: Context):
        progress = os.path.join(ctx.work_dir, "feed-progress")
        shutil.rmtree(progress, ignore_errors=True)
        with ctx.tracer.span("streaming.build"):
            windowed = (
                read_feed(
                    ctx.spark,
                    feed_dir,
                    feed_partitions=4,
                    feed_target_batches=FEED_BATCHES,
                    progress_dir=progress,
                )
                .withWatermark("ts", WATERMARK)
                .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n_events"))
                .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
            )
        with ctx.tracer.span("streaming.run"):
            table = run_feed_bounded(windowed, "perfbench_feed", "append")
        with ctx.tracer.span("streaming.action"):
            rows = table.collect()
        return table.columns, rows

    def check_feed(ctx: Context, result) -> str | None:
        got = result_digest(*result)
        if got != feed_expected:
            return f"windowed counts differ from the batch aggregate ({got[0]} vs {feed_expected[0]} rows)"
        return None

    ops = [
        Op("feed_window_count", feed, check_feed),
        Op("convert", convert, check_convert),
        Op("scrub", scrub, check_scrub),
        Op("read_back", read_back, check_read_back),
    ]
    return ops, {"level0_bytes": STACKS * int(np.prod(STACK_SHAPE)) * 2}
