"""Seeded inputs for the benchmark.

Tables follow the schemas the package codes against (the TPC-H-shaped star
plus ``events``, ``documents`` and ``embeddings``): independent uniform
columns, one row group per file, row counts proportional to a scale factor
``sf`` (lineitem ~= 6e6 * sf rows). CZI stacks are the voxel ramp of the
package's goldens, half of them with seeded shot noise added so that the
stored compression ratio depends on content.

Everything here is a pure function of ``(seed, sizes)``; the same seed
writes byte-identical files.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_ORDER_DAY0 = datetime(1995, 1, 1)
_EVENT_T0 = datetime(2024, 1, 1)


def _ts(base: datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch = int((base - datetime(1970, 1, 1)) / timedelta(microseconds=1))
    return pa.array(epoch + offsets_us.astype(np.int64), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))])
        for k in rng.integers(8, 100, n)
    ]
    # one document in twenty is a near-duplicate of another one
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables into ``out_dir``; returns table -> row count."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    order_days = (datetime(2001, 8, 1) - _ORDER_DAY0).days + 1
    ship_days = (datetime(2001, 11, 4) - datetime(1995, 1, 2)).days + 1
    day_us = 86_400 * 10**6
    partkeys = np.arange(n_part, dtype=np.int64)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": partkeys,
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
                ),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (partkeys % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _ts(
                    _ORDER_DAY0, rng.integers(0, order_days, n_ord) * day_us
                ),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
    }
    # 1-7 lines per order (4 on average, as in TPC-H)
    lines_per_order = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order)
    n_line = len(okeys)
    first_line = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    linenos = np.arange(n_line) - first_line
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": okeys,
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": (linenos + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(
                datetime(1995, 1, 2), rng.integers(0, ship_days, n_line) * day_us
            ),
        }
    )
    span_us = 30 * day_us
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(_EVENT_T0, np.sort(rng.integers(0, span_us, n_events))),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]
            ),
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_vecs)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table)
        )
    return {name: len(t) for name, t in tables.items()}


def verify_tables(out_dir: str, rows: dict[str, int]) -> None:
    """Raise unless every table file holds the row count it was built with."""
    for name, n in rows.items():
        got = pq.ParquetFile(os.path.join(out_dir, f"{name}.parquet")).metadata.num_rows
        if got != n:
            raise RuntimeError(f"fixture {out_dir}/{name}.parquet has {got} rows, built {n}")


def ramp(shape: tuple[int, int, int]) -> np.ndarray:
    """The package's golden ramp ``(z*1000 + y*10 + x) % 65536`` as uint16."""
    from aind_hcr_data_transformation_spark.sources.czi import synthetic_ramp_block

    z, y, x = shape
    return synthetic_ramp_block(0, z, 0, y, 0, x)


def stack_voxels(seed: int, index: int, shape: tuple[int, int, int]) -> np.ndarray:
    """Stack ``index`` of a fixture: even stacks are the pure ramp, odd ones
    the ramp plus seeded shot noise (uint16 arithmetic wraps)."""
    base = ramp(shape)
    if index % 2 == 0:
        return base
    noise = np.random.default_rng([seed, 2, index]).poisson(40.0, shape)
    return base + noise.astype(np.uint16)


def make_stacks(
    out_dir: str, seed: int, n_stacks: int, shape: tuple[int, int, int]
) -> dict[str, str]:
    """Write ``n_stacks`` single-file CZI stacks; returns name -> path."""
    from aind_hcr_data_transformation_spark.sources.zisraw import write_czi

    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for i in range(n_stacks):
        voxels = stack_voxels(seed, i, shape)
        path = os.path.join(out_dir, f"stack{i}.czi")
        write_czi(path, {z: voxels[z] for z in range(shape[0])})
        paths[f"stack{i}"] = path
    return paths


def ensure(root: str, key: str, build) -> tuple[dict, float]:
    """Build a fixture once into ``root/key`` and reuse it afterwards.

    ``build(dir)`` writes the files and returns a JSON-able description that
    is stored beside them; a directory without that manifest (an interrupted
    build) is rebuilt. Returns the description and the build seconds (0.0
    when reused)."""
    path = os.path.join(root, key)
    manifest = os.path.join(path, "MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest, encoding="utf-8") as fh:
            return json.load(fh), 0.0
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    desc = build(path)
    with open(manifest + ".tmp", "w", encoding="utf-8") as fh:
        json.dump(desc, fh)
    os.replace(manifest + ".tmp", manifest)
    return desc, time.perf_counter() - t0
