"""The two lifetimes of shared intermediates in a driver process.

Per query: a query builder that materializes a multi-consumer
intermediate calls :func:`persist_tracked` instead of bare
``DataFrame.persist()``; drivers that run many queries through one
session (``bench.py``, ``tools/oracle_check.py``) call
:func:`release_persists` after each query's result is materialized, so
persisted intermediates do not pile up for the session's lifetime
(ADVICE r3).  A single-query caller that never releases behaves exactly
as before (the persist lives until the session ends).

Per session: an artifact that many queries read (the MinHash shingles,
bands and candidate pairs, CC labels, IVF/PQ/SemDeDup codebooks, the BPE
merge table, the trade graph, the brand baskets, table row counts) is
built once per (session, sf_dir) through :func:`session_cached`, the way
a production pipeline writes an index once and probes it many times.
Its entries are dropped as soon as a different SparkContext asks.
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_LIVE: list[DataFrame] = []
_SESSION: dict[tuple[str, str], object] = {}
_SESSION_APP: str | None = None


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` + register for later release."""
    df.persist()
    _LIVE.append(df)
    return df


def release_persists() -> int:
    """Unpersist (non-blocking) every tracked intermediate; returns the
    number released.  Safe to call at any time — the cached plans stay
    valid, later actions just recompute instead of reading cache."""
    n = 0
    while _LIVE:
        _LIVE.pop().unpersist(blocking=False)
        n += 1
    return n


def session_cached(
    spark: SparkSession, name: str, sf_dir: str, build: Callable[[], T]
) -> T:
    """The value stored under ``(name, sf_dir)`` for ``spark``'s
    application, calling ``build()`` only on a miss.

    Only one SparkContext is live in a driver process, so the cache
    holds the entries of one ``applicationId`` and clears them all when
    another one asks: a stopped session's frames and codebooks are
    released with it, and a new session never reads them.  A ``build``
    that raises stores nothing.

    What to store: a DataFrame goes in ``localCheckpoint()``-ed, not
    persisted — a checkpoint is not tracked by :func:`release_persists`,
    so the per-query release leaves it intact, and its truncated lineage
    keeps every consumer's plan small.  A codebook-sized result (k-means
    centroids, a merge table, a 625-row edge list, a count) goes in as
    collected Python values: consumers rebuild a local relation or
    inline literals from them, bit-identically (Python floats round-trip
    IEEE doubles exactly)."""
    global _SESSION_APP
    app = spark.sparkContext.applicationId
    if app != _SESSION_APP:
        _SESSION.clear()
        _SESSION_APP = app
    key = (name, sf_dir)
    if key not in _SESSION:
        _SESSION[key] = build()
    return _SESSION[key]
