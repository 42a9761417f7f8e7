"""``cache.session_cached``: one build per (name, sf_dir) per session,
dropped when another SparkContext asks — driven with a stand-in that has
only ``sparkContext.applicationId``, so no Spark session is started."""

from __future__ import annotations

from pathlib import Path
from types import SimpleNamespace

import pytest

from aind_hcr_data_transformation_spark import cache

PACKAGE = Path(cache.__file__).resolve().parent


def _session(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def empty_cache(monkeypatch):
    """Run each test on an empty cache and restore the real one after, so
    a live test session's entries are neither read nor dropped here."""
    monkeypatch.setattr(cache, "_SESSION", {})
    monkeypatch.setattr(cache, "_SESSION_APP", None)


class Counter:
    def __init__(self):
        self.calls = 0

    def __call__(self):
        self.calls += 1
        return object()


def test_second_call_reuses_the_built_value():
    spark, build = _session("app-1"), Counter()
    first = cache.session_cached(spark, "codebook", "/sf", build)
    second = cache.session_cached(spark, "codebook", "/sf", build)
    assert second is first
    assert build.calls == 1


def test_name_and_sf_dir_are_separate_entries():
    spark, build = _session("app-1"), Counter()
    values = {
        cache.session_cached(spark, name, sf_dir, build)
        for name, sf_dir in [("a", "/sf1"), ("b", "/sf1"), ("a", "/sf2")]
    }
    assert len(values) == 3
    assert build.calls == 3


def test_new_application_drops_every_entry():
    build = Counter()
    old = cache.session_cached(_session("app-1"), "codebook", "/sf", build)
    cache.session_cached(_session("app-1"), "bands", "/sf", build)
    new = cache.session_cached(_session("app-2"), "codebook", "/sf", build)
    assert new is not old
    assert build.calls == 3
    # the old application's other entry went with it
    assert list(cache._SESSION) == [("codebook", "/sf")]


def test_failed_build_stores_nothing_and_retries():
    spark = _session("app-1")

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        cache.session_cached(spark, "codebook", "/sf", boom)
    assert cache._SESSION == {}
    build = Counter()
    cache.session_cached(spark, "codebook", "/sf", build)
    assert build.calls == 1


def test_only_cache_module_reads_application_id():
    """Session-keyed caching lives in ``cache.session_cached`` alone; a
    module that keys its own dict by ``applicationId`` brings back a
    cache that outlives its session."""
    readers = sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if "applicationId" in p.read_text(encoding="utf-8")
    )
    assert readers == ["cache.py"]
