"""The engine's Python worker daemon (``pydaemon``): the stamped
``zipimporter.invalidate_caches`` patch, and local sessions from
``get_spark`` running their workers under it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from aind_hcr_data_transformation_spark import pydaemon

REPO = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive holding ``pd_zip_a`` on ``sys.path``, imported once so
    a ``zipimporter`` over it sits in ``sys.path_importer_cache``; the
    patch is installed for the test only."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"pd_zip_a": "VALUE = 'a'\n"})
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("pd_zip_a").VALUE == "a"
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
    yield archive
    for name in ("pd_zip_a", "pd_zip_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


def _count_reads(monkeypatch, archive: Path) -> list[str]:
    """Record every ``zipimport._read_directory`` call on ``archive``."""
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="patch is for < 3.13")
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    assert pydaemon.install()
    importlib.invalidate_caches()  # first call stamps the archive
    reads = _count_reads(monkeypatch, zip_on_path)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    # the importer still serves the cached directory
    sys.modules.pop("pd_zip_a")
    assert importlib.import_module("pd_zip_a").VALUE == "a"


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="patch is for < 3.13")
def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    assert pydaemon.install()
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("pd_zip_b")
    _write_zip(
        zip_on_path, {"pd_zip_a": "VALUE = 'a'\n", "pd_zip_b": "VALUE = 'b'\n"}
    )
    reads = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    assert reads == [str(zip_on_path)]
    assert importlib.import_module("pd_zip_b").VALUE == "b"
    importlib.invalidate_caches()  # the new stamp is recorded
    assert reads == [str(zip_on_path)]


def test_patch_not_installed_on_313(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_workers_run_under_engine_daemon(spark):
    from pyspark.sql import functions as F

    @F.udf("string")
    def patched_by(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    rows = spark.range(4, numPartitions=2).select(patched_by("id").alias("m"))
    expected = (
        "aind_hcr_data_transformation_spark.pydaemon"
        if sys.version_info < (3, 13)
        else "zipimport"
    )
    assert {r.m for r in rows.distinct().collect()} == {expected}


_OUTSIDE_DRIVER = """
import sys

sys.path.insert(0, {repo!r})
from aind_hcr_data_transformation_spark.session import get_spark


def double(batches):
    for pdf in batches:
        yield pdf.assign(id=pdf["id"] * 2)


spark = get_spark("outside-cwd", master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
rows = spark.range(6, numPartitions=2).mapInPandas(double, "id long").collect()
print("ROWS", sorted(r.id for r in rows))
spark.stop()
"""


def test_main_defined_map_in_pandas_from_outside_checkout(tmp_path):
    """The driver's cwd is outside the checkout and nothing puts the
    checkout on PYTHONPATH: workers find the daemon through the merged
    ``spark.executorEnv.PYTHONPATH`` alone."""
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(_OUTSIDE_DRIVER.format(repo=str(REPO))))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ROWS [0, 2, 4, 6, 8, 10]" in proc.stdout, proc.stdout
