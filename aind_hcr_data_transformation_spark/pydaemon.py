"""Python worker daemon for local sessions: ``pyspark.daemon`` with a
stamped ``zipimport`` cache invalidation.

pyspark 4.1's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``). Before CPython 3.13
(gh-103200 made it lazy) that makes every ``zipimporter`` re-read its
archive's central directory at once: one read of ``pyspark.zip``'s
~1,300-entry directory per importer over it, 0.1-0.25 s of CPU per
task on a warm, reused worker, before any user code runs. :func:`install`
replaces ``zipimporter.invalidate_caches`` with a version that re-reads
an archive only when its ``(st_mtime_ns, st_size, st_ino)`` stamp has
changed since the last read, and otherwise reuses
``zipimport._zip_directory_cache``. A rewritten archive is still picked
up on the next invalidation.

Spark starts the daemon as ``python -m <module> <worker module>``; this
module installs the patch and then runs ``pyspark.daemon.manager()``,
which reads the worker module from ``sys.argv[1]`` as before. Forked
workers inherit the patch. Imports only the stdlib and pyspark, so the
daemon starts without the rest of the engine.
"""

from __future__ import annotations

import os
import sys
import zipimport


def stamped_invalidate_caches(original):
    """Wrap ``zipimporter.invalidate_caches`` so an archive's directory is
    re-read (by ``original``) only when the archive's stat stamp changed."""
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stamps.pop(self.archive, None)
            original(self)
            return
        # stat before any read: an archive rewritten during the read leaves
        # an older stamp behind, so the next call reads it again
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        if self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    return invalidate_caches


def install() -> bool:
    """Patch ``zipimport.zipimporter.invalidate_caches`` in this process on
    CPython before 3.13; returns whether the patch was installed."""
    if sys.version_info >= (3, 13):
        return False
    zipimporter = zipimport.zipimporter
    zipimporter.invalidate_caches = stamped_invalidate_caches(
        zipimporter.invalidate_caches
    )
    return True


if __name__ == "__main__":
    # install from the module under its package name, not from __main__,
    # so workers can tell which module patched them
    from aind_hcr_data_transformation_spark import pydaemon
    from pyspark.daemon import manager

    pydaemon.install()
    manager()
