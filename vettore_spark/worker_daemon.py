"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

Spark's worker calls ``importlib.invalidate_caches()`` on every task
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.12 that makes
every ``zipimporter`` re-read its archive's whole directory, and a worker
holds 16 importers over ``pyspark.zip`` (1,328 entries): ~200 ms of
per-task init. On those versions this daemon re-reads an archive only when
its ``(st_mtime_ns, st_size)`` differs from the stamp of its last read, or
its directory left ``zipimport._zip_directory_cache``; an unchanged archive
keeps its directory. Then it runs ``pyspark.daemon.manager()`` unchanged;
workers fork from it and inherit the patch. From 3.12 on, zipimporter
re-reads lazily by itself and this runs the manager only.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int]] = {}


def install() -> bool:
    """Patch ``zipimport.zipimporter.invalidate_caches``; False when the
    interpreter needs no patch or the patch is already installed."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or reread.__module__ == __name__:
        return False

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamp is not None and stamp == _stamps.get(self.archive):
            self._files = files
            return
        # stat BEFORE the read: a rewrite racing it leaves an older stamp,
        # so the next call reads again
        reread(self)
        if stamp is not None:
            _stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    # install through the importable module, not this __main__ copy, so the
    # patched method and its stamps are vettore_spark.worker_daemon's
    from vettore_spark import worker_daemon

    # one read per archive here, so every forked worker starts stamped
    if worker_daemon.install():
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
