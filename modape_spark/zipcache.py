"""Re-read a zip archive on ``importlib.invalidate_caches()`` only when it changed.

Every task a Spark Python worker runs starts in
``pyspark.worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``.  That calls ``invalidate_caches`` on each
cached ``zipimport.zipimporter``, and on CPython 3.11 each of them re-parses
its archive's whole central directory, once per importer rather than once
per archive.  A worker importing pyspark from ``pyspark.zip`` holds about
fourteen importers on that 3.5 MB archive, so every task re-parses it
fourteen times: 0.14-0.22 CPU-s per task on a 4-vCPU Xeon VM, independent
of the data.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version that
keys each archive on ``(st_mtime_ns, st_size, st_ino)`` and calls the
original only when that key moved since the directory was last read.  A
rewritten or newly shipped archive (``--py-files``, ``addPyFile``) changes
the key and is re-read as before; an archive rewritten in place to the same
size within one file-system clock tick is not, the same trade-off the
standard ``FileFinder`` makes with directory mtimes.

``modape_spark/__init__`` calls ``install_in_worker()``, which patches only
a process started as ``python -m pyspark.daemon`` or ``-m pyspark.worker``
(and the workers the daemon forks); the driver is never patched.  A worker
imports ``modape_spark`` while unpickling its first engine UDF, so only
that first task still pays the full re-parse.
"""

from __future__ import annotations

import os
import sys
import zipimport

__all__ = ["install", "install_in_worker", "installed"]

WORKER_MODULES = ("pyspark.daemon", "pyspark.worker")

_original = zipimport.zipimporter.invalidate_caches
# archive path -> stat key the cached directory was read under.  Per
# process, like zipimport's own _zip_directory_cache it guards.
_read_under: dict[str, tuple[int, int, int] | None] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    archive = self.archive
    # stat BEFORE the read: a change racing the read leaves a stale key,
    # which only forces one more read next time
    key = _stat_key(archive)
    cache = zipimport._zip_directory_cache
    if key is not None and _read_under.get(archive) == key and archive in cache:
        if "_files" in vars(self):  # CPython <= 3.12 keeps a per-importer copy
            self._files = cache[archive]
        return
    _original(self)
    _read_under[archive] = key


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def install_in_worker() -> bool:
    """``install()`` if this process is a Spark Python worker; True if it did."""
    spec = getattr(sys.modules.get("__main__"), "__spec__", None)
    if getattr(spec, "name", None) not in WORKER_MODULES:
        return False
    install()
    return True
