"""Cheap per-task import-cache reset in Spark Python workers.

Before every task PySpark calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 and 3.12
that makes every cached ``zipimport.zipimporter`` re-read its archive's
whole central directory eagerly.  There is one importer per package
directory: a ``mapInArrow`` worker holds 17, 12 of them on the
1,328-entry ``pyspark.zip``, and their re-reads cost ~0.25 s of worker
CPU per task (PySpark 4.1, 4-core host) that neither Arrow nor the UDF
asked for.  CPython 3.13
only drops the directory cache there and re-reads it lazily.

The guard below replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the stat taken at its last re-read; importers sharing an
unchanged archive adopt the shared directory.  Picking up a rewritten
archive — the one thing invalidation exists for — still works.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stat key at its last directory read.  Process-wide on
# purpose: it mirrors zipimport's own process-wide ``_zip_directory_cache``.
_read_at: dict = {}


def _guarded_invalidate(self) -> None:
    archive = self.archive
    # stat BEFORE any read: a rewrite racing the read leaves an older key,
    # so the next invalidation re-reads rather than trusting stale data
    try:
        st = os.stat(archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    if key is not None and _read_at.get(archive) == key:
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None:
            self._files = files
            return
    _original_invalidate(self)
    if key is None:
        _read_at.pop(archive, None)
    else:
        _read_at[archive] = key


def install() -> None:
    """Install the guard in this process (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _guarded_invalidate


def install_in_worker() -> None:
    """Install the guard iff this is a Spark Python worker running a task
    (UDF unpickling imports the engine there) on CPython < 3.13.  The
    driver, where no task context is ever set, is left untouched."""
    if sys.version_info >= (3, 13) or "pyspark" not in sys.modules:
        return
    from pyspark.taskcontext import TaskContext

    if TaskContext.get() is not None:
        install()
