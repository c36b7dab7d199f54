"""The zipimport guard: Spark Python workers re-read a zip archive's
directory on ``importlib.invalidate_caches()`` only when the archive's
stat changed (deep_ner_spark/zipguard.py)."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from collections import defaultdict

import pytest

from deep_ner_spark import zipguard

needs_eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 no longer re-reads archives eagerly",
)


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zg_probe/__init__.py", f"VALUE = {value}\n")
        zf.writestr("zg_probe/sub.py", f"VALUE = {value}\n")


def _drop_probe_modules():
    for m in ("zg_probe", "zg_probe.sub"):
        sys.modules.pop(m, None)


def _import_probe():
    _drop_probe_modules()
    import zg_probe.sub

    return zg_probe.VALUE, zg_probe.sub.VALUE


@needs_eager_reread
def test_guard_skips_unchanged_archive_and_rereads_changed(
    tmp_path, monkeypatch, request
):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or real(a))
    # whatever happens, restore the unguarded method and drop this
    # archive's importers, modules and stat record afterwards
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(zipguard, "_read_at", {})
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    request.addfinalizer(_drop_probe_modules)

    # two importers share the archive: its root and the package directory
    assert _import_probe() == (1, 1)
    zipguard.install()
    zipguard.install()  # idempotent
    assert zipguard.installed()

    reads.clear()
    importlib.invalidate_caches()  # the first guarded pass records the stat
    assert reads.count(archive) == 1
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert archive not in reads

    st = os.stat(archive)
    _write_zip(archive, 22222)
    # a rewrite within the clock's granularity must still be seen
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert os.stat(archive).st_size != st.st_size
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert _import_probe() == (22222, 22222)


@needs_eager_reread
def test_spark_workers_run_with_guard_after_first_task(spark):
    n = 2 * spark.sparkContext.defaultParallelism

    def probe(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        # referencing an engine module makes UDF unpickling import the engine
        installed = zipguard.installed()
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "attempt": [TaskContext.get().taskAttemptId()],
            "installed": [installed],
            "reads": [len(reads)],
        })

    # two jobs: the worker pool may hold more idle workers than one job's
    # tasks, but the second job reuses workers the first one used
    rows = []
    for _ in range(2):
        got = (
            spark.range(0, n, 1, n)
            .mapInArrow(probe, "pid long, attempt long, installed boolean, reads long")
            .collect()
        )
        assert len(got) == n
        rows += got
    assert all(r.installed for r in rows)
    by_pid = defaultdict(list)
    for r in rows:
        by_pid[r.pid].append(r)
    for tasks in by_pid.values():
        tasks.sort(key=lambda r: r.attempt)
        # a later task's own setup already ran through the guard, which
        # recorded every archive's stat: nothing left to re-read
        assert all(r.reads == 0 for r in tasks[1:]), tasks
    assert any(r.reads == 0 for r in rows), "no task ran behind the guard"


def test_driver_import_leaves_zipimport_unpatched():
    code = (
        "import pyspark, zipimport, deep_ner_spark\n"
        "from deep_ner_spark import zipguard\n"
        "zipguard.install_in_worker()\n"
        "assert not zipguard.installed()\n"
        "assert zipimport.zipimporter.invalidate_caches.__module__ == 'zipimport'\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True, timeout=120)
