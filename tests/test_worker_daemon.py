"""The engine's Python worker daemon: a zipimport cache refresh that re-reads
only changed archives, and get_spark sessions running their Python tasks
under it."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from city2graph_spark import worker_daemon


def _write_zip(path, module, body):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", body)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimport re-reads lazily from Python 3.13")
def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    first, second = (f"c2g_zip_{uuid.uuid4().hex}" for _ in range(2))
    _write_zip(archive, first, "VALUE = 1\n")
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read(path))
    monkeypatch.setattr(worker_daemon, "_last_read", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_if_changed)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(first).VALUE == 1
        importlib.invalidate_caches()
        n_reads = reads.count(archive)
        for _ in range(3):          # unchanged archive: never re-read
            importlib.invalidate_caches()
        assert reads.count(archive) == n_reads

        st = os.stat(archive)       # rewritten archive: new module visible
        _write_zip(archive, second, "VALUE = 2\nOTHER = 3\n")
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert reads.count(archive) == n_reads + 1
        assert importlib.import_module(second).OTHER == 3
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_session_tasks_run_under_engine_daemon(spark, tmp_path):
    def probe(it):
        import sys
        import zipimport

        import pandas as pd
        for _ in it:
            pass
        yield pd.DataFrame({
            "main": [sys.modules["__main__"].__spec__.name],
            "hook": [zipimport.zipimporter.invalidate_caches.__name__]})

    row = spark.range(1, numPartitions=1) \
        .mapInPandas(probe, "main string, hook string").first()
    assert row.main == "city2graph_spark.worker_daemon"
    if sys.version_info < (3, 13):
        assert row.hook == "invalidate_if_changed"

    # a zip shipped after the first Python task is importable by the next
    module = f"c2g_pyfile_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{module}.zip")
    _write_zip(archive, module, "VALUE = 42\n")
    spark.sparkContext.addPyFile(archive)

    def use(it):
        import importlib

        import pandas as pd
        for _ in it:
            pass
        yield pd.DataFrame({"v": [importlib.import_module(module).VALUE]})

    try:
        got = spark.range(4, numPartitions=4).mapInPandas(use, "v long")
        assert [r.v for r in got.collect()] == [42] * 4
    finally:
        sys.modules.pop(module, None)
