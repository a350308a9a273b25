"""The zip-archive re-read gate that `streamsurfer_spark.session` installs
on import (see its module docstring).

`importlib.invalidate_caches()` must still re-read an archive that changed
or vanished, and must leave an unchanged archive's directory alone — in
this process and in a reused pyspark worker.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from streamsurfer_spark import session


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A one-module archive on sys.path, its importer primed by one
    invalidation (the first call on an importer always re-reads)."""
    archive = str(tmp_path / "mods.zip")
    prefix = f"zic_{uuid.uuid4().hex[:8]}"
    _write_zip(archive, {f"{prefix}_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(f"{prefix}_a").X == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    importlib.invalidate_caches()
    yield archive, prefix, importer
    sys.path_importer_cache.pop(archive, None)
    for name in [m for m in sys.modules if m.startswith(prefix)]:
        del sys.modules[name]


def test_wrap_is_installed_once():
    method = zipimport.zipimporter.invalidate_caches
    assert getattr(method, "_archive_stat_gated", False)
    session._skip_unchanged_archive_rereads()
    assert zipimport.zipimporter.invalidate_caches is method


def test_unchanged_archive_is_not_reread(zip_on_path):
    _, _, importer = zip_on_path
    files = importer._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert importer._files is files


def test_rewritten_archive_is_reread(zip_on_path):
    archive, prefix, importer = zip_on_path
    files = importer._files
    _write_zip(archive, {f"{prefix}_a": "X = 1\n", f"{prefix}_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importer._files is not files
    assert f"{prefix}_b.py" in importer._files
    assert importlib.import_module(f"{prefix}_b").Y == 2


def test_removed_archive_invalidates_quietly(zip_on_path):
    archive, _, importer = zip_on_path
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert importer._files == {}


def test_reused_worker_skips_pyspark_zip_reread(spark):
    """A task whose closure references engine code installs the gate in its
    worker; a later task there, whose closure does not, still finds the
    method wrapped and pyspark.zip's directory untouched by invalidation.
    Both probes are nested functions, so they pickle by value: unpickling
    the second one imports no engine module."""
    sc = spark.sparkContext
    n = sc.defaultParallelism

    def engine_task(_):
        yield os.getpid(), len(session.TABLES)

    def probe(_):
        import importlib
        import os
        import sys
        import zipimport

        zips = [
            f
            for p, f in sys.path_importer_cache.items()
            if p.endswith("pyspark.zip") and isinstance(f, zipimport.zipimporter)
        ]
        files = zips[0]._files if zips else None
        importlib.invalidate_caches()
        yield (
            os.getpid(),
            hasattr(zipimport.zipimporter.invalidate_caches, "_archive_stat_gated"),
            bool(zips),
            bool(zips) and zips[0]._files is files,
        )

    # enough tasks to cycle every pooled idle worker through the engine task
    engine_pids = {
        pid for pid, _ in sc.parallelize(range(8 * n), 8 * n).mapPartitions(engine_task).collect()
    }
    rows = sc.parallelize(range(2 * n), 2 * n).mapPartitions(probe).collect()
    reused = [r for r in rows if r[0] in engine_pids]
    assert reused, f"no probe task ran in an engine worker: {rows} vs {engine_pids}"
    for pid, wrapped, has_zip, unchanged in reused:
        assert wrapped, f"worker {pid} lost the wrap"
        assert has_zip, f"worker {pid} imports no pyspark.zip"
        assert unchanged, f"worker {pid} re-read an unchanged pyspark.zip"
