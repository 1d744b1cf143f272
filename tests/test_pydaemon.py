"""The engine's Python-worker daemon (``mare_spark.pydaemon``): tasks run
with the zip-keeping ``importlib.invalidate_caches``, and what PySpark's
per-task refresh exists for (``addPyFile`` reaching warm workers) still
holds."""

from __future__ import annotations

import importlib
import importlib.machinery
import sys
import uuid
import zipfile
import zipimport

from mare_spark.pydaemon import invalidate_caches_keeping_read_zips


def test_tasks_use_engine_invalidate_caches(spark):
    # the daemon runs as __main__, so the function name identifies it
    def name(_):
        import importlib

        return importlib.invalidate_caches.__name__

    names = set(spark.sparkContext.parallelize(range(4), 4).map(name).collect())
    assert names == {invalidate_caches_keeping_read_zips.__name__}


def test_add_py_file_importable_on_warm_workers(spark, tmp_path):
    sc = spark.sparkContext
    n = sc.defaultParallelism

    def warm(_):
        import importlib.util
        import os

        # scans every sys.path entry, caching each directory finder
        importlib.util.find_spec("mare_no_such_module")
        return os.getpid()

    warm_pids = set(sc.parallelize(range(n), n).map(warm).collect())
    tag = uuid.uuid4().hex[:12]
    py_mod, zip_mod = f"mare_pyfile_{tag}", f"mare_zipfile_{tag}"
    (tmp_path / f"{py_mod}.py").write_text("VALUE = 'py'\n")
    with zipfile.ZipFile(tmp_path / f"{zip_mod}.zip", "w") as z:
        z.writestr(f"{zip_mod}.py", "VALUE = 'zip'\n")
    sc.addPyFile(str(tmp_path / f"{py_mod}.py"))
    sc.addPyFile(str(tmp_path / f"{zip_mod}.zip"))

    def load(_):
        import importlib
        import os

        return (
            os.getpid(),
            importlib.import_module(py_mod).VALUE,
            importlib.import_module(zip_mod).VALUE,
        )

    out = sc.parallelize(range(n), n).map(load).collect()
    assert {(p, z) for _, p, z in out} == {("py", "zip")}
    assert {pid for pid, _, _ in out} & warm_pids  # reused, warm workers


def test_cached_zip_not_reread_other_finders_invalidated(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkgs.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mare_zip_a.py", "")
    zipper = zipimport.zipimporter(archive)
    invalidated = []

    class DirFinder(importlib.machinery.FileFinder):
        def invalidate_caches(self):
            invalidated.append("dir")
            super().invalidate_caches()

    class MetaFinder:
        def find_spec(self, *args):
            return None

        def invalidate_caches(self):
            invalidated.append("meta")

    directory = str(tmp_path)
    monkeypatch.setitem(sys.path_importer_cache, archive, zipper)
    monkeypatch.setitem(
        sys.path_importer_cache,
        directory,
        DirFinder(directory, (importlib.machinery.SourceFileLoader, [".py"])),
    )
    monkeypatch.setattr(sys, "meta_path", [*sys.meta_path, MetaFinder()])
    # grow the archive after its importer has read it
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("mare_zip_b.py", "")

    invalidate_caches_keeping_read_zips()
    assert sorted(invalidated) == ["dir", "meta"]
    assert sys.path_importer_cache[archive] is zipper
    assert zipper.find_spec("mare_zip_b") is None  # not re-read

    # the stock refresh (this process is not the daemon) does re-read it
    assert importlib.invalidate_caches is not invalidate_caches_keeping_read_zips
    importlib.invalidate_caches()
    assert zipper.find_spec("mare_zip_b") is not None
