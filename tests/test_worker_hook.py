"""The Python-worker zip-directory hook (walk_spark.worker_hook): a zip
archive's directory is re-read by ``invalidate_caches`` only when the
archive changes, only inside Spark Python workers, only where Python's own
invalidation is eager."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.taskcontext import TaskContext

from walk_spark import worker_hook as H

SUBPACKAGES = ["s1", "s2", "s3"]
eager_only = pytest.mark.skipif(
    not H._EAGER_INVALIDATE,
    reason="Python >= 3.13 invalidates zip caches lazily")


@pytest.fixture
def restore_hook(monkeypatch):
    """Put the original invalidate_caches and an empty stamp table back
    after the test."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(H, "_stamps", {})


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """Factory: write ``<tmp>/<pkg>.zip`` holding ``pkg`` with SUBPACKAGES
    (plus optional extra modules), put it on sys.path; forget its modules
    and importers afterwards."""
    made = []

    def write(pkg, extra=()):
        path = str(tmp_path / f"{pkg}.zip")
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            for s in SUBPACKAGES:
                z.writestr(f"{pkg}/{s}/__init__.py", "")
                z.writestr(f"{pkg}/{s}/mod.py", f"NAME = {s!r}\n")
            for m in extra:
                z.writestr(f"{pkg}/{m}.py", "X = 1\n")
        if pkg not in made:
            made.append(pkg)
            monkeypatch.syspath_prepend(path)
        return path

    yield write
    for pkg in made:
        for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
            del sys.modules[name]
    for key in [k for k in sys.path_importer_cache
                if k.startswith(str(tmp_path))]:
        del sys.path_importer_cache[key]


def _import_all(pkg):
    for s in SUBPACKAGES:
        assert importlib.import_module(f"{pkg}.{s}.mod").NAME == s


def _importers(archive):
    return [imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
            and imp.archive == archive]


def _count_reads(monkeypatch):
    """Record every zipimport._read_directory call's archive."""
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@eager_only
def test_unchanged_archive_is_not_reread(zip_pkg, restore_hook, monkeypatch):
    path = zip_pkg("zhook_same")
    _import_all("zhook_same")
    # sys.path's entry, the package and each subpackage hold an importer
    # on the same archive
    assert len(_importers(path)) == 2 + len(SUBPACKAGES)
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(path) == len(_importers(path))  # eager: one each

    H.install()
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 1  # first sight stamps the archive
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 0
    _import_all("zhook_same")


@eager_only
def test_rewritten_archive_is_reread(zip_pkg, restore_hook):
    path = zip_pkg("zhook_new")
    _import_all("zhook_new")
    H.install()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    zip_pkg("zhook_new", extra=["fresh"])  # same path, one module more
    importlib.invalidate_caches()
    assert importlib.import_module("zhook_new.fresh").X == 1
    assert all("zhook_new/fresh.py" in imp._files
               for imp in _importers(path))


def test_installer_skips_driver_and_lazy_pythons(restore_hook, monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    assert TaskContext.get() is None  # the driver runs no task
    assert H.install_in_worker() is False
    assert zipimport.zipimporter.invalidate_caches is original

    # a worker running a task on Python >= 3.13 keeps Python's own method
    monkeypatch.setattr(TaskContext, "_taskContext", object())
    monkeypatch.setattr(H, "_EAGER_INVALIDATE", False)
    assert H.install_in_worker() is False
    assert zipimport.zipimporter.invalidate_caches is original

    monkeypatch.setattr(H, "_EAGER_INVALIDATE", True)
    assert H.install_in_worker() is True
    assert H.installed()


def test_hook_active_in_every_worker_task(spark):
    """An engine UDF's unpickling imports walk_spark in the worker, which
    installs the hook there before the task's rows are processed."""
    @F.pandas_udf("boolean")
    def hook_active(x: pd.Series) -> pd.Series:
        return pd.Series([H.installed()] * len(x))

    rows = spark.range(0, 64, numPartitions=16).select(
        F.spark_partition_id().alias("part"), hook_active("id").alias("on")
    ).groupBy("part").agg(F.min("on").alias("on")).collect()
    assert len(rows) == 16
    assert all(r["on"] == H._EAGER_INVALIDATE for r in rows)


def _pyspark_zip():
    from pyspark.find_spark_home import _find_spark_home
    import pyspark
    for home in (_find_spark_home(), os.path.dirname(pyspark.__file__)):
        path = os.path.join(home, "python", "lib", "pyspark.zip")
        if os.path.exists(path):
            return path
    raise AssertionError("no pyspark.zip next to the pyspark install")


_PYFILES_PROBE = """
import importlib, json, sys, zipimport
sys.path[:0] = [WALK_ZIP, PYSPARK_ZIP]
import walk_spark, walk_spark.plans.crawl, walk_spark.operators.dedup_text
import walk_spark.sources.pages, walk_spark.streaming.stream_crawl
from walk_spark import worker_hook
assert walk_spark.__file__.startswith(WALK_ZIP), walk_spark.__file__
import pyspark
assert pyspark.__file__.startswith(PYSPARK_ZIP), pyspark.__file__
worker_hook.install()
importlib.invalidate_caches()  # first sight stamps each archive
reads = []
_read = zipimport._read_directory
zipimport._read_directory = lambda a: reads.append(a) or _read(a)
importlib.invalidate_caches()
print(json.dumps({"reads": reads, "importers": {
    z: sum(isinstance(i, zipimport.zipimporter) and i.archive == z
           for i in sys.path_importer_cache.values())
    for z in (WALK_ZIP, PYSPARK_ZIP)}}))
"""


@eager_only
def test_pyfiles_zip_not_reread(tmp_path):
    """A --py-files submission imports walk_spark from dist/walk_spark.zip:
    with the hook neither that zip nor pyspark's is re-read per task."""
    import json
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    try:
        import make_pyfiles
    finally:
        sys.path.pop(0)
    walk_zip = make_pyfiles.build(str(tmp_path / "dist" / "walk_spark.zip"))
    code = (f"WALK_ZIP = {walk_zip!r}\nPYSPARK_ZIP = {_pyspark_zip()!r}\n"
            + _PYFILES_PROBE)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, env=env, cwd=str(tmp_path), timeout=120)
    assert out.returncode == 0, out.stderr
    got = json.loads(out.stdout.strip().splitlines()[-1])
    # walk_spark and its five subpackages; pyspark and its subpackages
    assert got["importers"][walk_zip] >= 6
    assert got["importers"][_pyspark_zip()] >= 6
    assert got["reads"] == []
