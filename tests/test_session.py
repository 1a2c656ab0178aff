"""Session bootstrap and Python-worker setup."""

import os
import sys
import zipfile
import zipimport

import pytest

import miru_spark
from miru_spark import session

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimporters drop their cache lazily; no guard is installed")


def test_default_driver_mem_is_half_ram_capped_at_32g(monkeypatch):
    page = 4096
    pages = {"SC_PAGE_SIZE": page}
    monkeypatch.setattr(os, "sysconf", lambda name: pages.get(name, 0))
    pages["SC_PHYS_PAGES"] = (16 << 30) // page  # a 16 GB host
    assert session._default_driver_mem() == "8192m"
    pages["SC_PHYS_PAGES"] = (256 << 30) // page
    assert session._default_driver_mem() == "32768m"


def test_worker_daemon_only_where_workers_import_the_package(tmp_path, monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(miru_spark.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert session._worker_daemon_module() is None  # e.g. `python /repo/script.py`
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._worker_daemon_module() == "miru_spark.worker_daemon"
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert session._worker_daemon_module() == "miru_spark.worker_daemon"


@needs_guard
def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    path = tmp_path / "mods.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("a.py", "x = 1\n")
    zi = zipimport.zipimporter(str(path))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))

    miru_spark._invalidate_if_changed(zi)  # no read recorded yet: re-read
    assert len(reads) == 1
    miru_spark._invalidate_if_changed(zi)
    miru_spark._invalidate_if_changed(zi)
    assert len(reads) == 1  # unchanged archive: no re-read

    with zipfile.ZipFile(path, "w") as z:  # rewritten, different size
        z.writestr("a.py", "x = 1\n")
        z.writestr("b.py", "y = 2\n")
    miru_spark._invalidate_if_changed(zi)
    assert len(reads) == 2 and "b.py" in zi._files

    path.unlink()  # a vanished archive empties the importer, as before
    miru_spark._invalidate_if_changed(zi)
    assert zi._files == {}


@needs_guard
def test_zip_guard_installs_only_inside_a_task(spark):
    # the driver keeps the stock method
    assert zipimport.zipimporter.invalidate_caches is not miru_spark._invalidate_if_changed

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        import miru_spark

        for _ in batches:
            pass
        guarded = (zipimport.zipimporter.invalidate_caches
                   is miru_spark._invalidate_if_changed)
        importlib.invalidate_caches()  # records each archive's signature
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()  # what every later task pays
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({"guarded": [guarded], "rereads": [len(reads)]})

    rows = spark.range(0, 1, 1, 1).mapInPandas(probe, "guarded boolean, rereads int").collect()
    assert [(r["guarded"], r["rereads"]) for r in rows] == [(True, 0)]


@needs_guard
def test_worker_daemon_guards_every_worker(spark):
    """Workers fork from miru_spark.worker_daemon, so a UDF that never
    imports miru_spark already runs under the guard, and the daemon's
    recorded archive signatures leave nothing to re-read: not in the
    ``importlib.invalidate_caches()`` PySpark runs before a new worker's
    first task, nor in the UDF's own."""
    import uuid

    assert spark.conf.get("spark.python.daemon.module") == "miru_spark.worker_daemon"
    # a new worker environment starts a new daemon: the probe is each
    # worker's first task (a worker that imports a pyspark sub-package
    # later re-reads that new importer once)
    env = spark.sparkContext.environment
    env["MIRU_SPARK_TEST_WORKERS"] = uuid.uuid4().hex

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        guarded = (getattr(method, "__module__", None), method.__name__) == (
            "miru_spark", "_invalidate_if_changed")
        importlib.invalidate_caches()
        # inherited from the daemon; counts every guarded re-read since
        # this worker forked, the task's set-up invalidation included
        pkg = sys.modules.get("miru_spark")
        yield pd.DataFrame({"guarded": [guarded],
                            "rereads": [getattr(pkg, "_rereads", -1)]})

    try:
        rows = spark.range(0, 4, 1, 4).mapInPandas(
            probe, "guarded boolean, rereads int").collect()
    finally:
        del env["MIRU_SPARK_TEST_WORKERS"]
    assert [(r["guarded"], r["rereads"]) for r in rows] == [(True, 0)] * 4
