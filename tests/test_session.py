"""Session defaults: the engine's Python worker daemon re-reads zip
directories only when the archive changed and Spark's workers run under
it; the default driver heap fits the host."""

import importlib
import os
import sys
import zipfile
import zipimport

from tinyetl_spark import pyworker
from tinyetl_spark.session import _driver_memory


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_rereads_only_a_changed_archive(tmpdir_path, monkeypatch):
    archive = f"{tmpdir_path}/mods.zip"
    _write_zip(archive, {"tinyetl_zip_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker._invalidate_if_changed)
    importer = zipimport.zipimporter(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, importer)
    monkeypatch.syspath_prepend(archive)
    for name in ("tinyetl_zip_a", "tinyetl_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("tinyetl_zip_a").X == 1

    importlib.invalidate_caches()           # first call stamps the archive
    files = importer._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert importer._files is files         # unchanged archive: no re-read

    _write_zip(archive, {"tinyetl_zip_a": "X = 1\n",
                         "tinyetl_zip_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importer._files is not files
    assert importlib.import_module("tinyetl_zip_b").Y == 2


def test_spark_workers_run_under_engine_daemon(spark):
    def daemon_module(_):
        import sys
        yield sys.modules["__main__"].__spec__.name

    got = spark.sparkContext.parallelize(range(2), 2) \
        .mapPartitions(daemon_module).collect()
    assert set(got) == {"tinyetl_spark.pyworker"}


def test_driver_memory_fits_host(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    heap_mb = int(_driver_memory().removesuffix("m"))
    assert 0 < heap_mb <= min(24 * 1024, phys_mb // 2)
