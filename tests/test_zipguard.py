"""zipguard: a reused PySpark worker stops re-reading zip directories.

Every Python task calls ``importlib.invalidate_caches()``; on CPython 3.11
each ``zipimporter`` then re-reads its archive's whole directory.  The
guard re-reads an archive only when its stat stamp changed.  The
Spark-free tests count ``zipimport._read_directory`` calls for a temp zip
on ``sys.path``; the Spark test counts, inside the workers, the
archives whose cached directory was replaced between two tasks.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ragflow_core16_spark import zipguard
from ragflow_core16_spark.session import DEFAULT_CONF

_stock_code = getattr(zipimport.zipimporter.invalidate_caches, "__code__",
                      None)
needs_internals = pytest.mark.skipif(
    _stock_code is None or "_files" not in _stock_code.co_names,
    reason="this interpreter's zipimport re-reads lazily; no guard needed")


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """A zip on sys.path holding one imported module, the stock
    ``invalidate_caches`` restored afterwards, and a list collecting the
    archive paths ``_read_directory`` is called with."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"zipguard_probe_a": "A = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    monkeypatch.delitem(sys.path_importer_cache, path, raising=False)
    for mod in ("zipguard_probe_a", "zipguard_probe_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    importlib.import_module("zipguard_probe_a")
    reads = []
    stock = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    sys.path_importer_cache.pop(path, None)


def _rereads(path, reads, n=3):
    del reads[:]
    for _ in range(n):
        importlib.invalidate_caches()
    return reads.count(path)


@needs_internals
class TestGuardWithoutSpark:
    def test_stock_rereads_every_time(self, probe_zip):
        path, reads = probe_zip
        assert _rereads(path, reads) == 3

    def test_guard_rereads_only_a_changed_archive(self, probe_zip):
        path, reads = probe_zip
        assert zipguard.install()
        assert _rereads(path, reads) == 0
        _write_zip(path, {"zipguard_probe_a": "A = 1\n",
                          "zipguard_probe_b": "B = 2\n"})
        assert _rereads(path, reads, n=1) == 1
        assert importlib.import_module("zipguard_probe_b").B == 2
        assert _rereads(path, reads) == 0

    def test_install_is_idempotent(self, probe_zip):
        assert zipguard.install() and zipguard.install()
        assert (zipimport.zipimporter.invalidate_caches
                is zipguard.invalidate_caches)

    def test_missing_internals_keep_stock(self, probe_zip, monkeypatch):
        stock = zipimport.zipimporter.invalidate_caches
        monkeypatch.delattr(zipimport, "_zip_directory_cache")
        assert not zipguard.install()
        assert zipimport.zipimporter.invalidate_caches is stock


def test_driver_process_is_left_stock():
    """The package installs the guard only inside PySpark workers."""
    assert "PYTHON_WORKER_FACTORY_SECRET" not in os.environ
    assert (zipimport.zipimporter.invalidate_caches
            is not zipguard.invalidate_caches)


def test_python_worker_reuse_stays_on(spark):
    """The guard pays off only in a reused worker."""
    assert DEFAULT_CONF.get("spark.python.worker.reuse", "true") == "true"
    assert spark.sparkContext.getConf().get(
        "spark.python.worker.reuse", "true") == "true"


def test_reused_worker_rereads_no_zip(spark):
    """8 tasks, twice.  A zip re-read replaces the archive's entry in
    ``zipimport._zip_directory_cache`` with a new dict (stock method and
    guard alike), so each task compares the entries against the ones the
    previous task on its worker kept alive, and reports how many archives
    were re-read since (its own per-task setup included).  Only those
    references are kept between tasks; zipimport itself is not touched.
    The guard makes the count 0 for every task after a worker's first."""
    def report(batches):
        import os
        import sys
        import types
        import zipimport

        import pandas as pd

        import ragflow_core16_spark  # noqa: F401  installs the guard
        state = sys.modules.setdefault(
            "_zipguard_test_state", types.ModuleType("_zipguard_test_state"))
        cache = zipimport._zip_directory_cache
        kept = getattr(state, "entries", None)
        reads = -1 if kept is None else sum(
            cache.get(archive) is not files for archive, files in kept.items())
        state.entries = dict(cache)
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [reads],
                            "n_zip": [n_zip]})

    df = spark.range(64).repartition(8).mapInPandas(
        report, "pid long, reads long, n_zip long")
    rows = df.collect() + df.collect()
    if not any(r.n_zip for r in rows):
        pytest.skip("workers import nothing from a zip archive")
    firsts = [r.pid for r in rows if r.reads == -1]
    assert len(firsts) == len(set(firsts))
    later = [r.reads for r in rows if r.reads != -1]
    assert later and later == [0] * len(later)
