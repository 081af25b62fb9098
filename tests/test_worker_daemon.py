"""The worker daemon's zip-directory cache (worker_daemon.py): re-read
an archive only when its file changed, and run in every Python worker
that ``get_spark`` sessions start."""

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from medical_and_charity_document_extraction_system_spark import worker_daemon

# 3.13's invalidate_caches re-reads lazily; the daemon patches nothing there
pytestmark = pytest.mark.skipif(sys.version_info >= (3, 13), reason="no patch on 3.13+")


@pytest.fixture
def zip_path(tmp_path, monkeypatch):
    """A zip holding module ``m1``, on ``sys.path`` with the patched
    ``invalidate_caches`` installed; ``reads`` counts directory reads."""
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m1.py", "X = 1\n")
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.cached_invalidate_caches()
    )
    monkeypatch.syspath_prepend(path)
    for name in ("m1", "m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    yield path, reads
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(zip_path):
    path, reads = zip_path
    assert importlib.import_module("m1").X == 1
    importlib.invalidate_caches()  # the first call reads once and keys the stat
    n = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n


def test_rewritten_archive_is_reread_once(zip_path):
    path, reads = zip_path
    importlib.import_module("m1")
    importlib.invalidate_caches()
    with zipfile.ZipFile(path, "a") as z:
        z.writestr("m2.py", "Y = 2\n")
    n = len(reads)
    # a second instance on the same archive shares the one re-read
    other = zipimport.zipimporter(path)
    importlib.invalidate_caches()
    other.invalidate_caches()
    assert reads[n:] == [path]
    assert importlib.import_module("m2").Y == 2
    assert other.find_spec("m2") is not None


def test_deleted_archive_reads_as_empty(zip_path):
    path, reads = zip_path
    importer = zipimport.zipimporter(path)
    assert importer.find_spec("m1") is not None
    importer.invalidate_caches()
    os.remove(path)
    importer.invalidate_caches()  # stock 3.11: no error, the files read as empty
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache
    assert importer.find_spec("m1") is None


def test_workers_run_the_daemon(spark):
    def worker_method(batches):
        for _ in batches:
            name = zipimport.zipimporter.invalidate_caches.__module__
            yield pa.RecordBatch.from_pylist([{"module": name}])

    rows = spark.range(0, 8, 1, 4).mapInArrow(worker_method, "module string").collect()
    assert len(rows) == 4
    assert {r.module for r in rows} == {worker_daemon.__name__}
    # the driver, which imported the module, keeps the stock method
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
