"""The worker daemon (worker_daemon.py): the zip-directory cache
re-reads an archive only when its file changed and runs in every
Python worker that ``get_spark`` sessions start; each worker freezes
its heap once, after its first task."""

import gc
import importlib
import os
import sys
import time
import zipfile
import zipimport

import pyarrow as pa
import pytest

from medical_and_charity_document_extraction_system_spark import worker_daemon

# 3.13's invalidate_caches re-reads lazily; the daemon patches nothing there
zip_patch = pytest.mark.skipif(sys.version_info >= (3, 13), reason="no patch on 3.13+")


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


@zip_patch
def test_unchanged_archive_is_not_reread(zip_path):
    path, reads = zip_path
    assert importlib.import_module("m1").X == 1
    importlib.invalidate_caches()  # the first call reads once and keys the stat
    n = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n


@zip_patch
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


@zip_patch
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


@zip_patch
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


def test_workers_freeze_once_after_their_first_task(spark):
    """Every task reports its worker's pid and frozen-object count: a
    worker's first task (count 0, unless an earlier test ran one
    there) is followed by tasks that all see a frozen heap, and the
    count never grows, so the heap is frozen once, not per task."""

    def report(batches):
        for _ in batches:
            yield pa.RecordBatch.from_pylist(
                [{"pid": os.getpid(), "at": time.monotonic_ns(), "frozen": gc.get_freeze_count()}]
            )

    rows = spark.range(0, 64, 1, 32).mapInArrow(report, "pid long, at long, frozen long").collect()
    by_pid = {}
    for r in sorted(rows, key=lambda r: r.at):
        by_pid.setdefault(r.pid, []).append(r.frozen)
    reused = [counts for counts in by_pid.values() if len(counts) >= 2]
    assert reused, "no worker ran two tasks"
    for counts in reused:
        assert all(c > 0 for c in counts[1:])
        assert all(b <= a for a, b in zip(counts[1:], counts[2:]))
    # the driver, which never ran the daemon, froze nothing
    assert gc.get_freeze_count() == 0
