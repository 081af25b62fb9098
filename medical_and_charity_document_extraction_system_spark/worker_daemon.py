"""Python worker daemon: ``pyspark.daemon`` with zip directories cached
and each worker's start-up heap frozen.

``get_spark`` names this module as ``spark.python.daemon.module``, so
Spark starts it in place of ``pyspark.daemon``; ``sys.argv[1]``, the
worker module, passes through unchanged.

Every task a Python worker runs calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's
whole central directory, once per zipimporter instance: the workers
import pyspark from ``pyspark.zip`` (1,328 entries, ~5.6 ms a read)
through ~16 instances, one per subpackage, so each task spent
0.15-0.25 s of CPU before its first row. The replacement installed
here re-reads an archive only when its file changed on disk since this
process last read it; otherwise the instance takes the directory
already in ``zipimport._zip_directory_cache``. Python 3.13 drops the
shared entry and re-reads lazily, so nothing is patched there.

The daemon runs a full ``gc.collect()`` after every task a reused
worker finishes, on the critical path of its next task. A warmed
worker tracks ~74k objects, nearly all of them modules, functions and
classes imported by its first task (pyspark, pyarrow, this package),
and that walk took 14-124 ms (median ~28 ms) a task. Each worker here
runs ``gc.collect(); gc.freeze()`` once, after its first task, so later
collects scan only what was made since. Freezing once, never per task,
bounds what a leak can pin to the first task's survivors.

Importing this module changes nothing; the patches happen only when it
runs as ``__main__``, in the daemon, and the workers it forks inherit
them.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport


def cached_invalidate_caches():
    """A ``zipimporter.invalidate_caches`` that re-reads an archive only
    when its ``(st_size, st_mtime_ns, st_ino)`` differs from the stat
    taken before this function's last read of it. A missing archive
    falls through to the stock method, which empties the instance."""
    stock = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stock(self)
            return
        key = (st.st_size, st.st_mtime_ns, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        # stat before reading: a change landing mid-read shows up as a
        # different key on the next call, which reads again
        stock(self)
        read_at[self.archive] = key

    return invalidate_caches


def freeze_after_first_task(worker):
    """``worker`` (``pyspark.daemon.worker``, called once per task in a
    forked worker) that, after the first task of the process it runs
    in, collects once and moves every survivor to the permanent
    generation. The daemon itself never calls it, so each fork starts
    unfrozen."""
    frozen = False

    def run(sock, authenticated):
        nonlocal frozen
        code = worker(sock, authenticated)
        if not frozen:
            gc.collect()
            gc.freeze()
            frozen = True
        return code

    return run


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = cached_invalidate_caches()
    # imported here: pyspark.daemon picks its worker module from
    # sys.argv at import time
    from pyspark import daemon

    # manager() looks ``worker`` up in its module at each fork
    daemon.worker = freeze_after_first_task(daemon.worker)
    daemon.manager()


if __name__ == "__main__":
    # run the copy imported under the package name, so the installed
    # method's __module__ names this module, not __main__
    from .worker_daemon import main as _main

    _main()
