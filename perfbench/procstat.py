"""CPU and memory of the Spark JVM and its Python workers, from /proc.

The JVM is the child process pyspark launches from this interpreter;
its Python workers (the ``pyspark.daemon`` and the workers it forks)
are the JVM's descendants.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces: split after its closing parenthesis
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def find_jvm() -> int:
    """pid of the java child of this interpreter (the Spark driver JVM)."""
    for pid in _children_map().get(os.getpid(), []):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"java" in f.read().split(b"\0")[0]:
                    return pid
        except OSError:
            continue
    raise RuntimeError("no Spark JVM among this process's children")


def tree_cpu_s(root: int) -> float:
    """user+sys seconds of ``root`` and its live descendants, plus the
    children each of them has already reaped: a difference of two
    readings is the CPU the tree spent in between."""
    ticks = 0
    for pid in [root] + descendants(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def rss_mb(pids: list[int], largest: int) -> float:
    """Summed RSS of the ``largest`` biggest of ``pids``."""
    pages = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages.append(int(f.read().split()[1]))
        except OSError:
            continue
    pages.sort(reverse=True)
    return sum(pages[:largest]) * _PAGE / 2**20


def peak_rss_mb(pid: int) -> float:
    """VmHWM: the highest resident set the process has had."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class WorkerRssSampler:
    """Samples, on a background thread, the summed RSS of the ``width``
    largest descendants of the JVM (the Python workers; at most
    ``width`` of them run tasks at once, and idle spares the daemon has
    forked are left out). ``peak_mb`` is the highest sum seen between
    ``start`` and ``stop``."""

    def __init__(self, jvm_pid: int, width: int, interval_s: float = 0.2) -> None:
        self.jvm_pid = jvm_pid
        self.width = width
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb(descendants(self.jvm_pid), self.width))
            if self._halt.wait(self.interval_s):
                return

    def start(self) -> None:
        self.peak_mb = 0.0
        self._halt.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._halt.set()
        self._thread.join()
        # one last reading after the job: workers stay alive when reused
        self.peak_mb = max(self.peak_mb, rss_mb(descendants(self.jvm_pid), self.width))
        return self.peak_mb
