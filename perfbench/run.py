"""Extraction benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 25 --trace 0

Run from the repository root. This process only orchestrates: it starts
the measuring process (``perfbench/worker.py``) at ``local[nproc]``,
times its set-up, relays its report and prints, as the last line of
stdout, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` gives the end-to-end metrics, ``--trace 1``
the per-layer metrics. Everything it writes goes under ``.perfbench/``
in the repository root. Exits non-zero, printing no result, when the
run fails or the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

WORKLOADS = ("crawl_mix", "warc_mixed")
PACKAGE = "medical_and_charity_document_extraction_system_spark"
TIMEOUT_S = 170
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def _child_env(tmp: str, width: int) -> dict:
    env = dict(os.environ)
    # the Python workers import the package: they need the root on their path
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(width)
    env["SPARK_LOCAL_DIRS"] = tmp
    env["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return env


def _busy_share(seconds: float = 0.5) -> float:
    """Share of the box's CPU time that was not idle over ``seconds``."""

    def read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return sum(ticks), ticks[3] + ticks[4]  # total, idle + iowait

    total0, idle0 = read()
    time.sleep(seconds)
    total1, idle1 = read()
    return 1 - (idle1 - idle0) / max(1, total1 - total0)


def _group_alive(pgid: int) -> bool:
    """Any non-zombie process left in the process group?"""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Ends the measuring process and everything it started (the JVM and
    the Python workers share its process group), and waits for them."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            continue
        deadline = time.monotonic() + 10
        while _group_alive(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not _group_alive(proc.pid):
            return


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    width = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    log_path = os.path.join(WORK, f"worker-{args.workload}-s{args.seed}.log")
    # the load average still carries the previous run for a minute; the
    # busy share says whether something else is running right now
    load1 = os.getloadavg()[0]
    busy = _busy_share()
    print(
        f"perfbench {args.workload} seed {args.seed}: local[{width}], closed loop "
        f"(one client), {args.seconds:g} s measured, trace {args.trace}; at start: load average "
        f"{load1:.2f}, CPU busy {100 * busy:.0f}%" + (" -- BUSY BOX, figures suspect" if busy > 0.25 else "")
    )

    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", WORK, "--width", str(width),
    ]
    result = None
    setup_s = None
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=_child_env(tmp, width), stdout=subprocess.PIPE,
            stderr=log, text=True, start_new_session=True,
        )
        # a watchdog: a hung run is stopped, and prints no result
        timer = _Watchdog(proc, TIMEOUT_S)
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line == "READY":
                    setup_s = time.perf_counter() - t0
                elif line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
                else:
                    print(line, flush=True)
            code = proc.wait()
        finally:
            timer.cancel()
            _stop_group(proc)
    shutil.rmtree(tmp, ignore_errors=True)

    if code != 0 or result is None or setup_s is None or timer.fired:
        print(f"perfbench: run failed (exit {code}); log in {log_path}", file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return 1
    if not args.trace:
        result["metrics"]["setup_s"] = {"value": setup_s, "unit": "s"}
    print(f"  {'setup_s':<24} {setup_s:>12.4f} s        (process start to warm worker pool)")
    print(json.dumps(result))
    return 0


class _Watchdog:
    def __init__(self, proc: subprocess.Popen, seconds: float) -> None:
        self.fired = False
        self._proc = proc
        self._timer = threading.Timer(seconds, self._fire)
        self._timer.daemon = True
        self._timer.start()

    def _fire(self) -> None:
        self.fired = True
        try:
            os.killpg(self._proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def cancel(self) -> None:
        self._timer.cancel()


if __name__ == "__main__":
    sys.exit(main())
