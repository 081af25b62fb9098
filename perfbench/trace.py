"""In-memory span recorder for the traced run.

A span is (name, start, end, parent span) within one run of one
workload. Spans stay in memory and are written once, as gzipped JSON
lines, when the run ends. A layer's self time is its spans' durations
minus the part of each span its child spans cover.
"""

from __future__ import annotations

import gzip
import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from typing import Callable


class Tracer:
    def __init__(self, workload: str, run_id: str) -> None:
        self.workload = workload
        self.run_id = run_id
        self.spans: list[list] = []  # [name, start_ns, end_ns, parent index or -1]
        self.counts: Counter = Counter()
        self._stack: list[int] = []

    def begin(self, name: str) -> int:
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter_ns(), 0, self._stack[-1] if self._stack else -1])
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter_ns()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def count(self, name: str, n: int = 1) -> None:
        self.counts[name] += n

    def wrap(self, name: str, fn: Callable, on_result: Callable | None = None) -> Callable:
        """``fn`` recording one ``name`` span and one ``name.calls``
        count per call; ``on_result(tracer, args, result)`` adds counts."""

        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.end(idx)
            self.counts[name + ".calls"] += 1
            if on_result is not None:
                on_result(self, args, result)
            return result

        return traced

    # ------------------------------------------------------ reporting
    def durations(self, name: str) -> list[float]:
        return [(e - s) / 1e9 for n, s, e, _ in self.spans if n == name]

    def layers(self) -> dict[str, dict]:
        """name -> {spans, total_s, self_s}."""
        covered = defaultdict(int)
        for _, s, e, parent in self.spans:
            if parent >= 0:
                _, ps, pe, _ = self.spans[parent]
                covered[parent] += max(0, min(e, pe) - max(s, ps))
        out: dict[str, dict] = {}
        for i, (name, s, e, _) in enumerate(self.spans):
            row = out.setdefault(name, {"spans": 0, "total_s": 0.0, "self_s": 0.0})
            row["spans"] += 1
            row["total_s"] += (e - s) / 1e9
            row["self_s"] += (e - s - covered[i]) / 1e9
        return out

    def traced_wall_s(self) -> float:
        """Summed duration of the top-level spans."""
        return sum((e - s) / 1e9 for _, s, e, parent in self.spans if parent < 0)

    def write(self, path: str) -> None:
        with gzip.open(path, "wt") as f:
            for i, (name, s, e, parent) in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": name,
                            "start_ns": s,
                            "end_ns": e,
                            "parent": parent if parent >= 0 else None,
                            "workload": self.workload,
                            "run": self.run_id,
                        }
                    )
                    + "\n"
                )
