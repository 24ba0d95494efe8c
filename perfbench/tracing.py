"""Measurement helpers for the benchmark: in-memory spans, per-op Spark
job/task counts, a /proc peak-RSS sampler and order statistics.

Nothing here imports the engine; the workloads wrap their calls into the
engine's public functions with ``Tracer.span``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory: (id, name, parent, op, start, end, attrs).

    Disabled tracers record nothing and cost one branch per span, so the
    untraced run measures the engine alone."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.op_kind: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "kind": self.op_kind,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                if cur_end is None or c["start"] > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c["start"], c["end"]
                else:
                    cur_end = max(cur_end, c["end"])
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


class SparkCounts:
    """Per-op Spark job / task / failed-task counts from the public
    ``StatusTracker``: each op runs under its own job group."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self._n = 0

    def begin(self, kind: str) -> str | None:
        if not self.enabled:
            return None
        self._n += 1
        group = f"bench-{self._n}-{kind}"
        self.sc.setJobGroup(group, kind)
        return group

    def end(self, group: str | None) -> dict | None:
        if group is None:
            return None
        tracker = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        self.sc.setJobGroup("bench-idle", "between ops")
        return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc every ``interval``
    seconds (psutil is not assumed). Each process contributes its
    proportional set size, so pages that forked Python workers share are
    counted once for the tree rather than once per worker."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _ppid_map() -> dict[int, int]:
        out = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rfind(b")") + 2 :].split()
            out[int(name)] = int(fields[1])
        return out

    def descendants(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for pid, ppid in self._ppid_map().items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = [], list(kids.get(os.getpid(), ()))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, ()))
        return out

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def sample(self) -> int:
        total = sum(self._pss(pid) for pid in [os.getpid(), *self.descendants()])
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count). Below 21 samples that percentile
    would not lie above the median, so the maximum is reported instead,
    at percentile 100."""
    n = len(values)
    xs = sorted(values)
    if n < 21:
        return xs[-1], 100.0, n
    idx = n - 11  # ten samples lie strictly above xs[idx]
    return xs[idx], round(100.0 * (idx + 1) / n, 2), n


def median(values: list[float]) -> float:
    return statistics.median(values)


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0
