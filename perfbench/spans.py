"""In-memory span tracing from the benchmark's side of the program's
public API.

A ``Tracer`` wraps public functions (``patch``), records one span per
call (name, start, end, parent, run id) and, when given a
``SparkCounters``, charges the Spark work that completed while a span
was open to that span and to every span enclosing it. Spans stay in
memory until ``dump`` writes them out at the end of the run.

Attribution is exact for a single driver thread: the counters are
polled at every span boundary, and between two boundaries the stack
of open spans does not change.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from collections import Counter
from dataclasses import asdict, dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "task_cpu_s", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "gc_s", "text_scan_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counters: dict[str, float] = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    child spans cover. Children may overlap each other; the covered
    part is the union of their intervals, clipped to the parent."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


class SparkCounters:
    """Deltas of the driver's AppStatusStore since the previous poll:
    jobs, stages and tasks completed, and the stage task metrics.
    ``text_scan_bytes`` is the size of the files of every text-file scan
    that ran (the scan node's "size of files read" plan metric), the
    numerator of the ``.crs`` scan-pass ratio."""

    _UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
    _WINDOW = 256  # far more executions than finish between two polls

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_stages: set[int] = set()
        self._next_job = self._job_horizon()
        recent = self._recent_execs()
        self._last_exec = recent[-1].executionId() if recent else -1

    def _job_horizon(self) -> int:
        ids = list(self._tracker.getJobIdsForGroup(None))
        return max(ids) + 1 if ids else 0

    def poll(self) -> dict[str, float]:
        out = dict.fromkeys(COUNTERS, 0.0)
        j = self._next_job
        while True:
            info = self._tracker.getJobInfo(j)
            if info is None or info.status == "RUNNING":
                break
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage, never ran
                    continue
                self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["gc_s"] += st.jvmGcTime() / 1e3
            j += 1
        self._next_job = j
        out["text_scan_bytes"] = self._text_scans()
        return out

    def _recent_execs(self) -> list:
        """The newest SQL executions in the store (the store keeps a
        bounded number, so offsets are taken from its current count)."""
        n = self._sql.executionsCount()
        k = min(n, self._WINDOW)
        if k == 0:
            return []
        execs = self._sql.executionsList(n - k, k)
        return [execs.apply(i) for i in range(execs.size())]

    def _text_scans(self) -> float:
        """Bytes of text files scanned by SQL executions that finished
        since the last poll: a ``Scan text`` plan node counts when its
        output-row metric shows it ran (a scan under an already
        materialised cache does not run)."""
        total = 0.0
        for ex in self._recent_execs():
            eid = ex.executionId()
            if eid <= self._last_exec:
                continue
            if ex.completionTime().isEmpty():
                break
            self._last_exec = eid
            if "Scan text" not in ex.physicalPlanDescription():
                continue
            values = str(self._sql.executionMetrics(eid).toString())
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if not node.name().startswith("Scan text"):
                    continue
                metrics = node.metrics()
                rows = size = 0.0
                for mi in range(metrics.size()):
                    metric = metrics.apply(mi)
                    v = re.search(rf"[(, ]{metric.accumulatorId()} -> ([\d.,]+)( \w+)?",
                                  values)
                    if v is None:
                        continue
                    num = float(v.group(1).rstrip(",").replace(",", ""))
                    if metric.name() == "number of output rows":
                        rows = num
                    elif metric.name() == "size of files read":
                        size = num * self._UNITS.get((v.group(2) or " B").strip(), 1)
                if rows > 0:
                    total += size
        return total


class Tracer:
    """Span recorder. ``patch(owner, attr, name)`` replaces a function
    or method with a wrapper that records a span per call; ``restore``
    puts every original back."""

    def __init__(self, run_id: str, counters: SparkCounters | None = None):
        self.run_id = run_id
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.patched: list[tuple[object, str, object]] = []
        # rows per merge action, counted by the traced pass itself
        self.actions: Counter = Counter()

    def _charge(self) -> None:
        if self.counters is None:
            return
        delta = self.counters.poll()
        for i in self._stack:
            c = self.spans[i].counters
            for k, v in delta.items():
                c[k] = c.get(k, 0.0) + v

    def open(self, name: str) -> int:
        self._charge()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, idx: int) -> None:
        self._charge()
        self.spans[idx].end = time.perf_counter()
        self._stack.remove(idx)

    def run_untraced(self, name: str, fn):
        """Run ``fn`` inside a span whose Spark work is charged to no
        span (it is the benchmark's own work)."""
        idx = self.open(name)
        try:
            return fn()
        finally:
            if self.counters is not None:
                self.counters.poll()
            self.close(idx)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self.patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(getattr(owner, attr), name))

    def restore(self) -> None:
        while self.patched:
            owner, attr, original = self.patched.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
