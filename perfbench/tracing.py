"""Outside-in tracing for the traced run.

Spans are recorded from the benchmark's own code around calls into each
layer's public functions (nothing inside the package is touched): name,
start, end, parent span and op id, kept in memory and written out when the
run ends. Counts are taken at the same boundaries: py4j round-trips (by
wrapping the gateway client's ``send_command``) and Spark jobs, stages and
tasks (a job group per span, read back through ``StatusTracker``).
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    bytes: int = 0


class Py4jCounter:
    """Counts py4j commands sent from the driver (one per JVM round-trip)."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self._lock = threading.Lock()
        self.calls = 0

        def counting(*args, **kwargs):
            with self._lock:
                self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counting

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._py4j = Py4jCounter(spark)
        self.op = 0

    def close(self) -> None:
        self._py4j.close()

    def next_op(self) -> int:
        self.op += 1
        return self.op

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Time a block. ``jobs=True`` also runs it under its own job group
        and records the jobs, stages and tasks it launched (py4j calls made
        to read them back are not counted against the span)."""
        sp = Span(len(self.spans), name, self.op, self._stack[-1] if self._stack else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp.sid)
        group = f"perfbench-{sp.sid}"
        if jobs:
            self.sc.setJobGroup(group, name)
        calls0 = self._py4j.calls
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py4j = self._py4j.calls - calls0
            self._stack.pop()
            if jobs:
                self.sc.setJobGroup("perfbench-idle", "")
                self._job_stats(sp, group)

    def _job_stats(self, sp: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            sp.jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    sp.stages += 1
                    sp.tasks += stage.numTasks

    def self_ms(self, sp: Span) -> float:
        """Span duration minus the part its direct children cover."""
        child = sum(c.end - c.start for c in self.spans if c.parent == sp.sid)
        return (sp.end - sp.start - child) * 1000.0

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def median_ms(self, name: str) -> float:
        return statistics.median((s.end - s.start) * 1000.0 for s in self.by_name(name))

    def median_of(self, name: str, attr: str) -> float:
        return statistics.median(getattr(s, attr) for s in self.by_name(name))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_ms": {
                        name: statistics.median(self.self_ms(s) for s in group)
                        for name, group in self._groups().items()
                    },
                },
                fh,
            )

    def _groups(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = defaultdict(list)
        for s in self.spans:
            out[s.name].append(s)
        return out
