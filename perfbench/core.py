"""Spark-free helpers shared by every workload: percentiles, the closed
loop, op records, host CPU and the spread computation.

Nothing here imports pyspark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

# The tail percentile the benchmark reports, and the sample count it needs:
# at least ten samples must lie beyond it.
TAIL_Q = 0.8
TAIL_NAME = "p80_ms"
BEYOND = 10


def min_samples(q: float) -> int:
    """Samples needed so that at least ``BEYOND`` lie beyond quantile q."""
    return math.ceil(BEYOND / (1.0 - q) - 1e-9)


def percentile(samples: list[float], q: float) -> float:
    """Harrell-Davis estimate of quantile q, refusing too few samples.

    ``percentile(xs, 0.9)`` needs 100 samples and ``percentile(xs, 0.8)``
    needs 50; fewer raise ``ValueError`` instead of reporting a tail that
    rests on a handful of ops. The estimate weights every order statistic
    by a Beta(q(n+1), (1-q)(n+1)) density, so a quantile that falls in the
    gap between two op kinds' latency clusters moves smoothly instead of
    jumping to one cluster's edge, as a single order statistic does.
    """
    need = min_samples(q)
    if len(samples) < need:
        raise ValueError(
            f"p{round(q * 100)} needs at least {need} samples, got {len(samples)}"
        )
    ordered = sorted(samples)
    n = len(ordered)
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def density(t: float) -> float:
        if t <= 0.0 or t >= 1.0:
            return 0.0
        return math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))

    steps = 64  # trapezoid steps per order statistic's interval
    weights = []
    for i in range(n):
        lo, h = i / n, 1.0 / (n * steps)
        inner = sum(density(lo + k * h) for k in range(1, steps))
        weights.append(h * (inner + 0.5 * (density(lo) + density(lo + steps * h))))
    return sum(w * x for w, x in zip(weights, ordered)) / sum(weights)


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (the steadiness
    measure the benchmark's bounds are checked against)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


@dataclass
class Op:
    """One scheduled request or call. ``run`` does the work and returns
    its output; the workload checks that output after the window."""

    kind: str
    run: Callable[[], Any]
    meta: dict = field(default_factory=dict)


@dataclass
class Record:
    op: Op
    seconds: float
    output: Any = None
    error: BaseException | None = None
    wrong: str | None = None

    @property
    def ok(self) -> bool:
        return self.error is None and self.wrong is None


def execute(op: Op) -> Record:
    """Run one op, timing it; an exception is recorded, not raised."""
    start = time.perf_counter()
    try:
        out = op.run()
    except Exception as exc:  # an op failure is a measured outcome
        return Record(op, time.perf_counter() - start, error=exc)
    return Record(op, time.perf_counter() - start, output=out)


def timed_window(
    ops: Iterator[Op],
    seconds: float,
    min_ops: int,
    ends_rotation: Callable[[Op], bool],
) -> tuple[list[Record], float]:
    """Closed loop, one client: run ops back to back for ``seconds`` and at
    least ``min_ops`` ops, stopping only after an op for which
    ``ends_rotation`` holds (the last op of the schedule's rotation or
    cycle), so the window holds whole rotations. Returns the records and
    the elapsed time."""
    records: list[Record] = []
    start = time.perf_counter()
    while True:
        op = next(ops)
        records.append(execute(op))
        elapsed = time.perf_counter() - start
        if elapsed >= seconds and len(records) >= min_ops and ends_rotation(op):
            return records, elapsed


def end_to_end(records: list[Record], elapsed: float, setup_s: float) -> dict:
    """The end-to-end metrics of one window. A failed or wrong op counts
    as missing every latency limit: it is ranked above every good op, at
    the whole window's length."""
    lat = [r.seconds if r.ok else elapsed for r in records]
    good = sum(1 for r in records if r.ok)
    return {
        "setup_s": setup_s,
        "ops_s": good / elapsed,
        "p50_ms": percentile(lat, 0.5) * 1000.0,
        TAIL_NAME: percentile(lat, TAIL_Q) * 1000.0,
    }


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds used by a process and all its descendants (here: the
    driver, the Spark JVM and the JVM's Python workers), including reaped
    children's, from /proc. Time stolen by the hypervisor is not in it."""
    stats: dict[int, tuple[int, float]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we scanned
            continue
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in tree if p in stats) / os.sysconf("SC_CLK_TCK")


def host_cpu_times() -> dict[str, float]:
    """Machine-wide busy, idle and steal CPU seconds from /proc/stat: steal
    is time this VM's CPUs were runnable but given to another guest."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    ticks = os.sysconf("SC_CLK_TCK")
    return {"busy": (v[0] + v[1] + v[2] + v[5] + v[6]) / ticks, "idle": (v[3] + v[4]) / ticks, "steal": v[7] / ticks}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))
