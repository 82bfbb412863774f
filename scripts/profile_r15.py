#!/usr/bin/env python
"""Round-15 optimization harness: time a SUBSET of declared queries with
bench.py's exact protocol (scrub + .count(), min over passes), count the
Spark JOBS each query runs (the §1.2 job-count audit the r14 verdict asks
to repeat), and/or dump `.explain("formatted")` to plans/r15/. Jobs are
counted by the DAG scheduler (``numTotalJobs`` before and after the
query), so the jobs streaming queries run on their own threads count
too; a job-group count misses them. Usage::

    python scripts/profile_r15.py q1 q2 ...            # time (3 passes)
    PROFILE_PASSES=5 python scripts/profile_r15.py q1
    PROFILE_PLANS=before python scripts/profile_r15.py q1   # also dump plan
    PROFILE_SITES=1 python scripts/profile_r15.py q1   # jobs per call site
    PROFILE_SF_DIR=/root/testdata/sf0.1 (default)

``PROFILE_SITES=1`` adds a ``sites`` map to each query's entry: its jobs
(last pass) per package call site (``path:line function < its caller``,
the two innermost package frames; a job started from outside the package
is charged to the innermost frame outside pyspark and py4j, e.g. this
script's ``count``). The jobs are found by reading ``numTotalJobs``
after every py4j command that has a site, so a job another thread starts
is charged to the next such command; py4j's finalizer thread charges
nothing. The extra round-trip per command makes the timings of such a
run not comparable.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import threading
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from dynamicqueryengine_spark import get_spark  # noqa: E402


_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_HERE, "dynamicqueryengine_spark") + os.sep


def _site() -> str | None:
    """The calling code's ``path:line function``: the two innermost
    package frames (``inner < caller``), else the innermost frame
    outside pyspark, py4j and the threading module; ``None`` for
    commands of py4j's and pyspark's own threads (object finalizers)."""
    pkg: list[str] = []
    fallback = None
    f = sys._getframe(2)
    while f is not None and len(pkg) < 2:
        fn = f.f_code.co_filename
        where = f"{os.path.relpath(fn, _HERE)}:{f.f_lineno} {f.f_code.co_name}"
        if fn.startswith(_PKG):
            pkg.append(where)
        elif fallback is None and not pkg and not any(
            k in fn for k in ("pyspark", "py4j", "threading")
        ):
            fallback = where
        f = f.f_back
    return " < ".join(pkg) if pkg else fallback


class SiteJobs:
    """Charges each Spark job to the call site of the py4j command that
    ran it: wraps the gateway client's ``send_command`` and, after every
    command that has a :func:`_site`, charges the ``numTotalJobs`` delta
    to it. A finalizer's command charges nothing, so jobs it sees start
    are left to the command that started them."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._last = self._dag.numTotalJobs()
        self.sites: Counter = Counter()
        self._client.send_command = self._send

    def _send(self, *args, **kwargs):
        out = self._orig(*args, **kwargs)
        if getattr(self._local, "busy", False):
            return out
        site = _site()
        if site is None:
            return out
        self._local.busy = True
        try:
            with self._lock:
                now = self._dag.numTotalJobs()
                if now > self._last:
                    self.sites[site] += now - self._last
                    self._last = now
        finally:
            self._local.busy = False
        return out

    def take(self) -> dict:
        """The sites charged since the last ``take``, most jobs first."""
        with self._lock:
            out = dict(self.sites.most_common())
            self.sites.clear()
        return out


def main() -> None:
    sf_dir = os.environ.get("PROFILE_SF_DIR", "/root/testdata/sf0.1")
    passes = int(os.environ.get("PROFILE_PASSES", "3"))
    plans_tag = os.environ.get("PROFILE_PLANS")  # "before" | "after" | None
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    names = sys.argv[1:]

    spark = get_spark(
        "dqe-profile-r15",
        cpus=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    if not names:
        names = list(queries)

    def scrub() -> None:
        from dynamicqueryengine_spark.workloads import llm as _llm

        _llm._PAIR_MEMO.clear()
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    site_jobs = SiteJobs(spark) if os.environ.get("PROFILE_SITES") else None

    if plans_tag:
        pdir = os.path.join(_HERE, "plans", "r15")
        os.makedirs(pdir, exist_ok=True)
        for name in names:
            df = queries[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(pdir, f"{name}_{plans_tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path}", file=sys.stderr)
            scrub()

    per: dict[str, list[float]] = {n: [] for n in names}
    jobs: dict[str, int] = {}
    sites: dict[str, dict] = {}
    for p in range(passes):
        for name in names:
            scrub()
            if site_jobs:
                site_jobs.take()
            before = dag.numTotalJobs()
            start = time.perf_counter()
            try:
                queries[name](spark, sf_dir).count()
                per[name].append(round(time.perf_counter() - start, 4))
                jobs[name] = dag.numTotalJobs() - before
            except Exception as exc:
                print(f"{name} FAILED: {exc}", file=sys.stderr)
                per[name].append(-1.0)
            if site_jobs:
                sites[name] = site_jobs.take()
    out = {
        n: {"min": min(v), "runs": v, "jobs": jobs.get(n)}
        for n, v in per.items()
        if v
    }
    for n, s in sites.items():
        out[n]["sites"] = s
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
