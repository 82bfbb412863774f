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
    PROFILE_SF_DIR=/root/testdata/sf0.1 (default)
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from dynamicqueryengine_spark import get_spark  # noqa: E402


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

    if plans_tag:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pdir = os.path.join(here, "plans", "r15")
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
    for p in range(passes):
        for name in names:
            scrub()
            before = dag.numTotalJobs()
            start = time.perf_counter()
            try:
                queries[name](spark, sf_dir).count()
                per[name].append(round(time.perf_counter() - start, 4))
                jobs[name] = dag.numTotalJobs() - before
            except Exception as exc:
                print(f"{name} FAILED: {exc}", file=sys.stderr)
                per[name].append(-1.0)
    out = {
        n: {"min": min(v), "runs": v, "jobs": jobs.get(n)}
        for n, v in per.items()
        if v
    }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
