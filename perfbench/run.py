"""Benchmark runner for dynamicqueryengine_spark.

    python3 perfbench/run.py --workload rule_serve --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout. One process runs one workload as a
closed loop with one client: it starts a SparkSession, stages the
workload's seeded inputs, warms up for a fixed number of ops, measures
for ``--seconds`` (and at least enough ops for the tail percentile), checks
every op's output outside the timed region, stops Spark and waits for the
JVM to exit. The last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (see
``BENCHMARK.json``); with ``--trace 1`` they are the per-layer ones, from
spans recorded around calls into each layer's public functions. Workloads
are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import core  # noqa: E402

WORKLOADS = ("rule_serve", "vt_dml", "llm_pairs")
DRIVER_MEMORY = "3g"

END_TO_END_UNITS = {"setup_s": "s", "ops_s": "1/s", "p50_ms": "ms", core.TAIL_NAME: "ms"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.cpu_ms_per_op": "ms",
    "session.host_probe_ms": "ms",
    "trace.overhead_ratio": "ratio",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "api.http_overhead_ms": "ms",
    "api.response_bytes": "bytes",
    "plans.parse_ms": "ms",
    "plans.validate_ms": "ms",
    "registry.inline_ms": "ms",
    "registry.inline_py4j_calls": "count",
    "operators.build_ms": "ms",
    "operators.py4j_calls": "count",
    "catalyst.plan_ms": "ms",
    **{
        f"vt.{verb}_{m}": unit
        for verb in ("append", "merge", "delete", "update", "read", "changes", "compact", "vacuum")
        for m, unit in (("ms", "ms"), ("jobs", "count"))
    },
    "vt.files_rewritten_ratio": "ratio",
    "vt.bytes_written_per_user_byte": "ratio",
    "vt.table_bytes": "bytes",
    **{
        f"llm.{q}_{m}": unit
        for q in (
            "dedup_minhash_lsh",
            "corpus_dedup_rate_report",
            "embed_neardup_cosine",
            "window_customer_ltv_deciles_approx",
            "dedup_exact_keep",
        )
        for m, unit in (("ms", "ms"), ("jobs", "count"))
    },
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", default=0, type=int, choices=(0, 1))
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Per-run isolation: fresh local and temp dirs inside the run's work
    dir, Spark sized to this host's CPUs and a driver heap that fits it."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the run starts (spark-submit's launcher and the driver) keeps
    # its temp files inside the work dir and writes no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_GRAFT_CPUS"] = str(core.host_cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_spark():
    from dynamicqueryengine_spark import get_spark

    return get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM to exit, so
    no JVM outlives the run and overlaps the next one."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def host_probe_ms(spark) -> float:
    """Code-frozen host calibration probe: one fixed JVM-only aggregation.
    Reported so a slower host can be told apart from a slower program;
    never used to normalise a metric. Do not edit."""
    from pyspark.sql import functions as F

    start = time.perf_counter()
    (
        spark.range(0, 2_000_000, 1, 4)
        .select((F.col("id") % 1009).alias("k"), (F.col("id") * 7).alias("v"))
        .groupBy("k")
        .agg(F.sum("v"), F.count(F.lit(1)))
        .collect()
    )
    return (time.perf_counter() - start) * 1000.0


def make_workload(name: str, spark, seed: int, work: str, leg: bool = False):
    """Stage one workload. A traced run's short ``leg`` of the vt workload
    uses a smaller table, as its numbers are cold samples anyway."""
    if name == "rule_serve":
        from serve import RuleServe

        return RuleServe(spark, seed)
    if name == "vt_dml":
        from vtdml import LEG_TABLE_ROWS, TABLE_ROWS, VtDml

        return VtDml(spark, seed, os.path.join(work, name), LEG_TABLE_ROWS if leg else TABLE_ROWS)
    from llm import LlmPairs

    return LlmPairs(spark, seed, os.path.join(work, name))


def module(name: str):
    import llm
    import serve
    import vtdml

    return {"rule_serve": serve, "vt_dml": vtdml, "llm_pairs": llm}[name]


def warm_up(ops, n: int) -> list[core.Record]:
    """A fixed number of untimed ops (``WARM_OPS`` of each workload's
    module); the records go to the output checks."""
    return [core.execute(next(ops)) for _ in range(n)]


def run_untraced(args, spark, wl, out: dict) -> dict:
    mod = module(args.workload)
    ops = wl.ops()
    warm = warm_up(ops, mod.WARM_OPS)
    setup_s = time.perf_counter() - T0
    host_probe_ms(spark)  # the probe's own warm-up
    out["host_probe_ms"] = [host_probe_ms(spark)]
    host0 = core.host_cpu_times()
    records, elapsed = core.timed_window(
        ops, args.seconds, core.min_samples(core.TAIL_Q), mod.ends_rotation
    )
    out["host_cpu_s"] = {k: v - host0[k] for k, v in core.host_cpu_times().items()}
    out["host_probe_ms"].append(host_probe_ms(spark))
    t_window = time.perf_counter() - T0
    problems = wl.check(warm + records)
    out["phases_s"] = {"setup": setup_s, "window_end": t_window, "check_end": time.perf_counter() - T0}
    out.update(
        warm_ops=len(warm),
        window_s=elapsed,
        problems=problems,
        warm=[[r.op.kind, r.seconds] for r in warm],
        ops=[[r.op.kind, r.seconds, r.wrong or (repr(r.error) if r.error else None)] for r in records],
    )
    return {
        "correct": not problems and all(r.ok for r in warm + records),
        "attempted": len(records),
        "failed": sum(1 for r in records if not r.ok),
        "metrics": core.end_to_end(records, elapsed, setup_s),
    }


def run_traced(args, spark, wl, out: dict, session_s: float) -> dict:
    """Warm up untraced; run an untraced window of a third of ``--seconds``
    (the base for the tracing overhead) and a traced window of the rest.
    Then every other workload runs a short traced leg, so each traced run
    reports every per-layer metric; leg numbers are cold, short samples."""
    from tracing import Tracer

    mod = module(args.workload)
    ops = wl.ops()
    warm = warm_up(ops, mod.WARM_OPS)
    host_probe_ms(spark)
    probes = [host_probe_ms(spark)]
    cpu0 = core.tree_cpu_seconds(os.getpid())
    base, _ = core.timed_window(ops, args.seconds / 3, 10, mod.ends_rotation)
    cpu_per_op = (core.tree_cpu_seconds(os.getpid()) - cpu0) * 1000.0 / len(base)
    tracer = Tracer(spark)
    try:
        traced = wl.traced_window(tracer, ops, args.seconds * 2 / 3)
        overhead = tracing_overhead(base, traced)
        problems = wl.check(warm + base + traced)
        exec_spans = wl.exec_spans(tracer)
        metrics = wl.layer_metrics(tracer)
        for name in WORKLOADS:
            if name == args.workload:
                continue
            leg = make_workload(name, spark, args.seed, out["work"], leg=True)
            try:
                leg_records = leg.leg(tracer)
                problems += leg.check(leg_records)
            finally:
                if hasattr(leg, "close"):
                    leg.close()
            traced += leg_records
            metrics.update(leg.layer_metrics(tracer))
    finally:
        tracer.close()
    probes.append(host_probe_ms(spark))
    metrics.update(
        {
            "session.start_s": session_s,
            "session.cpu_ms_per_op": cpu_per_op,
            "session.host_probe_ms": statistics.mean(probes),
            "trace.overhead_ratio": overhead,
            "exec.ms": statistics.median((s.end - s.start) * 1000.0 for s in exec_spans),
            "exec.jobs": statistics.median(s.jobs for s in exec_spans),
            "exec.stages": statistics.median(s.stages for s in exec_spans),
            "exec.tasks": statistics.median(s.tasks for s in exec_spans),
        }
    )
    out.update(host_probe_ms=probes, problems=problems)
    tracer.dump(os.path.join(out["out_dir"], f"spans-{args.workload}-s{args.seed}.json"))
    return {
        "correct": not problems and all(r.ok for r in warm + base + traced),
        "attempted": len(base) + len(traced),
        "failed": sum(1 for r in base + traced if not r.ok),
        "metrics": metrics,
    }


def tracing_overhead(base: list[core.Record], traced: list[core.Record]) -> float:
    """Median over op kinds of (traced median latency / untraced median
    latency) - 1, so a different op mix in the two windows does not count.
    The traced window runs later, so residual warm-up pulls it below 0."""
    ratios = []
    for kind in {r.op.kind for r in base} & {r.op.kind for r in traced}:
        t = statistics.median(r.seconds for r in traced if r.op.kind == kind)
        b = statistics.median(r.seconds for r in base if r.op.kind == kind)
        ratios.append(t / b)
    return statistics.median(ratios) - 1.0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dynamicqueryengine_spark", "__init__.py")):
        print(f"perfbench: no dynamicqueryengine_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    pin_environment(work)
    out: dict = {"work": work, "out_dir": out_dir, "workload": args.workload, "seed": args.seed}
    spark = None
    wl = None
    try:
        spark = start_spark()
        session_s = time.perf_counter() - T0
        wl = make_workload(args.workload, spark, args.seed, work)
        if args.trace:
            result = run_traced(args, spark, wl, out, session_s)
        else:
            result = run_untraced(args, spark, wl, out)
    finally:
        if wl is not None and hasattr(wl, "close"):
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    out.setdefault("phases_s", {})["stopped"] = time.perf_counter() - T0
    units = END_TO_END_UNITS if not args.trace else PER_LAYER_UNITS
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()}
    out["result"] = result
    with open(os.path.join(out_dir, f"run-{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(out, fh, default=str)
    print(summary(args, result, out))
    print(json.dumps(result), flush=True)
    return 0


def summary(args, result: dict, out: dict) -> str:
    """One human-readable line: every metric with its unit, the sample
    count, the error ratio and the host probe."""
    m = " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in result["metrics"].items())
    ratio = result["failed"] / max(1, result["attempted"])
    probe = "/".join(f"{p:.1f}" for p in out.get("host_probe_ms", []))
    steal = out.get("host_cpu_s", {}).get("steal", float("nan"))
    return (
        f"# {args.workload} seed={args.seed} trace={args.trace} n={result['attempted']} "
        f"error_ratio={ratio:.4g} {m} host_probe_ms={probe} steal_s={steal:.1f}"
    )


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
