#!/usr/bin/env python3
"""Benchmark of the OMOP pipeline and the curation corpus on local Spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload omop_pipeline --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Inputs are
generated from the seed into ``.bench_cache/`` and reused; every file
Spark writes stays under that directory. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")

SETUPS = 3     # set-ups per run; setup_s is their median
MIN_OPS = 1    # timed ops per run (per half when tracing), even past --seconds

END_TO_END = {"setup_s": "s", "run_s": "s", "rows_per_s": "1/s"}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _sandbox(work: str) -> dict[str, str]:
    """Point every temp and scratch directory Spark and Python use into
    ``work`` and size the local master to the CPUs this process may use.
    Returns the extra session conf."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not reported")


def _jvm_counters(spark) -> tuple[float, int]:
    """(HotSpot JIT compiler seconds, Spark code-generator compilations)
    since the JVM started."""
    jvm = spark._jvm
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return jit.getTotalCompilationTime() / 1e3, codegen.getCount()


def _shutdown(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _set_up(wl, conf: dict, n: int):
    """``n`` full set-ups (fresh session + input registration), the last
    one kept. Returns (session, set-up times, session build times)."""
    from hypertension_dashboard_pipeline_spark.session import build_session

    spark, setups, builds = None, [], []
    for _ in range(n):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = build_session(extra_conf=conf)
        t1 = time.perf_counter()
        wl.register(spark)
        t2 = time.perf_counter()
        setups.append(t2 - t0)
        builds.append(t1 - t0)
    return spark, setups, builds


def _warm_up(wl, spark, tracer) -> list[float]:
    """The workload's untimed warm-up ops: the first op of a fresh JVM
    is slow, and the JIT keeps speeding the next few up. Returns their
    times."""
    times = []
    for _ in range(wl.warmup_ops):
        t0 = time.perf_counter()
        wl.op(spark, tracer)
        times.append(round(time.perf_counter() - t0, 3))
    return times


def _timed_ops(wl, spark, tracer, seconds: float, alternate: bool = False):
    """Closed loop, one client: ops back to back until ``seconds`` have
    passed and at least MIN_OPS ran. Checks run outside the timing.
    With ``alternate``, every second op is traced and the others are not,
    so both halves see the same point of the JVM's warm-up."""
    ops, failed, last = [], 0, None
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or len(ops) < MIN_OPS * (1 + alternate):
        if alternate:
            tracer.enabled = len(ops) % 2 == 1
        before = _jvm_counters(spark) if tracer.enabled else None
        with tracer.span("op") as span:
            t0 = time.perf_counter()
            try:
                out, ok = wl.op(spark, tracer), True
            except Exception:  # an op that raises is a failed op
                traceback.print_exc(file=sys.stderr)
                out, ok = None, False
            dt = time.perf_counter() - t0
        jvm = None
        if tracer.enabled:
            jvm = [b - a for a, b in zip(before, _jvm_counters(spark))]
            wl.after_traced_op(spark.sparkContext)
        if ok and not wl.check(out):
            log(f"{wl.name}: op {len(ops)} output differs from the oracle")
            ok = False
        ops.append((dt, span, tracer.enabled, jvm))
        failed += not ok
        if ok:
            last = out
    return ops, failed, last


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    from spantrace import SparkRest, Tracer
    from workloads import WORKLOADS, layer_names

    work = os.path.join(CACHE, f"run-{os.getpid()}")
    conf = _sandbox(work)
    wl = WORKLOADS[workload](CACHE, work, seed)
    try:
        wl.prepare()
        log(f"{workload}: inputs ready")
        spark, setups, builds = _set_up(wl, conf, SETUPS)
        log(f"{workload}: set-ups {[round(x, 3) for x in setups]}")
        try:
            with ThreadPoolExecutor(1) as pool:
                expected = pool.submit(wl.expect)
                warm = _warm_up(wl, spark, Tracer(spark.sparkContext, False))
                expected.result()
            log(f"{workload}: warm-up ops {warm}, oracle ready")
            tracer = Tracer(spark.sparkContext, False)
            ops, failed, last = _timed_ops(wl, spark, tracer, seconds, alternate=trace)
            log(f"{workload}: ops {[round(o[0], 3) for o in ops]}")
            if trace:
                rest = SparkRest(spark.sparkContext)
                rss = _peak_rss_mb(spark)
                tracer.dump(os.path.join(CACHE, f"spans-{workload}-s{seed}.json"))
            # the last good op's full output must match the oracle, or
            # every op of the run counts as failed
            if failed == len(ops) or not wl.final_check(spark, last):
                log(f"{workload}: final output check failed")
                failed = len(ops)
        finally:
            _shutdown(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if trace:
        traced = [o for o in ops if o[2]]
        spans = [o[1] for o in traced]
        metrics = dict.fromkeys(layer_names(), 0.0)
        metrics.update(wl.common_layers(rest, tracer, spans))
        metrics.update(wl.layers(rest, tracer, spans))
        metrics["session.build_s"] = statistics.median(builds)
        metrics["jvm.peak_rss_mb"] = rss
        metrics["jvm.jit_s"] = statistics.mean(o[3][0] for o in traced)
        metrics["codegen.compiles_per_op"] = statistics.mean(o[3][1] for o in traced)
        metrics["trace.overhead_s"] = (statistics.median(o[0] for o in traced)
                                       - statistics.median(o[0] for o in ops if not o[2]))
        units = {k: _layer_unit(k) for k in metrics}
    else:
        run_s = statistics.median(o[0] for o in ops)
        metrics = {
            "setup_s": statistics.median(setups),
            "run_s": run_s,
            "rows_per_s": wl.input_rows / run_s,
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_s"):
        return "s"
    if last.endswith("ratio"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
