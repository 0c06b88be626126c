"""Benchmark entry point.

    python3 perfbench/run.py --workload sync --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed``, starts one Spark
session, runs one untimed cold pass and the workload's untimed warm-up
step, then a fixed number of timed passes (``timed_passes``), checks
every operation against its oracle, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off; with ``--trace 1`` they are the per-layer ones, from a run
whose last timed pass is traced. A detail line before it carries every
median, tail percentiles with their sample counts, and the measured
input properties. Exits non-zero when any check fails.

Run from the repository root. All files go under ``.perfbench_work/``
there and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Driver memory and cores, the same for every workload and both trace
# modes; get_spark reads both from the environment. Its 24g default is
# too large for a small machine. Two task slots leave the other cores of
# a 4-core box to the JIT compiler, GC and this Python process, and the
# heap is fixed at its maximum (-Xms) so GC work and peak RSS do not
# depend on how the heap happened to grow. With a fixed heap, peak RSS
# cannot show on-heap savings; the per-layer jvm.* metrics can.
CORES = 2
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "pass_s": "s",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
}


# Nominal warm pass length, used only to turn --seconds into a pass count.
NOMINAL_PASS_S = 10


def timed_passes(seconds: int) -> int:
    """Number of timed passes: a function of the arguments only, never
    of elapsed time, so every run of a workload does the same work."""
    return max(2, seconds // NOMINAL_PASS_S)


def _env(work: str) -> None:
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # every JVM, the spark-submit launcher included, keeps its temporary
    # files inside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
        f"--driver-java-options '-Xms{DRIVER_MEMORY} -XX:+UseG1GC' "
        "pyspark-shell"
    )


def canary_s() -> float:
    """A fixed, Spark-free CPU loop: drift in its time is machine drift."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def _old_gen_peak_mb(jvm) -> float:
    """Peak occupancy of the driver JVM's G1 old generation over the
    run: the heap that holds data surviving young collections, garbage
    included until a marking cycle reclaims it."""
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "G1 Old Gen":
            return pool.getPeakUsage().getUsed() / 2**20
    raise RuntimeError("driver JVM has no G1 old generation")


def _heap_live_mb(jvm) -> float:
    """Heap the driver JVM still holds after a full collection, made
    once the timed passes are over."""
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tail(samples: list[float]) -> dict:
    """Median, and the highest standard percentile with at least ten
    samples beyond it."""
    n = len(samples)
    out = {"n": n, "p50": statistics.median(samples)}
    for permille in (999, 990, 950, 900, 750):
        if n * (1000 - permille) >= 10 * 1000:
            out[f"p{permille / 10:g}"] = sorted(samples)[min(n - 1, n * permille // 1000)]
            break
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = f"{os.getcwd()}/.perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    try:
        return _run(ap, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(ap, args, work: str) -> int:
    sys.path.insert(0, ROOT)
    # the program and its test helpers; missing ones end the run here,
    # before any result is printed
    from mongodb_iceberg_sync_spark.session import get_spark
    from tests import parity  # noqa: F401

    from perfbench.metrics import per_layer_metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    canary = [canary_s() for _ in range(3)]
    wl = WORKLOADS[args.workload](args.seed, work)
    t0 = time.perf_counter()
    input_stats = wl.generate()
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, CORES, enabled=False)
    wl.attach(spark, tracer)
    n_timed = timed_passes(args.seconds)
    cold_s = 0.0
    pass_s: list[float] = []
    traced_pass_s: list[float] = []
    try:
        t0 = time.perf_counter()
        wl.run_pass(record=False)
        cold_s = time.perf_counter() - t0
        wl.warm_up()
        wl.check_oracles()
        for i in range(n_timed):
            if args.trace and i == n_timed - 1:
                tracer.enabled = True
                tracer.instrument_sync()
                with tracer.span("pass"):
                    traced_pass_s.append(wl.run_pass(record=False))
                tracer.unwrap_all()
                tracer.enabled = False
            else:
                pass_s.append(wl.run_pass(record=True))
        error = None
    except Exception as exc:  # any failure is a failed run, reported below
        import traceback

        traceback.print_exc()
        error = f"{type(exc).__name__}: {exc}"
    jvm = spark.sparkContext._jvm
    peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm.java.lang.ProcessHandle.current().pid())) / 1024
    old_gen_peak_mb = _old_gen_peak_mb(jvm)
    heap_live_mb = _heap_live_mb(jvm)
    _stop_spark(spark)
    canary += [canary_s() for _ in range(3)]

    res = wl.res
    if error is not None:
        res.check(False, error)
    attempted = max(1, res.attempted)
    ok_ratio = (res.attempted - res.failed) / attempted
    correct = error is None and res.failed == 0
    canary_start = statistics.median(canary[:3])
    canary_end = statistics.median(canary[3:])
    diag = {
        "session.start_s": session_s,
        "jvm.old_gen_peak_mb": old_gen_peak_mb,
        "jvm.heap_live_mb": heap_live_mb,
        "machine.canary_s": statistics.median(canary),
        "machine.canary_spread": max(canary_start, canary_end) / min(canary_start, canary_end),
    }
    e2e = {
        "setup_s": gen_s + session_s,
        "cold_s": cold_s,
        "pass_s": statistics.median(pass_s) if error is None and pass_s else 0.0,
        "ok_ratio": ok_ratio,
        "peak_rss_mb": peak_rss_mb,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": CORES,
        "driver_memory": DRIVER_MEMORY,
        "timed_passes": pass_s,
        "traced_passes": traced_pass_s,
        "gen_s": gen_s,
        "inputs": input_stats,
        "ops": {op: tail(v) for op, v in sorted(res.samples.items())},
        "problems": res.problems,
        **diag,
        **e2e,
    }
    if args.trace:
        layer = per_layer_metrics(tracer, wl, res, diag, pass_s, traced_pass_s)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print("detail: " + json.dumps(detail, default=float))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
