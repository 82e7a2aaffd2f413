#!/usr/bin/env python3
"""Linkage-engine benchmark.

    python3 perfbench/run.py --workload hot_skew_link --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from --seed,
starts one SparkSession on local[N] (N = min(2, usable cores)), sets up and
warms up, then times the workload's operations for --seconds (at least
two iterations) and checks every output. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced
layer-by-layer run. Every file the run writes stays under
.perfbench_work/ in the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

# two task threads leave the other cores to the driver, the JIT and the
# Python workers; on a 4-core box, in runs paired by seed, local[2] was
# faster than local[4] and lost less CPU to host steal
MAX_CORES = 2
WORK_DIR = ".perfbench_work"


def _start_spark(work: str, cores: int):
    from blink_reloaded_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            # the whole heap from the start: a heap that grows run by run
            # makes every early run pay more GC than the later ones
            "spark.driver.extraJavaOptions":
                f"-Xms2g -Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads stage metrics back from the status store
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
            # Spark's default cache of 100 generated classes is too small for
            # one tuned run: each run recompiles its generated code, which
            # costs up to half of its CPU and keeps the JIT from settling
            "spark.sql.codegen.cache.maxEntries": "2000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    _reap_descendants()


def _reap_descendants(timeout: float = 30.0) -> None:
    import tracing

    deadline = time.monotonic() + timeout
    while tracing.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in tracing.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while tracing.descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "blink_reloaded_spark", "__init__.py")):
        print("perfbench: run from the repository root: blink_reloaded_spark/ "
              "is not in the working directory", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the Python workers Spark starts import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )

    import tracing
    import workloads

    if args.workload not in workloads.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.SPECS)}", file=sys.stderr)
        return 2
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    spark = _start_spark(work, cores)
    session_s = time.perf_counter() - t0
    try:
        with tracing.TreeMonitor() as mon:
            bench = workloads.Bench(spark, args.workload, args.seed, work, mon)
            setup_s = bench.setup(session_s)
            if args.trace:
                bench.measure_traced(args.seconds, setup_s)
            else:
                bench.report(bench.measure(args.seconds), setup_s)
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    out = bench.out
    print(f"local[{cores}], --seconds {args.seconds:g}, --trace {args.trace}")
    for line in out.lines:
        print(line)
    for p in out.problems:
        print(f"CHECK FAILED: {p}")
    for name, (value, unit) in out.metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": not out.problems and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
