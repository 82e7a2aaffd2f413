#!/usr/bin/env python
"""VERDICT r5 #2, part 2: er04 in ISOLATION is flat (scripts/diag_er04.py, now in git history:
walls fall 14.5 -> 2.7s over 8 trials, shm/heap/RDD counts all bounded).
The driver's rising trials [6.84, 9.37, 14.95] happened after six other
headline entries ran 3 trials each in the same process. Reproduce that
exact preamble, then run er04 N trials with the same instrumentation to
see whether cross-query state (checkpoint blocks, shuffle files, heap)
is the accumulator, or the driver-box window was degraded."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, "/root/repo")

N = int(os.environ.get("DIAG_TRIALS", "6"))

PREAMBLE = [
    "q01_pricing_summary",
    "q03_topk_per_group",
    "q08_cumulative_window",
    "text01_quality",
    "dedup03_minhash_lsh",
    "ann05_multitable_lsh",
]


def shm_bytes(path="/dev/shm/spark-local") -> int:
    try:
        out = subprocess.run(["du", "-sb", path], capture_output=True, text=True)
        return int(out.stdout.split()[0])
    except Exception:
        return -1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from blink_reloaded_spark.session import get_spark
    from blink_reloaded_spark.queries import build_registry
    from blink_reloaded_spark.procstat import tree_cpu_seconds

    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    spark = get_spark(
        app_name="diag-er04-seq",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.local.dir": "/dev/shm/spark-local"},
    )
    queries, _ = build_registry()
    sc = spark.sparkContext

    def jvm_stats():
        rt = sc._jvm.java.lang.Runtime.getRuntime()
        heap_used = rt.totalMemory() - rt.freeMemory()
        prdds = sc._jsc.getPersistentRDDs()
        return heap_used, prdds.size()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    pre = []
    for name in PREAMBLE:
        walls = []
        for _ in range(3):
            t0 = time.time()
            noop(queries[name](spark, sf_dir))
            walls.append(round(time.time() - t0, 2))
        h, p = jvm_stats()
        row = {"name": name, "walls": walls, "shm_mb": round(shm_bytes() / 1e6, 1),
               "persistent_rdds": p, "heap_mb": round(h / 1e6, 1)}
        pre.append(row)
        print(json.dumps(row), file=sys.stderr, flush=True)

    rows = []
    for i in range(N):
        h0, p0 = jvm_stats()
        s0 = shm_bytes()
        c0 = tree_cpu_seconds()
        t0 = time.time()
        noop(queries["er04_clusters"](spark, sf_dir))
        wall = round(time.time() - t0, 3)
        cpu = round(tree_cpu_seconds() - c0, 2)
        h1, p1 = jvm_stats()
        s1 = shm_bytes()
        row = {
            "trial": i,
            "wall": wall,
            "cpu": cpu,
            "shm_mb": round(s1 / 1e6, 1),
            "shm_delta_mb": round((s1 - s0) / 1e6, 1),
            "persistent_rdds": p1,
            "rdds_delta": p1 - p0,
            "heap_mb": round(h1 / 1e6, 1),
        }
        rows.append(row)
        print(json.dumps(row), file=sys.stderr, flush=True)
    print(json.dumps({"preamble": pre, "er04": rows}))


if __name__ == "__main__":
    main()
