#!/usr/bin/env python
"""Fixed cost of entering Python, per task: how long a 1-row `mapInArrow`
task takes from its launch (the status store's `launchTime`) to the first
line of its function, on reused Python workers.

The worker's part is split into `setup_spark_files` (worker paths, then
`importlib.invalidate_caches()`, which re-reads every zip archive on the
import path on CPython 3.10-3.12 unless the package's guard skips unchanged
ones) and `read_udfs` (unpickling the function), with the number of archive
directory reads made inside `setup_spark_files`. The split comes from timing
wrappers the probe function installs in `pyspark.worker` the first time it
runs in a worker, so each worker's first task has no split. The function
imports the package, as unpickling any engine kernel does. A JVM-only 1-row
job is timed too, as the floor the Python job cannot go below.

Usage (from the repository root, so workers can import the package):
    python scripts/probe_python_task_entry.py
Writes PYTHON_TASK_ENTRY.json.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from blink_reloaded_spark.session import get_spark  # noqa: E402

JOBS = 30
MASTER = "local[2]"  # perfbench's session width
SCHEMA = (
    "pid long, worker_task long, stage long, task long, entered double,"
    " setup_start double, setup_s double, setup_zip_reads long,"
    " read_udfs_s double"
)


def _entry(batches):
    """The probe task: stamps its own entry, installs the phase wrappers on
    the worker's first run, and reports what they timed for this task."""
    entered = time.time()
    import zipimport

    import pyarrow as pa
    import pyspark.worker as w
    from pyspark import TaskContext

    import blink_reloaded_spark  # noqa: F401  (what an engine kernel imports)

    probe = getattr(w, "_entry_probe", None)
    timed = probe is not None
    if not timed:
        probe = w._entry_probe = {"tasks": 0, "reads": 0}
        read_directory = zipimport._read_directory

        def counting(path):
            probe["reads"] += 1
            return read_directory(path)

        zipimport._read_directory = counting
        for name in ("setup_spark_files", "read_udfs"):
            def wrapper(*args, _fn=getattr(w, name), _name=name, **kwargs):
                t0, reads0 = time.time(), probe["reads"]
                try:
                    return _fn(*args, **kwargs)
                finally:
                    probe[_name] = (t0, time.time(), probe["reads"] - reads0)

            setattr(w, name, wrapper)
    probe["tasks"] += 1
    for _ in batches:
        pass
    ctx = TaskContext.get()
    setup = probe.get("setup_spark_files") if timed else None
    udfs = probe.get("read_udfs") if timed else None
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()],
        "worker_task": [probe["tasks"]],
        "stage": [ctx.stageId()],
        "task": [ctx.taskAttemptId()],
        "entered": [entered],
        "setup_start": [setup[0] if setup else None],
        "setup_s": [setup[1] - setup[0] if setup else None],
        "setup_zip_reads": [setup[2] if setup else None],
        "read_udfs_s": [udfs[1] - udfs[0] if udfs else None],
    })


def _launch_time(spark, stage: int, task: int) -> float:
    """Epoch seconds at which the scheduler launched the task."""
    seq = spark.sparkContext._jsc.sc().statusStore().taskList(stage, 0, 100)
    for i in range(seq.size()):
        t = seq.apply(i)
        if t.taskId() == task:
            return t.launchTime().getTime() / 1000
    raise LookupError(f"task {task} of stage {stage} not in the status store")


def _median(xs):
    xs = [x for x in xs if x is not None]
    return round(statistics.median(xs), 4) if xs else None


def main() -> int:
    spark = get_spark(app_name="probe-python-task-entry", master=MASTER,
                      shuffle_partitions=2)
    one_row = spark.range(1).coalesce(1)
    tasks, py_wall, jvm_wall = [], [], []
    for _ in range(JOBS):
        t0 = time.perf_counter()
        row = one_row.mapInArrow(_entry, SCHEMA).collect()[0].asDict()
        py_wall.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        one_row.collect()
        jvm_wall.append(time.perf_counter() - t0)
        launched = _launch_time(spark, row["stage"], row["task"])
        row["launch_to_entry_s"] = row["entered"] - launched
        row["launch_to_setup_s"] = (
            row["setup_start"] - launched if row["setup_start"] else None
        )
        tasks.append(row)
    spark.stop()

    reused = [t for t in tasks if t["worker_task"] > 1]
    summary = {
        "tasks": len(tasks),
        "reused_worker_tasks": len(reused),
        "workers": len({t["pid"] for t in tasks}),
        "reused_launch_to_entry_s": _median(t["launch_to_entry_s"] for t in reused),
        "reused_launch_to_setup_s": _median(t["launch_to_setup_s"] for t in reused),
        "reused_setup_spark_files_s": _median(t["setup_s"] for t in reused),
        "reused_setup_zip_reads": _median(t["setup_zip_reads"] for t in reused),
        "reused_read_udfs_s": _median(t["read_udfs_s"] for t in reused),
        "python_1row_job_s": _median(py_wall[1:]),
        "jvm_only_1row_job_s": _median(jvm_wall[1:]),
    }
    out = {
        "what": "1-row mapInArrow tasks run one job after another; medians "
                "over reused-worker tasks (a worker's 2nd task on), job walls "
                "without the first job",
        "master": MASTER,
        "python": platform.python_version(),
        "spark": spark.version,
        "summary": summary,
        "tasks": [{k: (round(v, 4) if isinstance(v, float) else v)
                   for k, v in t.items()} for t in tasks],
    }
    with open(os.path.join(ROOT, "PYTHON_TASK_ENTRY.json"), "w") as f:
        json.dump(out, f, indent=1)
    for k, v in summary.items():
        print(f"{k:30s} {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
