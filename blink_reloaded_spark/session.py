"""SparkSession factory tuned for the linkage workload.

Defaults target the sandbox (single JVM, ``local[N]``) but every knob is the
one you would set on a 1000-executor cluster too: AQE on (skew-join splitting,
partition coalescing), Arrow pandas-UDF batching sized for the vectorized
scorers, UTC session timezone so results are engine-portable.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def _reread_zips_only_when_changed() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that did not change.

    A reused PySpark worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``pyspark.worker_util.setup_spark_files``). On
    CPython 3.10-3.12 that makes each zipimporter re-read its archive's
    central directory at once: 16 reads of pyspark.zip, the py4j zip and the
    Spark jar, 0.2-0.5 s of worker CPU per task whatever its size. The
    wrapper re-reads an archive only when its (inode, size, mtime_ns) differs
    from the stamp the importer took at its own last re-read; an importer
    without a stamp, or an archive that cannot be stat'ed, is re-read as
    before. 3.13 made the re-read lazy, so there this does nothing. Installed
    on import of this module, hence in every worker that unpickles an engine
    function; a second call is a no-op."""
    reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if sys.version_info >= (3, 13) or reread is None \
            or getattr(reread, "_skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches._skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reread_zips_only_when_changed()

# Arrow batch size: the pairwise scorer does O(batch * max_len^2) numpy work;
# 10k rows/batch keeps each task's working set in L2/L3 while amortizing
# Python<->JVM transfer (reference precedent: FAISS 50k buffer,
# blink/indexer/faiss_indexer.py:52-63; HF pipeline batch_size=128).
# measured on the extractor (8M turns, local[2] vs local[8], best of 3):
# 10k: 601k turns/s at 8 cores, eff 0.897; 20k: 615k turns/s, eff 0.943;
# 4k: 458k turns/s, eff 0.806 — bigger Arrow batches amortize per-batch
# numpy/pandas setup, which otherwise dominates at high core counts
ARROW_BATCH = 20_000


def get_spark(
    app_name: str = "blink-reloaded-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with linkage-tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else all cores).
    On a real cluster you pass no master and let spark-submit own it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core; on a cluster you size
        # this to ~2-3x total cores (or let AQE coalesce from a high initial).
        n = cpus if cpus != "*" else str(os.cpu_count() or 4)
        shuffle_partitions = int(n) if n.isdigit() else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame query context: with it on, every Column and
        # DataFrame call walks the Python stack and makes ~4 extra JVM round
        # trips to record its call site for error messages. A pipeline run
        # builds its plans from ~1k such calls, so it was a fixed ~0.2-0.3 s
        # of driver time per run (hot_skew_link, local[2], 4-core VM).
        # Errors still carry the Spark-side context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
