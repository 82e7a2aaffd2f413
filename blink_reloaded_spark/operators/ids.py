"""Scale-safe stable positional ids (W6 — the reference's `local_idx`
counter, `blink/main_dense.py:125-144`).

The naive Spark expression — ``row_number() OVER (ORDER BY ...)`` with no
partitionBy — forces every row through ONE task (Exchange SinglePartition):
correct at test scale, a dead stop at 10^12 rows. This module implements the
classic two-phase assignment instead:

  1. range-repartition on the ordering key (partition i holds the i-th key
     range), pin the partitioning with a checkpoint;
  2. count rows per partition (one tiny job over #partitions rows) and turn
     the counts into cumulative offsets on the driver — bounded by the
     partition count, never by the data;
  3. rid = per-partition row_number (Window.partitionBy(_pid), a sort that
     never leaves the partition) - 1 + broadcast offset.

Output is bit-identical to the global-sort formulation (pinned by
tests/test_plans.py and the q09 oracle) with no single-partition exchange
anywhere in the final plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blink_reloaded_spark.sources.checkpoint import materialize

_PID = "__sri_pid"
_OFF = "__sri_off"


def stable_row_ids(
    df: DataFrame,
    order_cols: list[str],
    id_name: str = "rid",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 0-based ids in ``order_cols`` order without a global sort.

    ``order_cols`` must be a total order (include a tiebreaker column);
    otherwise ids within a tie group are partition-order dependent, the same
    caveat row_number itself has. The checkpoint pins the range partitioning
    so the offset job and the id job see identical partitions (range
    partitioning samples its bounds; two independent executions of the scan
    are not guaranteed to split identically).
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    # lazy checkpoint: the counts job below is the FIRST action, so it both
    # computes the per-partition counts and materializes the pinned range
    # partitioning in ONE job (eager=True would spend a separate job on the
    # materialization — pure per-job constant, VERDICT r2 #3). A reliable
    # cut writes its files from the same range-exchange output the counts
    # job read, so the pinned partitions are the counted ones.
    ranged = materialize(
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .withColumn(_PID, F.spark_partition_id())
    )
    # one row per partition — bounded by n, not by the data
    counts = {
        r[_PID]: r["n"]
        for r in ranged.groupBy(_PID).agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((int(pid), acc))
        acc += counts[pid]
    if not offsets:
        return df.withColumn(id_name, F.lit(None).cast("long")).where(F.lit(False))
    off_df = spark.createDataFrame(offsets, f"{_PID} int, {_OFF} long")
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    return (
        ranged.join(F.broadcast(off_df), _PID)
        .withColumn(
            id_name,
            (F.row_number().over(w).cast("long") - 1 + F.col(_OFF)),
        )
        .drop(_PID, _OFF)
    )
