"""Incremental entity linking over a transcript STREAM (§2.9 — beyond the
batch-only reference, but the natural Spark-native surface for this engine).

Why this is streaming-safe without cross-batch state: a KB LINK is a pure
function of the mention surface and the (static) entity catalogue, so
`LinkagePipeline.run_links` emits identical rows no matter how the input is
split into micro-batches — cluster identity IS the entity id. KB-FREE
clustering is transitive closure over mention-mention edges and needs
cross-batch state; `incremental_cluster_kb_free` below (r7) streams it by
carrying the cluster-state table between micro-batches through
`run_kb_free_append` — exact (equals the batch recompute) and
replay-idempotent.

Exactly-once OUTPUT = at-least-once foreachBatch + an idempotent sink: the
source checkpoint makes a restarted query re-read only unprocessed files,
but a crash AFTER the parquet write and BEFORE the checkpoint commit
replays that micro-batch — so the sink partitions by batch_id and
dynamically OVERWRITES exactly that partition on replay instead of
appending duplicates (the standard Spark idempotent-sink recipe). Pinned in
tests/test_streaming_incremental.py: graceful restart processes batch 2
without re-emitting batch 1, and a simulated replay of the same batch_id
leaves the output byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from blink_reloaded_spark.plans.pipeline import LinkagePipeline
from blink_reloaded_spark.sources.checkpoint import materialize


def write_links_idempotent(
    links: DataFrame, batch_id: int, output_path: str
) -> None:
    """Idempotent micro-batch sink: partition by batch_id and dynamically
    overwrite ONLY that partition — a foreachBatch replay (crash between
    the write and the stream-checkpoint commit) rewrites the same partition
    instead of appending duplicate rows. run_links is deterministic per
    batch (link = pure fn of surface + static catalogue), so the rewrite is
    byte-equivalent. Module-level so the replay path is directly testable."""
    (
        links.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(output_path)
    )


def incremental_link(
    pipeline: LinkagePipeline,
    transcript_stream: DataFrame,
    entities: DataFrame,
    surfaces: list[str],
    output_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Start a streaming query linking each micro-batch of transcripts
    (conv_id, turn_idx, text) against `entities`; appends
    (mention_id, conv_id, turn_idx, entity_id, score, batch_id) parquet to
    `output_path`. `available_now=True` drains what is currently available
    and stops (the backfill/test mode); False runs continuously.
    """
    ent = materialize(entities)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        links = pipeline.run_links(batch_df, ent, surfaces=surfaces)
        write_links_idempotent(links, batch_id, output_path)

    writer = transcript_stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Continuous KB-FREE clustering (r7): run_kb_free_append made the stateful
# mode streamable — the docstring above predates it and stays true for the
# stateless link path; this section is the stateful story it deferred.
# ---------------------------------------------------------------------------


def cluster_kb_free_sink(
    pipeline: LinkagePipeline, surfaces: list[str], state_path: str
):
    """foreachBatch sink for CONTINUOUS KB-free clustering: each micro-batch
    appends onto the evolving cluster state via `run_kb_free_append` and
    writes the new state snapshot to `state_path`, partitioned by batch_id.

    Replay-idempotent by construction, twice over:
    * the sink reads the latest snapshot with batch_id STRICTLY LESS than
      the current batch — a replayed batch (crash after the write, before
      the stream-checkpoint commit) re-reads its predecessor state, never
      its own half-written partition, and dynamic partition overwrite
      rewrites that partition whole;
    * even re-appending an ALREADY-MERGED batch is a fixed point: mention
      ids are content-hashed (re-extraction emits identical ids), every
      surface is already in the state, so no new pairs are scored and the
      star edges reproduce the existing clustering bit-for-bit (pinned by
      the chain/equivalence tests in tests/test_pipeline.py).

    Scale note: snapshots here are full state copies (engine-portable
    parquet MVCC; a production job retains the latest and vacuums). At
    10^12 turns the write should instead be `run_kb_free_append(...,
    output="delta")` — the upsert, |delta + relabeled| rows — MERGEd into
    an Iceberg state table; the compute side is identical.

    Module-level factory (not a closure inside the query starter) so the
    replay path is directly testable.
    """
    from pyspark.errors import AnalysisException

    from blink_reloaded_spark.operators.mentions import extract_mentions

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        m = materialize(extract_mentions(
            batch_df, surfaces, with_context=False, partitioning="auto",
            id_bits=pipeline.id_bits,
        ))
        prev = None
        try:
            snaps = spark.read.parquet(state_path).where(
                F.col("batch_id") < batch_id
            )
            latest = snaps.agg(F.max("batch_id").alias("b")).collect()[0]["b"]
            if latest is not None:
                prev = materialize(
                    snaps.where(F.col("batch_id") == latest).drop("batch_id")
                )
        except AnalysisException:
            prev = None  # first batch: no state yet
        if prev is None:
            clusters = pipeline.run_kb_free(None, mentions=m)
            m_all = m.select("mention_id", "mention")
        else:
            clusters = pipeline.run_kb_free_append(None, prev, mentions=m)
            m_all = (
                prev.select("mention_id", "mention")
                .unionByName(m.select("mention_id", "mention"))
                .dropDuplicates(["mention_id"])
            )
        state = LinkagePipeline.cluster_state(clusters, m_all)
        (
            state.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(state_path)
        )

    return sink


def incremental_cluster_kb_free(
    pipeline: LinkagePipeline,
    transcript_stream: DataFrame,
    surfaces: list[str],
    state_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Start a streaming query clustering transcript micro-batches KB-FREE
    with cross-batch state: after each batch, `state_path`'s highest
    batch_id partition holds (mention_id, mention, cluster_id) for the
    whole corpus seen so far, IDENTICAL to a batch `run_kb_free` over that
    corpus (the append invariant, er05-oracle + test-pinned). The stream
    analogue of continuously-ingesting entity resolution at 10^12 turns:
    per batch the scorer touches only delta-adjacent pairs."""
    writer = transcript_stream.writeStream.foreachBatch(
        cluster_kb_free_sink(pipeline, surfaces, state_path)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
