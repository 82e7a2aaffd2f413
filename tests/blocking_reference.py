"""The key equi-join candidate generator the KB join ran before its probe
kernel (operators.blocking.probe_candidates), kept as the parity reference:
tests/test_kernels.py checks the kernel's candidate set against it, with
and without purge and top-k."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def mention_entity_candidates(
    mention_keys: DataFrame,
    entity_keys: DataFrame,
    ok_keys: DataFrame | None = None,
    max_candidates_per_mention: int | None = None,
) -> DataFrame:
    """Candidate (mention, entity) pairs: equi-join of the two (id,
    block_key) tables on block_key -> distinct pairs.

    This is the reference's retrieval stage as a *join* (`blink/main_dense.py:
    238-262` scores each mention against the whole catalogue; we only score
    within shared blocks). Cost is linear in Σ_key |mentions_key|·|entities_key|
    — a 1-to-few join since entities per key is small — never quadratic in
    mentions. Skew on hot keys is split by AQE skew-join handling.

    `ok_keys` (block_key) restricts both sides to the keys that survive
    block purging — computed by the caller with `purged_block_keys` over
    its flagged key table, and materialized by the caller (its two
    semi-join consumers would otherwise each recompute the sizing subtree)
    under the caller's own durability contract. None = no purge.

    `max_candidates_per_mention` is the reference's top-k retrieval bound
    (O2, `blink/main_dense.py:238-262` keeps top_k=100 per mention): keep
    the k candidates sharing the MOST block keys with the mention (ties by
    entity id). Without it, the scorer input is Σ_key |m_k|·|e_k| — hot
    keys at the purge cap times popular mention keys multiply into
    hundreds of millions of Python-scored pairs at 10^4+ entities; with
    it, scorer input is exactly |mentions| * k, and shared-key count is a
    better-than-random cheap rank (band agreement ~ jaccard).
    """
    m = mention_keys.select(F.col("id").alias("a"), "block_key")
    e = entity_keys.select(F.col("id").alias("b"), "block_key")
    if ok_keys is not None:
        m = m.join(ok_keys, "block_key", "left_semi")
        e = e.join(ok_keys, "block_key", "left_semi")
    if max_candidates_per_mention is None:
        # repartition("a") + dropDuplicates instead of a bare distinct (r8):
        # the same ONE exchange (hash(a) satisfies the (a, b) dedup's
        # clustering requirement), and downstream consumers inherit
        # hash(a), the distribution link_best's groupBy("a") wants. NB: a
        # repartition by column WITHOUT a partition count IS AQE-coalesced
        # on Spark 4.1.2 (only an explicit count pins it), so at
        # small-catalogue sizes the pairs can still land in ONE partition
        # and the links stage's scorer UDFs run single-task.
        return (
            m.join(e, "block_key")
            .select("a", "b")
            .repartition("a")
            .dropDuplicates()
        )
    # ONE exchange for the whole count+rank tail (VERDICT r3 #1b): the key
    # join emits one row per shared (a, b, key); repartitioning that frame
    # by `a` satisfies BOTH the (a, b) aggregation's and the per-`a`
    # window's required distribution, so groupBy and row_number run
    # exchange-free on top — the old shape shuffled the full frame twice
    # (hash(a, b) for the count, then hash(a) for the rank). Balance: the
    # join product per `a` is bounded by the purge caps (a mention's keys x
    # max_entity_block / max_key_pairs), so hash(a) partitions evenly.
    shared = (
        m.join(e, "block_key")
        .repartition("a")
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
    )
    w = Window.partitionBy("a").orderBy(F.desc("n_shared"), "b")
    return (
        shared.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= max_candidates_per_mention)
        .select("a", "b")
    )
