"""Blocking: gold-pair recall, skew bounding, key portability."""

from __future__ import annotations

from pyspark.sql import functions as F

from blink_reloaded_spark import datagen
from blink_reloaded_spark.operators.blocking import (
    blocking_keys,
    candidate_pairs,
    mention_entity_candidates,
)
from blink_reloaded_spark.plans.pipeline import ENTITY_ID_OFFSET, _prefix_key


def test_blocking_recall_on_fixture(spark):
    """Every gold (mention, entity) pair must co-occur in some block —
    the blocking-recall metric (A2 analogue, SURVEY.md §7.1.3)."""
    cat = datagen.EntityCatalog.build(n_entities=30)
    tr, me = datagen.generate_transcripts(
        spark, cat, n_convs=30, turns_per_conv=8, hot_conv_factor=5
    )
    ments = me.select(
        F.col("mention_id").alias("id"), F.col("mention").alias("text")
    )
    ents = cat.entities_df(spark).select(
        (F.lit(ENTITY_ID_OFFSET) - F.col("entity_id")).alias("id"),
        F.lower("title").alias("text"),
    )
    kw = dict(bands=12, rows=1, shingle_k=3)
    mk = blocking_keys(ments.withColumn("pk", _prefix_key("text")), extra_key_cols=["pk"], **kw)
    ek = blocking_keys(ents.withColumn("pk", _prefix_key("text")), extra_key_cols=["pk"], **kw)
    cands = mention_entity_candidates(mk, ek)
    gold = me.where("label_id >= 0").select(
        F.col("mention_id").alias("a"),
        (F.lit(ENTITY_ID_OFFSET) - F.col("label_id")).alias("b"),
    )
    n_gold = gold.count()
    missed = gold.join(cands, ["a", "b"], "left_anti").count()
    assert missed / n_gold < 0.01, f"{missed}/{n_gold} gold pairs missed blocking"


def test_candidate_pairs_bounded_on_hot_block(spark):
    """A hot key (one block of n rows) must produce O(n*window) pairs, not
    O(n^2) — the skew bound (north_rule)."""
    n = 3000
    keys = spark.range(n).select(
        F.col("id"), F.lit("HOT").alias("block_key")
    )
    pairs = candidate_pairs(keys, max_block=1000, window=10)
    cnt = pairs.count()
    assert cnt <= n * 10
    assert cnt >= n - 10  # neighbors still covered


def test_candidate_pairs_small_block_full_cross(spark):
    keys = spark.range(5).select(F.col("id"), F.lit("b").alias("block_key"))
    assert candidate_pairs(keys, max_block=1000).count() == 10  # C(5,2)


def test_autotuned_blocking_at_1e5(spark):
    """VERDICT r1 #8: at >=10^5 entities the autotuned config must (a) bound
    the entity blocks that reach the KB join and (b) keep blocking recall on
    gold (alias -> its entity) pairs."""
    from pyspark.sql import functions as F

    from blink_reloaded_spark import datagen
    from blink_reloaded_spark.operators.blocking import (
        auto_blocking_params,
        blocking_keys,
    )

    from blink_reloaded_spark.plans.pipeline import _prefix_key

    cat = datagen.EntityCatalog.build(n_entities=100_000)
    params = auto_blocking_params(len(cat.entities))
    assert params["rows"] >= 2  # squared key space above the small regime
    cap = 2_000

    ent = (
        cat.entities_df(spark)
        .select(F.col("entity_id").alias("id"), F.lower("title").alias("text"))
        .withColumn("pfx", _prefix_key("text"))
        .repartition(16)
        .localCheckpoint()
    )
    ek = blocking_keys(ent, extra_key_cols=["pfx"], **params).localCheckpoint()
    sizes = ek.groupBy("block_key").agg(F.count("*").alias("esz"))
    surviving = sizes.where(F.col("esz") <= cap)
    # (a) purge leaves only bounded blocks, and drops few DISTINCT keys
    n_blocks = sizes.count()
    n_purged = n_blocks - surviving.count()
    assert n_purged / n_blocks < 0.001, (n_purged, n_blocks)

    # (b) gold-pair blocking recall through SURVIVING keys: sampled typo'd
    # alias surfaces must share >= 1 surviving band key with their entity
    rng = __import__("random").Random(5)
    sample = rng.sample(cat.aliases, 2_000)
    al = spark.createDataFrame(
        [(a["entity_id"], a["surface"].lower()) for a in sample],
        "gold long, text string",
    ).select(F.monotonically_increasing_id().alias("id"), "gold", "text")
    al = al.withColumn("pfx", _prefix_key("text"))
    mk = (
        blocking_keys(al, extra_key_cols=["pfx"], **params)
        .join(surviving.select("block_key"), "block_key", "left_semi")
        .join(al.select("id", "gold"), "id")
        .select("id", "gold", F.col("block_key").alias("bk"))
    )
    ek2 = ek.select(F.col("id").alias("eid"), F.col("block_key").alias("ebk"))
    hits = mk.join(
        ek2, (F.col("gold") == F.col("eid")) & (F.col("bk") == F.col("ebk"))
    )
    # distinct alias ids whose gold entity shares a surviving key
    n_hit = hits.select("id").distinct().count()
    recall = n_hit / len(sample)
    assert recall >= 0.99, recall


def test_purged_block_keys_one_pass_equivalence(spark):
    """r5: the one-pass conditional-agg purge (purged_block_keys over the
    flagged union) must keep exactly the keys the per-side groupBy shape
    keeps, and the resulting candidate set must be identical."""
    from blink_reloaded_spark.operators.blocking import purged_block_keys

    cat = datagen.EntityCatalog.build(n_entities=60)
    tr, me = datagen.generate_transcripts(
        spark, cat, n_convs=30, turns_per_conv=8, hot_conv_factor=5
    )
    ments = me.select(
        F.col("mention_id").alias("id"), F.col("mention").alias("text")
    )
    ents = cat.entities_df(spark).select(
        (F.lit(ENTITY_ID_OFFSET) - F.col("entity_id")).alias("id"),
        F.lower("title").alias("text"),
    )
    kw = dict(bands=12, rows=1, shingle_k=3)
    mk = blocking_keys(ments, **kw).localCheckpoint()
    ek = blocking_keys(ents, **kw).localCheckpoint()
    caps = dict(max_entity_block=5, max_key_pairs=200,
                max_candidates_per_mention=8)

    flagged = mk.withColumn("is_mention", F.lit(True)).unionByName(
        ek.withColumn("is_mention", F.lit(False))
    )
    ok = purged_block_keys(flagged, caps["max_entity_block"],
                           caps["max_key_pairs"]).localCheckpoint()
    # reference: per-side sizing, one groupBy per key table
    esz = ek.groupBy("block_key").agg(F.count("*").alias("esz"))
    msz = mk.groupBy("block_key").agg(F.count("*").alias("msz"))
    ref = esz.join(msz, "block_key").where(
        (F.col("esz") * F.col("msz") <= caps["max_key_pairs"])
        & (F.col("esz") <= caps["max_entity_block"])
    ).select("block_key")
    k = caps["max_candidates_per_mention"]
    got = sorted(map(tuple, mention_entity_candidates(
        mk, ek, ok_keys=ok, max_candidates_per_mention=k
    ).collect()))
    want = sorted(map(tuple, mention_entity_candidates(
        mk, ek, ok_keys=ref, max_candidates_per_mention=k
    ).collect()))
    assert got == want and len(got) > 0
