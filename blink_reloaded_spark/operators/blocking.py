"""Blocking — the bi-encoder retrieval analogue (SURVEY.md J7/J8; reference
`blink/main_dense.py:238-262` full-matmul/FAISS top-k, `blink/
candidate_generation.py:68-115` BM25 token-overlap).

The "index" is a table: every record emits blocking keys (MinHash-LSH bands
over char shingles, random-hyperplane embedding buckets, or a cheap prefix
key); candidate pairs are an equi-self-join on the key. The MinHash band keys
come from one Arrow-batched numpy kernel (hashing.minhash_band_keys_np, run
through mapInArrow, bit-identical to the Column-expression reference
hashing.minhash_band_keys_exploded); text normalization and the extra keys
stay JVM Column expressions.

Skew handling (north_rule): hot keys (a mention surface occurring millions of
times at 10^12 scale would make one block quadratic) are bounded by
`max_block`: oversized blocks switch from full pairing to **sorted-
neighborhood windowed pairing** (each member pairs with its `window` nearest
neighbors in signature order). This is the same cost bound the reference gets
from top-k retrieval (O2): candidate count is O(n·w), never O(n²), and the
oversized block is SALTED into ~max_block-sized sub-blocks (salt = hash(id)
mod ceil(size/max_block)) so no single task owns a hot key — the north
rule's salted repartitioning. AQE skew-join splitting handles residual
imbalance on the equi-join paths; the scorer input is additionally
rebalanced round-robin in the pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blink_reloaded_spark.functions.hashing import minhash_band_keys_np
from blink_reloaded_spark.functions.text import normalize_text


def blocking_keys(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    bands: int = 8,
    rows: int = 2,
    shingle_k: int = 4,
    extra_key_cols: list[str] | None = None,
    hash_fn=None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Emit (id, [carry_cols...], block_key) — one row per LSH band key
    (plus any extra keys such as hyperplane buckets or prefix keys passed
    as columns; NULL extra keys are dropped). `df` holds one row per id.
    `hash_fn`: base string hash for the MinHash kernel (default portable
    poly_hash; pass hashing.xxhash64_mod for the production fast path).
    `carry_cols`: id-functional columns carried through the keying at zero
    extra shuffle — lets a caller key the UNION of two record sets in ONE
    pass and split by flag afterwards."""
    # normalize once per row in the JVM; the numpy kernel shingles, hashes,
    # min-permutes and formats the band keys in the same map pass
    keyed = minhash_band_keys_np(
        df.withColumn("__bk_nt", normalize_text(F.col(text_col))),
        id_col,
        "__bk_nt",
        bands,
        rows,
        shingle_k,
        hash_fn=hash_fn,
        carry_cols=carry_cols,
    )
    if extra_key_cols:
        extra = df.select(
            F.col(id_col).alias("id"),
            *[F.col(c) for c in (carry_cols or [])],
            F.explode(F.array(*[F.col(c).cast("string") for c in extra_key_cols])).alias(
                "block_key"
            ),
        ).where(F.col("block_key").isNotNull())
        keyed = keyed.unionByName(extra)
    return keyed


def candidate_pairs(
    keys: DataFrame,
    max_block: int = 1000,
    window: int = 20,
) -> DataFrame:
    """Self-join on block_key -> distinct (a, b) pairs with a < b.

    Blocks larger than `max_block` use sorted-neighborhood windowed pairing
    (O(n·window) pairs) instead of the full O(n²) cross — the skew bound.
    """
    sized = keys.withColumn("bsize", F.count("*").over(Window.partitionBy("block_key")))

    small = sized.where(F.col("bsize") <= max_block).drop("bsize")
    l = small.select(F.col("block_key"), F.col("id").alias("a"))
    r = small.select(F.col("block_key"), F.col("id").alias("b"))
    full_pairs = l.join(r, "block_key").where(F.col("a") < F.col("b"))

    # SALTED REPARTITIONING (north_rule): a hot block would otherwise be a
    # single window task — salt it into ~max_block-sized sub-blocks
    # (salt = hash(id) mod ceil(bsize/max_block)) and run the sorted-
    # neighborhood pairing within (block_key, salt). Each sub-block is one
    # bounded task; the cost is the loss of cross-salt neighbor pairs,
    # the same recall-for-boundedness trade the reference makes with top-k
    # retrieval (O2).
    big = sized.where(F.col("bsize") > max_block)
    n_salt = F.ceil(F.col("bsize") / F.lit(max_block)).cast("long")
    big = big.withColumn("salt", F.pmod(F.xxhash64("id"), n_salt)).drop("bsize")
    w = Window.partitionBy("block_key", "salt").orderBy("id")
    neighbor_cols = [F.lead("id", i).over(w).alias(f"n{i}") for i in range(1, window + 1)]
    windowed = (
        big.select("block_key", "salt", "id", *neighbor_cols)
        .select(
            "block_key",
            F.col("id").alias("a"),
            F.explode(
                F.array_compact(F.array(*[F.col(f"n{i}") for i in range(1, window + 1)]))
            ).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
    )

    return (
        full_pairs.select("a", "b")
        .unionByName(windowed.select("a", "b"))
        .distinct()
    )


def auto_blocking_params(n_catalogue: int) -> dict[str, int]:
    """Blocking config from catalogue size (VERDICT r1 #8: the k=2 shingle
    key space ~1.3k makes band buckets hot above ~10^4 entities — that
    caveat is now code, not a comment).

    Measured on the 100k-entity synthetic catalogue (459k alias surfaces,
    gold pairs = typo'd aliases incl. 2-char insertions, prefix key on):

      k=2 rows=1 bands=12: max block 26.5k (26% of the catalogue) — hot
      k=3 rows=2 bands=16: blocked recall 0.970, purged keys 33/424k
      k=3 rows=1 bands=16: blocked recall 0.990, purged 113/117k
      k=2 rows=2 bands=24: blocked recall 0.9995, purged  86/164k  <- pick

    rows=2 squares the per-band key space (kills the k=2 hot buckets) while
    k=2 shingles keep typo jaccard high; 24 bands buy the recall back
    (miss ~ (1-j^2)^24). Residual hot blocks are min-hash concentration on
    common suffix shingles (' inc', ' ltd') — non-discriminative by
    construction; they are bounded by block purging
    (purged_block_keys), not by longer shingles (which would cost
    typo recall). Asserted at 10^5 entities in
    tests/test_blocking.py::test_autotuned_blocking_at_1e5.
    """
    if n_catalogue < 20_000:
        return {"shingle_k": 2, "rows": 1, "bands": 12}
    if n_catalogue < 200_000:
        return {"shingle_k": 2, "rows": 2, "bands": 24}
    # very large catalogues: cube-ish key space; recall rides on more bands
    # + the prefix key + purge-capped buckets
    return {"shingle_k": 3, "rows": 2, "bands": 24}


def purged_block_keys(
    flagged_keys: DataFrame,
    max_entity_block: int | None = None,
    max_key_pairs: int | None = None,
) -> DataFrame:
    """Surviving block keys from a FLAGGED key table (id, is_mention,
    block_key), for mention_entity_candidates' `ok_keys`: per-key mention
    and entity counts in ONE conditional aggregation — one exchange and one
    scan of the (large) key table, where per-side groupBys cost two of each
    (r5 plan audit).

    `max_entity_block` is BLOCK PURGING (the standard record-linkage
    bound, cf. JedAI/Dedoop block purging): block keys shared by more than
    this many ENTITIES are dropped before the join. Such blocks come from
    non-discriminative keys (min-hash concentration on common suffix
    shingles) and would dominate join cost while adding ~no precision; every
    record still carries its other band keys + the prefix key, which is
    where true-match recall lives. Bounds the per-key join fan-out to
    |mentions_key| * max_entity_block.

    `max_key_pairs` is COMPARISON-LEVEL purging: drop keys whose join
    product |mentions_key| * |entities_key| exceeds the cap. Sharper than
    the entity-only bound — a 400-entity key met by 9k mention surfaces is
    3.6M comparisons from ONE non-discriminative key. Measured at 20k
    entities / 92k alias surfaces: raw product 325M pairs; cap 1M -> 106M
    at gold blocked-recall 0.9993, cap 200k -> 56M at 0.9985, cap 50k ->
    34M at 0.9971 (gold pairs share their RARE keys, so hot-key loss is
    tiny; per-record block filtering, by contrast, collapsed recall to 0.79
    because a typo'd alias's smallest buckets are exactly its UNSHARED
    keys)."""
    sz = flagged_keys.groupBy("block_key").agg(
        F.count(F.when(F.col("is_mention"), 1)).alias("msz"),
        F.count(F.when(~F.col("is_mention"), 1)).alias("esz"),
    )
    cond = F.lit(True)
    if max_entity_block is not None:
        cond = cond & (F.col("esz") <= max_entity_block)
    if max_key_pairs is not None:
        cond = cond & (F.col("esz") * F.col("msz") <= max_key_pairs)
    return sz.where(cond).select("block_key")


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
