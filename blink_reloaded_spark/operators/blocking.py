"""Blocking — the bi-encoder retrieval analogue (SURVEY.md J7/J8; reference
`blink/main_dense.py:238-262` full-matmul/FAISS top-k, `blink/
candidate_generation.py:68-115` BM25 token-overlap).

Two shapes of the same keys. The KB-free self-join keeps the index as a
table: every record emits blocking keys (MinHash-LSH bands over char
shingles, random-hyperplane embedding buckets, or a cheap prefix key) and
candidate pairs are an equi-self-join on the key (`candidate_pairs`). The
mention -> entity join instead probes an index, as the reference probes its
FAISS index once per mention: the entity side is keyed on the driver into
a key -> entity CSR index (`EntityKeyIndex`), and ONE mapInArrow pass over
the mention surfaces (`probe_candidates`) keys each batch, probes the index,
keeps the top-k entities by shared-key count and computes the two Python
features of the pair score (Jaro-Winkler, hashed-embedding cos), so no key
rows are shuffled and the Python boundary is crossed once. Both sides' band
keys come from one numpy kernel (hashing.band_keys_np, bit-identical to the
Column-expression reference in tests/hashing_reference.py); text
normalization and the extra keys stay JVM Column expressions. The key
equi-join the probe replaced is the parity reference in
tests/blocking_reference.py.

KNOWN LIMIT: the driver fetches, keys and holds the whole entity index once
(it reaches the tasks inside the kernel's closure, split into shards above
the session's autoBroadcastJoinThreshold). At the reference's 5.9M titles
and ~25 keys per title that is several GB of driver memory and a
single-core keying pass; a catalogue of that size needs the index built
per key-hash partition instead.

Skew handling (north_rule): hot keys (a mention surface occurring millions of
times at 10^12 scale would make one block quadratic) are bounded by
`max_block`: oversized blocks switch from full pairing to **sorted-
neighborhood windowed pairing** (each member pairs with its `window` nearest
neighbors in signature order). This is the same cost bound the reference gets
from top-k retrieval (O2): candidate count is O(n·w), never O(n²), and the
oversized block is SALTED into ~max_block-sized sub-blocks (salt = hash(id)
mod ceil(size/max_block)) so no single task owns a hot key — the north
rule's salted repartitioning. AQE skew-join splitting handles residual
imbalance on the equi-join paths.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from blink_reloaded_spark.functions.embedding import pair_cos_take_np
from blink_reloaded_spark.functions.hashing import (
    _base_name,
    _check_minhash_contract,
    band_keys_np,
    minhash_band_keys_np,
)
from blink_reloaded_spark.functions.similarity import jaro_winkler_take_np
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
    block_key): per-key mention and entity counts in ONE conditional
    aggregation — one exchange and one scan of the (large) key table, where
    per-side groupBys cost two of each (r5 plan audit) — filtered by
    `purge_keep`. The pipeline applies the same rule to its entity index
    (EntityKeyIndex.purged, counts from mention_key_counts); this table
    form sizes key tables (the benchmark's side counts, the parity
    reference of tests/blocking_reference.py).

    `max_entity_block` is BLOCK PURGING (the standard record-linkage
    bound, cf. JedAI/Dedoop block purging): block keys shared by more than
    this many ENTITIES are dropped from the index. Such blocks come from
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
    keep = purge_keep(F.col("esz"), F.col("msz"), max_entity_block, max_key_pairs)
    return sz.where(keep).select("block_key")


def purge_keep(esz, msz, max_entity_block: int | None, max_key_pairs: int | None):
    """The block purge rule over per-key entity and mention counts, as
    Columns (purged_block_keys) or numpy arrays (EntityKeyIndex.purged)
    alike: keep a key unless it is shared by more than `max_entity_block`
    entities or its join product exceeds `max_key_pairs`."""
    keep = esz >= 0
    if max_entity_block is not None:
        keep = keep & (esz <= max_entity_block)
    if max_key_pairs is not None:
        keep = keep & (esz * msz <= max_key_pairs)
    return keep


# The probe kernel's output: one row per kept (mention, entity) pair with
# its shared-key count and the raw Python features of the pair score.
# LinkagePipeline fingerprints this schema, so a candidates checkpoint
# written under another kernel output is rebuilt, never resumed.
PROBE_SCHEMA = StructType([
    StructField("a", LongType(), False),
    StructField("b", LongType(), False),
    StructField("n_shared", IntegerType(), False),
    StructField("jw", DoubleType(), False),
    StructField("cos", DoubleType(), False),
])
# mention rows per kernel step: every output row is a function of its
# mention row and the index, so the step only bounds the pair working set
# (the JW and embedding kernels tile it further, functions/similarity.TILE)
PROBE_ROWS = 2048


@dataclass(frozen=True)
class KeySpec:
    """How a record is keyed: MinHash-LSH bands over the normalized text
    (band_keys_np with `base`) plus the non-NULL `extra` key columns — the
    keys `blocking_keys` emits with the same parameters."""

    bands: int
    rows: int
    shingle_k: int
    base: str
    extra: tuple[str, ...] = ()

    @classmethod
    def of(
        cls, bands: int, rows: int, shingle_k: int, hash_fn=None,
        extra_key_cols: list[str] | None = None,
    ) -> "KeySpec":
        base = _base_name(hash_fn)
        _check_minhash_contract(shingle_k, bands * rows, base)
        return cls(bands, rows, shingle_k, base, tuple(extra_key_cols or ()))

    def input(self, df: DataFrame) -> DataFrame:
        """(id, text, __nt, extra keys...) of a (id, text, extra...) frame,
        the text normalized in the JVM: the columns `keys` reads from
        index 2 on."""
        return df.select(
            F.col("id").cast("long").alias("id"),
            "text",
            normalize_text(F.col("text")).alias("__nt"),
            *[F.col(c).cast("string") for c in self.extra],
        )

    def keys(self, cols: list) -> tuple[Any, np.ndarray]:
        """(keys, owner): the block keys of a batch whose columns are
        [normalized text, extra keys...], and the row owning each key."""
        import pyarrow as pa

        nt = cols[0]
        keys = [band_keys_np(nt, self.bands, self.rows, self.shingle_k, self.base)]
        owner = [np.repeat(np.arange(len(nt)), self.bands)]
        if self.base == "poly_hash" and nt.null_count:
            # poly_hash of a NULL text's one NULL shingle is NULL: no band keys
            ok = np.repeat(np.asarray(nt.is_valid()), self.bands)
            keys, owner = [keys[0].filter(pa.array(ok))], [owner[0][ok]]
        for col in cols[1:]:
            has = col.is_valid()
            keys.append(col.filter(has).cast(pa.string()))
            owner.append(np.flatnonzero(np.asarray(has)))
        return pa.concat_arrays(keys), np.concatenate(owner)


@dataclass(frozen=True)
class EntityKeyIndex:
    """Block key -> entity CSR index of an entity catalogue: key i's
    entities are ``ent[offs[i]:offs[i + 1]]``, positions into the
    ascending entity ids `ids` and their texts `texts`. A record that the
    catalogue repeats keeps its repeated keys, so shared-key counts equal
    the key equi-join's."""

    keys: Any  # pyarrow string array, distinct block keys
    offs: np.ndarray  # int64, len(keys) + 1
    ent: np.ndarray  # int32 entity positions, grouped by key
    ids: np.ndarray  # int64 entity ids, ascending
    texts: Any  # pyarrow string array aligned with ids

    @classmethod
    def collect(cls, entities: DataFrame, spec: KeySpec) -> "EntityKeyIndex":
        """Build on the driver from `entities` (id, text, spec.extra...):
        ONE JVM-only job fetches the rows with their normalized text, and
        the driver keys them with the numpy kernel the probe runs
        (KeySpec.keys) — no Python tasks, and no key rows through Spark."""
        t = spec.input(entities).toArrow()
        cols = [c.combine_chunks() for c in t.columns]
        keys, owner = spec.keys(cols[2:])
        row_ids = cols[0].to_numpy(zero_copy_only=False).astype(np.int64)
        ids, first = np.unique(row_ids, return_index=True)
        return cls._build(keys, np.searchsorted(ids, row_ids[owner]), ids,
                          cols[1].take(first))

    @classmethod
    def _build(cls, key_strs, epos: np.ndarray, ids: np.ndarray, texts) -> "EntityKeyIndex":
        import pyarrow.compute as pc

        uniq = pc.unique(key_strs)
        kpos = pc.index_in(key_strs, value_set=uniq).to_numpy(zero_copy_only=False)
        offs = np.zeros(len(uniq) + 1, dtype=np.int64)
        np.cumsum(np.bincount(kpos, minlength=len(uniq)), out=offs[1:])
        order = np.argsort(kpos, kind="stable")
        return cls(uniq, offs, epos[order].astype(np.int32), ids, texts)

    def _subset(self, keep_row: np.ndarray, n: int = 1, s: int = 0) -> "EntityKeyIndex":
        """The index over the (key, entity) rows where `keep_row` holds and
        over the entity positions s, s + n, s + 2n, ... (renumbered p // n;
        every kept row's entity must be among them)."""
        krow = np.repeat(np.arange(len(self.keys)), np.diff(self.offs))
        return self._build(
            self.keys.take(krow[keep_row]),
            self.ent[keep_row] // n,
            self.ids[s::n],
            self.texts.take(np.arange(s, len(self.ids), n)),
        )

    @property
    def nbytes(self) -> int:
        return int(
            self.keys.nbytes + self.offs.nbytes + self.ent.nbytes
            + self.ids.nbytes + self.texts.nbytes
        )

    def purged(
        self, msz: np.ndarray, max_entity_block: int | None, max_key_pairs: int | None
    ) -> "EntityKeyIndex":
        """Drop the keys the purge rule (purge_keep) rejects, given each
        key's mention count `msz` (mention_key_counts); a mention key the
        index lacks is then lost to the mentions too, as purged_block_keys'
        two-sided semi-join drops it."""
        keep = purge_keep(np.diff(self.offs), msz, max_entity_block, max_key_pairs)
        if keep.all():
            return self
        return self._subset(np.repeat(keep, np.diff(self.offs)))

    def shards(self, budget: int) -> list["EntityKeyIndex"]:
        """The index as S = ceil(nbytes / budget) shards, entity position
        mod S — disjoint in the entity, so a mention's candidates over the
        shards never repeat a pair. One shard when the index fits `budget`
        or `budget` <= 0 (the session conf's "no limit")."""
        n_ent = len(self.ids)
        if budget <= 0 or self.nbytes <= budget or n_ent < 2:
            return [self]
        n = min(-(-self.nbytes // budget), n_ent)
        return [self._subset(self.ent % n == s, n, s) for s in range(n)]


def mention_key_counts(
    mentions: DataFrame, index: EntityKeyIndex, spec: KeySpec
) -> np.ndarray:
    """Per index key, how many of `mentions` (id, text, spec.extra...)
    carry it — the `msz` of purged_block_keys for every key the index
    holds, from one mapInArrow pass that keys the mentions as the probe
    does and returns one count vector per task (a key the index lacks
    matches nothing whether purged or not, so it is not counted)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n_keys = len(index.keys)

    def count(batches):
        tot = np.zeros(n_keys, dtype=np.int64)
        for batch in batches:
            keys, _ = spec.keys(batch.columns[2:])
            kpos = pc.index_in(keys, value_set=index.keys)
            tot += np.bincount(kpos.filter(kpos.is_valid()).to_numpy(), minlength=n_keys)
        yield pa.RecordBatch.from_arrays([pa.array([tot.tobytes()])], names=["n"])

    parts = spec.input(mentions).mapInArrow(count, "n binary").collect()
    return sum(
        (np.frombuffer(r["n"], dtype=np.int64) for r in parts),
        np.zeros(n_keys, dtype=np.int64),
    )


def _probe_batch(batch, index: EntityKeyIndex, spec: KeySpec, top_k: int | None):
    """One kernel step over a batch of (id, text, nt, extra keys...) mention
    rows -> the PROBE_SCHEMA batch, or None when no row has a candidate."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys, owner = spec.keys(batch.columns[2:])
    kpos = pc.index_in(keys, value_set=index.keys)
    hit = np.asarray(kpos.is_valid())
    if not hit.any():
        return None
    kpos = kpos.filter(pa.array(hit)).to_numpy().astype(np.int64)
    starts = index.offs[kpos]
    cnt = index.offs[kpos + 1] - starts
    ends = np.cumsum(cnt)
    epos = index.ent[np.repeat(starts - (ends - cnt), cnt) + np.arange(int(ends[-1]))]
    # (mention row, entity position) -> shared-key count; np.unique sorts
    # by row, then entity position, which orders like entity id
    n_ent = len(index.ids)
    code, n_shared = np.unique(np.repeat(owner[hit], cnt) * n_ent + epos, return_counts=True)
    row, ep = code // n_ent, code % n_ent
    if top_k is not None:
        order = np.lexsort((ep, -n_shared, row))
        row, ep, n_shared = row[order], ep[order], n_shared[order]
        keep = np.arange(len(row)) - np.searchsorted(row, row) < top_k
        row, ep, n_shared = row[keep], ep[keep], n_shared[keep]
    # the pair features read each string once: a mention surface repeats
    # once per candidate, an entity once per mention that hits it, so the
    # pairs gather rows of the batch's texts and of its distinct entities
    a_text = batch.column(1).to_pandas()
    ue, bi = np.unique(ep, return_inverse=True)
    b_text = index.texts.take(pa.array(ue)).to_pandas()
    ids = batch.column(0).to_numpy().astype(np.int64)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ids[row]),
            pa.array(index.ids[ep]),
            pa.array(n_shared, pa.int32()),
            # jaro_winkler_udf's value and pair_cos_from_text_udf's raw
            # dot product: the scorer rounds and clamps cos in the JVM
            pa.array(np.round(jaro_winkler_take_np(a_text, row, b_text, bi), 6)),
            pa.array(pair_cos_take_np(a_text, row, b_text, bi)),
        ],
        names=PROBE_SCHEMA.fieldNames(),
    )


def probe_candidates(
    mentions: DataFrame,
    shards: list[EntityKeyIndex],
    spec: KeySpec,
    top_k: int | None = None,
) -> DataFrame:
    """Candidate (mention, entity) pairs with their shared-key count and
    raw JW and cos features (PROBE_SCHEMA), from ONE mapInArrow pass per
    index shard over `mentions` (id, text, spec.extra...).

    Per Arrow batch the kernel keys every mention exactly as
    `blocking_keys` would with the same parameters (KeySpec.keys over the
    JVM-normalized text and the extra keys), probes the index
    (pc.index_in, then the CSR ranges), counts shared keys per (mention,
    entity) and keeps the `top_k` entities by (n_shared desc, b asc), the
    reference's top-k retrieval bound (O2, `blink/main_dense.py:238-262`).
    Then it scores only those pairs: `jw` is jaro_winkler_udf's value,
    `cos` the unrounded dot product pair_cos_from_text_udf returns. The
    candidate set equals the key equi-join over the same keys (parity
    reference and differential test in tests/).

    A key absent from the index (purged, or entity-less) matches nothing,
    so a purged index purges both sides. The mention rows are spread
    round-robin over defaultParallelism partitions: the kernel is the
    whole candidate-and-verify cost, and a coalesced surface table would
    run it on one core. The index rides in the kernel's closure (PySpark
    ships a command over 1 MB as a broadcast that is freed with the plan),
    so it lives no longer than the frame.

    `shards` is `EntityKeyIndex.shards(budget)`: one kernel pass per shard,
    unioned. The shards are disjoint in the entity, so no (a, b) repeats;
    with several shards and `top_k` set, one per-`a` window keeps the
    global top-k of the per-shard top-k."""
    par = mentions.sparkSession.sparkContext.defaultParallelism
    inp = spec.input(mentions.select("id", "text", *spec.extra).repartition(par))

    def kernel(index: EntityKeyIndex):
        def probe(batches):
            for batch in batches:
                for lo in range(0, batch.num_rows, PROBE_ROWS):
                    out = _probe_batch(batch.slice(lo, PROBE_ROWS), index, spec, top_k)
                    if out is not None:
                        yield out

        return probe

    out = None
    for index in shards:
        part = inp.mapInArrow(kernel(index), PROBE_SCHEMA)
        out = part if out is None else out.unionByName(part)
    if len(shards) > 1 and top_k is not None:
        w = Window.partitionBy("a").orderBy(F.desc("n_shared"), "b")
        out = (
            out.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= top_k)
            .drop("__r")
        )
    return out
