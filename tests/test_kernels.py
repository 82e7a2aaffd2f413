"""Differential tests of the numpy blocking kernels against their Spark
references: numpy XXH64 vs F.xxhash64, the mapInArrow band-key kernel
(operators.blocking.blocking_keys) vs the explode -> groupBy(id)
minhash_band_keys_exploded reference of tests/hashing_reference.py,
compared as key multisets, pair_cos_np vs the dot product of stored
hashed_embedding_udf vectors, and the KB join's probe kernel
(LinkagePipeline.build_candidates_from) vs the key equi-join of
tests/blocking_reference.py."""

from __future__ import annotations

import random
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from blink_reloaded_spark.functions.hashing import (
    PERMS,
    XXH_MAX_BYTES,
    XXH_SEED,
    minhash_band_keys_np,
    poly_hash,
    xxhash64_mod,
    xxhash64_np,
)
from blink_reloaded_spark.functions.embedding import (
    dot_product_udf,
    hashed_embedding_udf,
    pair_cos_from_text_udf,
    pair_cos_np,
    pair_cos_take_np,
)
from blink_reloaded_spark.functions.similarity import (
    jaro_winkler_np,
    jaro_winkler_take_np,
    jaro_winkler_udf,
)
from blink_reloaded_spark.functions.text import char_shingles, normalize_text, tokens
from blink_reloaded_spark.operators.blocking import blocking_keys, purged_block_keys
from blink_reloaded_spark.plans.pipeline import ENTITY_ID_OFFSET, LinkagePipeline
from blocking_reference import mention_entity_candidates
from hashing_reference import minhash_band_keys_exploded

# code point pools by UTF-8 width; the 3-byte pool skips the surrogates
_POOLS = {
    1: (0x20, 0x7E),
    2: (0x80, 0x7FF),
    3: (0x800, 0xD7FF),
    4: (0x10000, 0x10FFFF),
}
_CLASSES = {"ascii": (1,), "bmp": (1, 2, 3), "non_bmp": (1, 2, 3, 4)}


def _random_utf8(rng: random.Random, n_bytes: int, widths: tuple[int, ...]) -> str:
    """A random string of exactly `n_bytes` UTF-8 bytes from `widths`."""
    out = []
    left = n_bytes
    while left:
        w = rng.choice([w for w in widths if w <= left])
        lo, hi = _POOLS[w]
        out.append(chr(rng.randint(lo, hi)))
        left -= w
    return "".join(out)


def test_xxhash64_np_matches_spark(spark):
    """>= 10k strings in every UTF-8 length class 0..31 bytes (ASCII, BMP,
    non-BMP); a NULL input hashes to the seed."""
    rng = random.Random(11)
    strs = [
        _random_utf8(rng, n, widths)
        for widths in _CLASSES.values()
        for n in range(XXH_MAX_BYTES + 1)
        for _ in range(110)
    ]
    assert len(strs) >= 10_000
    enc = [s.encode() for s in strs]
    assert {len(b) for b in enc} == set(range(XXH_MAX_BYTES + 1))
    lens = np.array([len(b) for b in enc])
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    got = xxhash64_np(np.frombuffer(b"".join(enc), dtype=np.uint8), starts, lens)
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs + [None])], "i long, s string"
    )
    want = [r["h"] for r in df.orderBy("i").select(F.xxhash64("s").alias("h")).collect()]
    assert got.tolist() == want[:-1]
    assert want[-1] == XXH_SEED


def test_xxhash64_np_rejects_long_inputs():
    data = np.zeros(XXH_MAX_BYTES + 1, dtype=np.uint8)
    with pytest.raises(ValueError, match="bytes"):
        xxhash64_np(data, np.array([0]), np.array([XXH_MAX_BYTES + 1]))


def _edge_rows() -> list[tuple[int, bool, str | None]]:
    texts = [
        None,                       # NULL text
        "",                         # '' shingle
        "a",                        # shorter than every k
        "ab",
        "aaaaaaa",                  # repeated shingles
        "abab abab",
        "  Acme   CORP  ",          # normalized in the JVM first
        "naïve café résumé",        # accented (2-byte)
        "中文",                     # CJK, no [a-z0-9] token
        "東京 tower",
        "a😀b😀c",                  # non-BMP
        "😀",
        "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝔱𝔢𝔵𝔱",
        "the quick brown fox jumps over the lazy dog",
        "acme corp",                # exact dup of the normalized row above
    ]
    rng = random.Random(3)
    texts += [
        _random_utf8(rng, rng.randint(0, 40), _CLASSES[c])
        for c in ("ascii", "bmp", "non_bmp")
        for _ in range(40)
    ]
    return [(i, i % 2 == 0, t) for i, t in enumerate(texts)]


@pytest.mark.parametrize("hash_fn", [poly_hash, xxhash64_mod], ids=["poly", "xxh"])
@pytest.mark.parametrize(
    "bands,rows,k", [(8, 1, 2), (12, 1, 2), (12, 1, 3), (24, 2, 2), (24, 2, 3)]
)
def test_band_key_kernel_matches_reference(spark, hash_fn, bands, rows, k):
    df = spark.createDataFrame(
        _edge_rows(), "id long, flag boolean, text string"
    ).repartition(3)
    ref = minhash_band_keys_exploded(
        df.withColumn("nt", normalize_text(F.col("text"))),
        "id",
        char_shingles(F.col("nt"), k=k, normalize=False),
        bands,
        rows,
        hash_fn=hash_fn,
        carry_cols=["flag"],
    )
    got = blocking_keys(
        df, bands=bands, rows=rows, shingle_k=k, hash_fn=hash_fn, carry_cols=["flag"]
    )
    want = Counter(map(tuple, ref.select("id", "flag", "block_key").collect()))
    have = Counter(map(tuple, got.select("id", "flag", "block_key").collect()))
    assert have == want
    # the NULL row: dropped under poly_hash, keyed by the seed under xxhash64
    assert any(i == 0 for i, _, _ in have) == (hash_fn is xxhash64_mod)


def test_band_key_kernel_rejects_unknown_hash_fn(spark):
    df = spark.createDataFrame([(1, "x")], "id long, text string")
    with pytest.raises(ValueError, match="hash_fn"):
        minhash_band_keys_np(df, "id", "text", 8, 1, 2, hash_fn=lambda c: F.xxhash64(c))


def test_band_key_kernel_rejects_too_many_hashes(spark):
    df = spark.createDataFrame([(1, "x")], "id long, text string")
    minhash_band_keys_np(df, "id", "text", len(PERMS), 1, 2)
    with pytest.raises(ValueError, match="num_hashes"):
        minhash_band_keys_np(df, "id", "text", len(PERMS) // 2 + 1, 2, 2)


def test_band_key_kernel_rejects_k_outside_exact_domain(spark):
    """XXH64's short path covers 31 UTF-8 bytes (k=7 four-byte code points);
    the int64 Horner behind poly_hash is exact up to k=9."""
    df = spark.createDataFrame([(1, "x")], "id long, text string")
    minhash_band_keys_np(df, "id", "text", 8, 1, 7, hash_fn=xxhash64_mod)
    with pytest.raises(ValueError, match="k must"):
        minhash_band_keys_np(df, "id", "text", 8, 1, 8, hash_fn=xxhash64_mod)
    minhash_band_keys_np(df, "id", "text", 8, 1, 9, hash_fn=poly_hash)
    for k in (0, 10):
        with pytest.raises(ValueError, match="k must"):
            minhash_band_keys_np(df, "id", "text", 8, 1, k, hash_fn=poly_hash)


def test_pair_cos_np_equals_stored_vector_dot(spark):
    """pair_cos_np (the KB-free chain's cos, and through
    test_take_kernels_equal_pair_kernels the probe kernel's) and
    pair_cos_from_text_udf are
    bit-identical to dot_product_udf over stored hashed_embedding_udf
    vectors of the same pairs: the join path the recompute replaced."""
    texts = [t for _, _, t in _edge_rows()] + ["x" * 300, "ABC Corp", "abc corp"]
    rng = random.Random(5)
    pairs = [(rng.choice(texts), rng.choice(texts)) for _ in range(400)]
    df = spark.createDataFrame(pairs, "a string, b string").repartition(3)
    rows = (
        df.withColumn("va", hashed_embedding_udf("a"))
        .withColumn("vb", hashed_embedding_udf("b"))
        .select(
            "a", "b",
            dot_product_udf("va", "vb").alias("stored"),
            pair_cos_from_text_udf("a", "b").alias("udf"),
        )
        .collect()
    )
    got = pair_cos_np(pd.Series([r["a"] for r in rows]), pd.Series([r["b"] for r in rows]))
    assert got.tolist() == [r["stored"] for r in rows] == [r["udf"] for r in rows]
    assert len(pair_cos_np(pd.Series([], dtype=object), pd.Series([], dtype=object))) == 0


@pytest.mark.parametrize("tile", [2048, 7])
def test_take_kernels_equal_pair_kernels(tile):
    """The probe kernel's pair features over positions into two text lists
    (jaro_winkler_take_np, pair_cos_take_np) equal the pair-text kernels
    over the gathered pairs, bit for bit: mixed ASCII / BMP / non-BMP
    lists, NULL and empty texts, strings past MAX_LEN, and tiles that cut
    the pairs."""
    rng = random.Random(11)
    texts = [t for _, _, t in _edge_rows()] + ["x" * 300, "ABC Corp", "", None]
    a_texts = pd.Series(texts)
    b_texts = pd.Series(["abc corp", "中文", "a😀b", "x" * 70, "q"])
    ai = np.array([rng.randrange(len(a_texts)) for _ in range(300)])
    bi = np.array([rng.randrange(len(b_texts)) for _ in range(300)])
    a = a_texts.iloc[ai].reset_index(drop=True)
    b = b_texts.iloc[bi].reset_index(drop=True)
    assert np.array_equal(
        jaro_winkler_take_np(a_texts, ai, b_texts, bi, tile=tile),
        jaro_winkler_np(a, b, tile=tile),
    )
    assert np.array_equal(pair_cos_take_np(a_texts, ai, b_texts, bi), pair_cos_np(a, b))
    none = np.zeros(0, dtype=np.int64)
    assert len(jaro_winkler_take_np(a_texts, none, b_texts, none)) == 0
    assert len(pair_cos_take_np(a_texts, none, b_texts, none)) == 0


# a small alphabet makes shared keys, purged keys and n_shared ties common
_probe_text = st.text(alphabet="ab c", min_size=1, max_size=7)
_probe_special = st.sampled_from(["中文", "a😀b", "😀 ab", "𝔞𝔟 ab", "ab", "abc"])
_probe_texts = st.lists(st.one_of(_probe_text, _probe_special), max_size=10)


def _probe_surfaces(spark, mentions: list[str], entities: list[str]):
    rows = [(t, True) for t in dict.fromkeys(mentions)]
    rows += [(t, False) for t in entities]
    df = spark.createDataFrame(
        [(i, t, m) for i, (t, m) in enumerate(rows)],
        "i long, text string, is_mention boolean",
    )
    return df.select(
        F.when(F.col("is_mention"), F.xxhash64(F.lit("surf"), "text"))
        .otherwise(F.lit(ENTITY_ID_OFFSET) - F.col("i"))
        .alias("id"),
        "text",
        "is_mention",
        tokens(F.col("text")).alias("tk"),
    ).localCheckpoint()


@settings(max_examples=10, deadline=None)
@given(
    mentions=_probe_texts.filter(bool),
    entities=_probe_texts,
    purge=st.booleans(),
    top_k=st.sampled_from([None, 1, 2]),
    budget=st.sampled_from([None, 1]),
)
# ties in n_shared (top-1 keeps the smaller entity id), and a mention with
# no hits ("zz")
@example(mentions=["ab", "zz"], entities=["ab", "ab", "abc"], purge=False, top_k=1,
         budget=None)
# empty entity side
@example(mentions=["ab c"], entities=[], purge=True, top_k=2, budget=None)
# NULL prefix key and non-BMP text, with purge
@example(mentions=["中文", "a😀b", "𝔞𝔟 ab"], entities=["中文", "a😀b c", "ab"],
         purge=True, top_k=None, budget=None)
# a forced shard split (one shard per entity), with and without top-k
@example(mentions=["ab", "abc", "b c"], entities=["ab", "abc", "a b", "c"],
         purge=False, top_k=2, budget=1)
@example(mentions=["ab", "abc", "b c"], entities=["ab", "abc", "a b", "c"],
         purge=True, top_k=None, budget=1)
def test_probe_kernel_matches_key_join(spark, mentions, entities, purge, top_k, budget):
    """The probe kernel's candidate set equals the key equi-join's over the
    same keys and purge-surviving keys, and its jw / cos equal the scorer
    UDFs' on every candidate pair."""
    caps = dict(max_entity_block=2, max_key_pairs=6) if purge else {}
    pipe = LinkagePipeline(
        spark, bands=4, rows=1, shingle_k=2, max_candidates_per_mention=top_k, **caps
    )
    surf = _probe_surfaces(spark, mentions, entities)
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    if budget is not None:
        spark.conf.set(conf, f"{budget}b")  # the byte-string form of Spark's default
    try:
        got = pipe.build_candidates_from(surf).localCheckpoint()
        got_rows = got.collect()
    finally:
        spark.conf.set(conf, old)
    if budget is not None and len(entities) >= 2:
        assert pipe.metrics["index_shards"] >= 2

    keys = pipe._blocking_keys(surf, carry_cols=["is_mention"])
    ok = purged_block_keys(keys, **caps) if purge else None
    want = mention_entity_candidates(
        keys.where("is_mention").select("id", "block_key"),
        keys.where("NOT is_mention").select("id", "block_key"),
        ok_keys=ok,
        max_candidates_per_mention=top_k,
    )
    assert sorted((r["a"], r["b"]) for r in got_rows) == sorted(
        map(tuple, want.collect())
    )
    text = surf.select("id", "text")
    scored = (
        got.join(text.toDF("a", "a_text"), "a")
        .join(text.toDF("b", "b_text"), "b")
        .select(
            "jw", "cos",
            jaro_winkler_udf("a_text", "b_text").alias("jw_udf"),
            pair_cos_from_text_udf("a_text", "b_text").alias("cos_udf"),
        )
        .collect()
    )
    assert len(scored) == len(got_rows)
    for r in scored:
        assert (r["jw"], r["cos"]) == (r["jw_udf"], r["cos_udf"])
