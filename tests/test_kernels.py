"""Differential tests of the numpy blocking kernels against their Spark
references: numpy XXH64 vs F.xxhash64, and the mapInArrow band-key kernel
(operators.blocking.blocking_keys) vs the explode -> groupBy(id)
minhash_band_keys_exploded reference, compared as key multisets."""

from __future__ import annotations

import random
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from blink_reloaded_spark.functions.hashing import (
    PERMS,
    XXH_MAX_BYTES,
    XXH_SEED,
    minhash_band_keys_exploded,
    minhash_band_keys_np,
    poly_hash,
    xxhash64_mod,
    xxhash64_np,
)
from blink_reloaded_spark.functions.text import char_shingles, normalize_text
from blink_reloaded_spark.operators.blocking import blocking_keys

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
