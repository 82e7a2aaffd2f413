"""Column-expression MinHash / SimHash references for the parity tests: the
explode -> groupBy(id) signature table, its band keys and signature
arrays, the zip_with signature agreement and the per-bit SimHash that
`functions.hashing`'s numpy kernels and flat forms compute in one pass.
Each shingle is hashed in place by the base hash."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from blink_reloaded_spark.functions.hashing import perm_hash, poly_hash


def simhash64(toks: Column, nbits: int = 32) -> Column:
    """Portable SimHash over a token array (nbits <= 62, default 32).

    bit_j is set iff the majority of token hashes have parity 1 under
    permutation j: ((a_j*h + b_j) % P) & 1. Hamming distance between two
    simhashes = bit_count(x ^ y) — both Spark and DuckDB have bit_count/xor.
    """
    hashes = F.transform(toks, poly_hash)
    n = F.size(hashes)

    def _parity_count(j: int):
        return F.size(F.filter(hashes, lambda h: perm_hash(h, j) % F.lit(2) == F.lit(1)))

    out = F.lit(0).cast("long")
    for j in range(nbits):
        bit = (_parity_count(j) * F.lit(2) > n).cast("long")
        out = out + bit * F.lit(1 << j)
    return out


def id_shingle_hashes(df, id_col: str, shingles: Column, hash_fn=None,
                      carry_cols: list[str] | None = None):
    """(id, [carry_cols...], h): one row per (id, shingle), h the base hash
    (default poly_hash) of the shingle. A NULL hash drops its row:
    char_shingles of NULL text is one NULL shingle, which poly_hash maps to
    NULL and xxhash64_mod to its seed."""
    hf = hash_fn or poly_hash
    cnames = list(carry_cols or [])
    e = df.select(F.col(id_col).alias("id"), *cnames,
                  F.explode(shingles).alias("s"))
    return e.select("id", *cnames, hf(F.col("s")).alias("h")).where(
        F.col("h").isNotNull()
    )


def minhash_sig_table(
    df, id_col: str, shingles: Column, num_hashes: int, hash_fn=None,
    carry_cols: list[str] | None = None,
):
    """Wide MinHash signature table (id, [carry_cols...], mh0..mh{n-1}):
    explode -> base hash -> groupBy(id) min per permutation. Ids with an
    empty or NULL shingle array never appear; `carry_cols` are id-functional
    columns carried through the groupBy as extra grouping keys."""
    h = id_shingle_hashes(df, id_col, shingles, hash_fn=hash_fn,
                          carry_cols=carry_cols)
    aggs = [
        F.min(perm_hash(F.col("h"), i)).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return h.groupBy("id", *(carry_cols or [])).agg(*aggs)


def band_keys_from_sig_table(sig, bands: int, rows: int,
                             carry_cols: list[str] | None = None):
    """(id, [carry_cols...], block_key) exploded band keys
    '<band>|<v>_<v>...' from a minhash_sig_table frame."""
    keys = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            F.concat_ws(
                "_",
                *[F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)],
            ),
        )
        for b in range(bands)
    ]
    return sig.select("id", *(carry_cols or []),
                      F.explode(F.array(*keys)).alias("block_key"))


def sig_array_from_sig_table(sig, num_hashes: int):
    """(id, sig: array<long>) from a minhash_sig_table frame."""
    return sig.select(
        "id", F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_band_keys_exploded(
    df,
    id_col: str,
    shingles: Column,
    bands: int,
    rows: int,
    hash_fn=None,
    carry_cols: list[str] | None = None,
):
    """(id, [carry_cols...], block_key) MinHash-LSH keys, one row per band:
    the reference for `hashing.minhash_band_keys_np`."""
    sig = minhash_sig_table(df, id_col, shingles, bands * rows,
                            hash_fn=hash_fn, carry_cols=carry_cols)
    return band_keys_from_sig_table(sig, bands, rows, carry_cols=carry_cols)


def sig_agreement(a: Column, b: Column) -> Column:
    """Fraction of agreeing MinHash positions (zip_with form) — the
    reference for `hashing.sig_agreement_flat`."""
    return F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)
    ) / F.size(a).cast("double")
