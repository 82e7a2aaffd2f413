"""Portable hashing primitives: polynomial string hash, MinHash signatures,
LSH band keys, SimHash.

The Column-expression kernels are pure int64 arithmetic (whole-stage
codegen) AND engine-portable: the DuckDB oracle reproduces the exact values,
so LSH blocking itself is correctness-checked, not just smoke-tested. The
numpy kernels (shingle_hashes_np, minhash_np and their two Spark entry
points minhash_sigs_np_udf and minhash_band_keys_np) compute the same
values per Arrow batch in Python, pinned bit-identical to the Column forms
by tests/test_kernels.py and tests/test_functions.py.

Reference analogue: the FAISS ANN index (`blink/indexer/faiss_indexer.py:
47-141`) — here the index *is* a table of band keys; retrieval is an
equi-join on the band key (SURVEY.md J7/J8).

Production note: at 100 TB you swap `poly_hash` for `xxhash64_mod` (one
native JVM hash call per string instead of an interpreted per-char
aggregate; not DuckDB-portable, but reproduced exactly in numpy by
xxhash64_np) — every MinHash kernel below takes the
base hash as the `hash_fn` parameter, and the swap preserves band
SEMANTICS (same candidate sets on a duplicate fixture, pinned by
tests/test_functions.py::test_minhash_xxhash64_band_semantics).
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from blink_reloaded_spark.functions.text import FNV_MOD, normalize_text

# 2^31 - 1 is prime -> (a*h + b) % P with a in [1, P), b in [0, P) is a
# universal-ish permutation family over [0, P).
P = FNV_MOD

_rng = random.Random(42)
# 64 permutation pairs, enough for 16 bands x 4 rows signatures
PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, P), _rng.randrange(0, P)) for _ in range(64)
]


def poly_hash(c: Column) -> Column:
    """Portable polynomial hash of a string: acc = (acc*31 + ascii(ch)) % P.

    NOTE: operates on the raw string column (caller normalizes if wanted).
    """
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(31) + x) % F.lit(P),
    )


def xxhash64_mod(c: Column) -> Column:
    """Production base hash: native xxhash64 folded into [0, P) so the
    `perm_hash` universal family applies unchanged (a*h stays < 2^62).
    ~10x cheaper than `poly_hash`'s interpreted per-char aggregate; NOT
    DuckDB-reproducible, so the oracle-checked queries keep poly_hash
    (xxhash64_np is its numpy twin)."""
    return ((F.xxhash64(c) % F.lit(P)) + F.lit(P)) % F.lit(P)


def perm_hash(h: Column, i: int) -> Column:
    """i-th permutation of a base hash: (a_i*h + b_i) % P (fits int64)."""
    a, b = PERMS[i]
    return (F.lit(a) * h + F.lit(b)) % F.lit(P)


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
                      dedup_shingles: bool | None = None,
                      carry_cols: list[str] | None = None):
    """(id, h): one row per (id, shingle) with the base hash computed ONCE
    per DISTINCT shingle and joined back.

    The interpreted per-char `poly_hash` aggregate dominates MinHash cost;
    on real corpora the shingle vocabulary is orders of magnitude smaller
    than the (doc, shingle) row count (Heaps' law), so hashing the distinct
    vocabulary and equi-joining it back trades ~Nx redundant per-char
    aggregates for one shuffle of skinny rows — AQE broadcasts the hashed
    vocabulary when it is small. Same values as hashing in place (the join
    key IS the shingle), pinned by tests/test_functions.py.
    """
    hf = hash_fn or poly_hash
    carry = [F.col(c) for c in (carry_cols or [])]
    e = df.select(F.col(id_col).alias("id"), *carry,
                  F.explode(shingles).alias("s"))
    if dedup_shingles is None:
        # the distinct-vocabulary pass pays for itself only when the base
        # hash is the INTERPRETED poly_hash aggregate; a native hash_fn
        # (xxhash64_mod) is cheaper than the distinct+join shuffles it
        # would save (r3 measured on the 20k-entity blocking keys). Keyed
        # on the resolved function, not on argument presence: a caller
        # passing poly_hash EXPLICITLY (the oracle-parity path) keeps the
        # optimization (ADVICE r3)
        dedup_shingles = hf is poly_hash
    cnames = list(carry_cols or [])
    if not dedup_shingles:
        return e.select("id", *cnames, hf(F.col("s")).alias("h"))
    dist = e.select("s").distinct().select("s", hf(F.col("s")).alias("h"))
    return e.join(dist, "s").select("id", *cnames, "h")


def minhash_sig_table(
    df, id_col: str, shingles: Column, num_hashes: int, hash_fn=None,
    carry_cols: list[str] | None = None,
):
    """Wide MinHash signature table: (id, [carry_cols...], mh0..mh{n-1})
    via explode -> distinct-shingle hash join -> groupBy(id) with map-side
    partial mins. All expressions stay flat (no nested array lambdas ->
    codegen holds); the one data shuffle is the groupBy(id). Null-free:
    empty-shingle ids never appear after explode; positions coalesce to the
    P sentinel. `hash_fn` (default poly_hash) is the base string hash —
    pass `xxhash64_mod` for the production fast path. `carry_cols`:
    id-functional columns (e.g. a side flag) carried through the groupBy as
    extra grouping keys — zero extra shuffle, lets callers key a UNION of
    tables in one pass and split after."""
    h = id_shingle_hashes(df, id_col, shingles, hash_fn=hash_fn,
                          carry_cols=carry_cols)
    aggs = [
        F.coalesce(F.min(perm_hash(F.col("h"), i)), F.lit(P)).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return h.groupBy("id", *(carry_cols or [])).agg(*aggs)


def band_keys_from_sig_table(sig, bands: int, rows: int,
                             carry_cols: list[str] | None = None):
    """(id, [carry_cols...], block_key) exploded band keys from a
    minhash_sig_table frame — share one materialized sig table between band
    keys and signatures instead of recomputing the shingle pass per
    consumer."""
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


def simhash_exploded(df, id_col: str, toks: Column, nbits: int = 32):
    """(id, simhash) with the explode->groupBy shape: one poly_hash per
    DISTINCT token (joined back), then nbits conditional-count aggregates
    per id. Same values as `simhash64` (pinned by test) — which evaluates
    the whole token-hash array once PER BIT (nbits full passes per row) and
    is kept as the single-expression variant for inline use. Duplicate
    tokens count once per occurrence, exactly like simhash64's transform.
    Ids with empty/missing token arrays do not appear (explode drops them);
    callers union them back with simhash 0 if needed."""
    e = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("s"))
    dist = e.select("s").distinct().select("s", poly_hash(F.col("s")).alias("h"))
    h = e.join(dist, "s").select("id", "h")
    aggs = [F.count("*").alias("n")] + [
        F.sum((perm_hash(F.col("h"), j) % F.lit(2) == F.lit(1)).cast("long")).alias(
            f"c{j}"
        )
        for j in range(nbits)
    ]
    g = h.groupBy("id").agg(*aggs)
    out = F.lit(0).cast("long")
    for j in range(nbits):
        out = out + (F.col(f"c{j}") * F.lit(2) > F.col("n")).cast("long") * F.lit(
            1 << j
        )
    return g.select("id", out.alias("simhash"))


def minhash_band_keys_exploded(
    df,
    id_col: str,
    shingles: Column,
    bands: int,
    rows: int,
    hash_fn=None,
    carry_cols: list[str] | None = None,
):
    """Column-expression MinHash-LSH keys: (id, [carry_cols...],
    block_key), one row per band — the reference tests/test_kernels.py
    checks minhash_band_keys_np against. `hash_fn` as in
    minhash_sig_table."""
    sig = minhash_sig_table(df, id_col, shingles, bands * rows,
                            hash_fn=hash_fn, carry_cols=carry_cols)
    return band_keys_from_sig_table(sig, bands, rows, carry_cols=carry_cols)


# Spark's XXH64 (catalyst.expressions.XXH64): F.xxhash64 hashes a string's
# UTF-8 bytes with seed 42, and a NULL input hashes to the seed itself.
_XXH_P1 = np.uint64(0x9E3779B185EBCA87)
_XXH_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXH_P3 = np.uint64(0x165667B19E3779F9)
_XXH_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XXH_P5 = np.uint64(0x27D4EB2F165667C5)
XXH_SEED = 42
# xxhash64_np implements XXH64's short-input path only (no 4-lane stripe
# loop, which starts at 32 bytes)
XXH_MAX_BYTES = 31
# int64 Horner without the per-char % P (poly_hash's numpy form): the
# un-reduced value of k code points < 2^21 is <= (2^21-1)*(31^k-1)/30,
# under 2^63 up to k=9
POLY_MAX_K = 9


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64_np(data: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Spark's xxhash64 (int64) of the byte strings
    ``data[starts[i] : starts[i] + lens[i]]``, each shorter than 32 bytes —
    XXH64's short path: 8-byte lanes, one 4-byte lane, then single bytes,
    all little-endian, then the avalanche. Pinned against F.xxhash64 by
    tests/test_kernels.py. Raises ValueError for inputs of 32+ bytes."""
    lens = np.asarray(lens, dtype=np.int64)
    n = len(lens)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    if int(lens.max()) > XXH_MAX_BYTES:
        raise ValueError(
            f"xxhash64_np hashes inputs of at most {XXH_MAX_BYTES} bytes, "
            f"got {int(lens.max())}"
        )
    # one row of `width` bytes per input (bytes past its length are read
    # but never used); viewed as u8/u4 words for the lane reads
    width = max(8, -(-int(lens.max()) // 8) * 8)
    padded = np.concatenate([data, np.zeros(width, dtype=np.uint8)])
    mat = padded[np.asarray(starts, dtype=np.int64)[:, None] + np.arange(width)]
    rows = np.arange(n)
    n8 = lens >> 3
    h = np.uint64(XXH_SEED) + _XXH_P5 + lens.astype(np.uint64)
    words = mat.view("<u8")
    for j in range(width // 8):
        k1 = _rotl(words[:, j] * _XXH_P2, 31) * _XXH_P1
        h = np.where(n8 > j, _rotl(h ^ k1, 27) * _XXH_P1 + _XXH_P4, h)
    w32 = mat.view("<u4")[rows, np.minimum(n8 * 2, width // 4 - 1)].astype(np.uint64)
    has4 = (lens & 7) >= 4
    h = np.where(has4, _rotl(h ^ (w32 * _XXH_P1), 23) * _XXH_P2 + _XXH_P3, h)
    pos = n8 * 8 + has4 * 4
    for j in range(3):
        b = mat[rows, np.minimum(pos + j, width - 1)].astype(np.uint64)
        h = np.where(pos + j < lens, _rotl(h ^ (b * _XXH_P5), 11) * _XXH_P1, h)
    h ^= h >> np.uint64(33)
    h *= _XXH_P2
    h ^= h >> np.uint64(29)
    h *= _XXH_P3
    h ^= h >> np.uint64(32)
    return h.view(np.int64)


def _utf8_buffers(texts) -> tuple[np.ndarray, np.ndarray]:
    """(data, offs): the UTF-8 bytes of a pyarrow string array and its n+1
    row offsets into them (NULL rows read as '')."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if texts.null_count:
        texts = pc.fill_null(texts, "")
    _, off_buf, data_buf = texts.buffers()
    off_t = np.int64 if pa.types.is_large_string(texts.type) else np.int32
    offs = np.frombuffer(off_buf, dtype=off_t)[
        texts.offset : texts.offset + len(texts) + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)[offs[0] : offs[-1]]
        if data_buf is not None
        else np.zeros(0, dtype=np.uint8)
    )
    return data, offs - offs[0]


def shingle_hashes_np(texts, k: int, base: str) -> tuple[np.ndarray, np.ndarray]:
    """(h, ptr): the base hash of every k-char shingle of every row of a
    pyarrow string array of NORMALIZED text, row i owning
    ``h[ptr[i] : ptr[i+1]]`` — the numpy form of
    ``char_shingles(nt, k, normalize=False)`` hashed by ``base``:

    * shingles are k consecutive code points (Spark's substring/length
      count code points); a row shorter than k — '' included — is one
      shingle, the whole string;
    * ``base="poly_hash"``: int64 Horner over the code points, one final
      % P (exact for k <= POLY_MAX_K; Spark 4's split(s, '') and ascii()
      also work in code points, so non-BMP text hashes alike);
    * ``base="xxhash64_mod"``: Spark's xxhash64 over the shingle's UTF-8
      bytes folded into [0, P) (exact while 4*k <= XXH_MAX_BYTES). A NULL
      row is one NULL shingle, which xxhash64 hashes to its seed.

    NULL rows under poly_hash hash as '' (poly_hash(NULL) is NULL in
    Spark; callers drop those rows). Duplicate shingles are kept: they
    cannot change a min."""
    data, offs = _utf8_buffers(texts)
    n = len(offs) - 1
    # byte index of every code point's lead byte, plus the end sentinel
    lead = np.flatnonzero((data & 0xC0) != 0x80)
    cp_byte = np.append(lead, len(data))
    cp_off = np.searchsorted(lead, offs)
    lens = np.diff(cp_off)
    counts = np.where(lens >= k, lens - k + 1, 1)
    ptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=ptr[1:])
    total = int(ptr[-1])
    # shingle j of row i starts at code point cp_off[i] + j, spans sl code points
    g = np.repeat(cp_off[:-1] - ptr[:-1], counts) + np.arange(total, dtype=np.int64)
    sl = np.repeat(np.minimum(lens, k), counts)
    if base == "poly_hash":
        codes = np.frombuffer(
            data.tobytes().decode("utf-8").encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        codes = np.concatenate([codes, np.zeros(k, dtype=np.int64)])
        acc = np.zeros(total, dtype=np.int64)
        for j in range(k):
            acc = np.where(j < sl, acc * 31 + codes[g + j], acc)
        return acc % P, ptr
    if base == "xxhash64_mod":
        bs = cp_byte[g]
        h = np.mod(xxhash64_np(data, bs, cp_byte[g + sl] - bs), P)
        h[ptr[:-1][np.asarray(texts.is_null())]] = XXH_SEED % P
        return h, ptr
    raise ValueError(f"unknown base hash {base!r}")


def minhash_np(h: np.ndarray, ptr: np.ndarray, num_hashes: int) -> np.ndarray:
    """(n, num_hashes) int64 MinHash signatures: sig[i, j] = min over row
    i's shingle hashes of perm_j (every row owns at least one shingle).
    Exact in int64: a, h < P < 2^31, so a*h + b < 2^62."""
    sig = np.empty((len(ptr) - 1, num_hashes), dtype=np.int64)
    if len(h):
        for j, (a, b) in enumerate(PERMS[:num_hashes]):
            sig[:, j] = np.minimum.reduceat((a * h + b) % P, ptr[:-1])
    return sig


def _check_minhash_contract(k: int, num_hashes: int, base: str) -> None:
    max_k = POLY_MAX_K if base == "poly_hash" else XXH_MAX_BYTES // 4
    if not 1 <= k <= max_k:
        raise ValueError(
            f"k must be in [1, {max_k}] for {base} (exact numpy domain), got {k}"
        )
    if not 1 <= num_hashes <= len(PERMS):
        raise ValueError(
            f"num_hashes must be in [1, {len(PERMS)}] (len(PERMS)), "
            f"got {num_hashes}"
        )


def minhash_sigs_np_udf(k: int, num_hashes: int):
    """Factory: pandas UDF computing the MinHash signature array (length
    `num_hashes`) over the k-char shingles of an ALREADY-NORMALIZED string
    column — bit-identical to
    ``minhash_sig_table(df, id, char_shingles(nt, k, normalize=False), n)``
    with the default poly_hash base (guide §4.2: hand the whole batch to
    numpy instead of the explode → distinct-vocabulary hash join → groupBy
    shape, which costs three shuffles of the corpus-sized (id, shingle)
    frame plus the interpreted per-char aggregate; measured r8 on dedup03's
    sig tier: 1.78 s wall / 11.3 CPU-s → one map pass). The arithmetic is
    shingle_hashes_np + minhash_np (exactness argued there; parity pinned
    by tests/test_functions.py). NULL inputs must be filtered by the
    caller (the explode path drops ids with a NULL shingle array;
    ``.where(col.isNotNull())`` preserves that contract).

    Raises ValueError outside the exact contract: ``1 <= k <= 9`` (int64
    Horner) and ``1 <= num_hashes <= len(PERMS)`` (there are no more
    permutations; the signature would be uninitialised memory).
    """
    _check_minhash_contract(k, num_hashes, "poly_hash")
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    # NB: no type annotations on the inner function — `pd` is a factory
    # local, and with `from __future__ import annotations` the stringified
    # 'pd.Series' would not resolve at pandas_udf inspection time
    @pandas_udf(ArrayType(LongType()))
    def _sigs(texts):
        h, ptr = shingle_hashes_np(
            pa.array(texts.fillna(""), type=pa.string()), k, "poly_hash"
        )
        return pd.Series(list(minhash_np(h, ptr, num_hashes)), dtype=object)

    return _sigs


def minhash_band_keys_np(
    df,
    id_col: str,
    text_col: str,
    bands: int,
    rows: int,
    k: int,
    hash_fn=None,
    carry_cols: list[str] | None = None,
):
    """(id, [carry_cols...], block_key) MinHash-LSH band keys of an
    ALREADY-NORMALIZED text column from ONE mapInArrow pass: per Arrow
    batch, shingle_hashes_np -> minhash_np -> '<band>|<v>_<v>' strings
    built by pyarrow compute. Bit-identical to
    ``minhash_band_keys_exploded(df, id_col, char_shingles(text, k,
    normalize=False), bands, rows, hash_fn, carry_cols)`` (multiset pinned
    by tests/test_kernels.py) without its explode -> groupBy(id) exchange
    and its bands*rows-aggregate expression tree — given one row per
    (id, carry...), which the reference's groupBy would merge.

    `hash_fn`: poly_hash (default) or xxhash64_mod. NULL text keys like
    the reference: dropped under poly_hash (its NULL shingle never joins
    the hashed vocabulary), one NULL shingle hashed to xxhash64's seed
    under xxhash64_mod. Raises ValueError for any other hash_fn, for
    bands*rows > len(PERMS), and for a k outside the numpy kernel's exact
    domain (k <= 9 for poly_hash, 4*k <= 31 UTF-8 bytes for xxhash64)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StringType, StructField, StructType

    if hash_fn is None or hash_fn is poly_hash:
        base = "poly_hash"
    elif hash_fn is xxhash64_mod:
        base = "xxhash64_mod"
    else:
        raise ValueError(
            f"hash_fn must be poly_hash or xxhash64_mod, got {hash_fn!r}"
        )
    if bands < 1 or rows < 1:
        raise ValueError(f"bands and rows must be >= 1, got {bands}, {rows}")
    nh = bands * rows
    _check_minhash_contract(k, nh, base)
    carry = list(carry_cols or [])
    # at most one task per core (coalesce never adds partitions): each
    # Python task costs ~0.15 s of fixed worker hand-off, far more than the
    # kernel's own ~10 ms per 1k rows, so a second wave of tasks only adds
    # latency (measured at local[2] on a 4-core VM: a no-op mapInArrow
    # over 4.7k rows took 0.33-0.42 s as 3 tasks, 0.20-0.27 s as 2)
    par = df.sparkSession.sparkContext.defaultParallelism
    inp = df.select(
        F.col(id_col).alias("id"), *carry, F.col(text_col).alias("__t")
    ).coalesce(par)
    if base == "poly_hash":
        inp = inp.where(F.col("__t").isNotNull())
    schema = StructType(
        [inp.schema[c] for c in ["id", *carry]]
        + [StructField("block_key", StringType(), False)]
    )
    names = schema.fieldNames()
    labels = pa.array([f"{b}|" for b in range(bands)], type=pa.string())

    def keys(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            h, ptr = shingle_hashes_np(batch.column(len(carry) + 1), k, base)
            sig = minhash_np(h, ptr, nh)
            # row-major (row, band, r): list (row, band) holds the band's
            # `rows` values -> 'v_v', then the band label in front
            vals = pc.cast(pa.array(sig.ravel()), pa.string())
            joined = pc.binary_join(
                pa.ListArray.from_arrays(
                    pa.array(np.arange(0, n * nh + 1, rows, dtype=np.int32)), vals
                ),
                "_",
            )
            key = pc.binary_join_element_wise(
                labels.take(pa.array(np.tile(np.arange(bands), n))), joined, ""
            )
            take = pa.array(np.repeat(np.arange(n), bands))
            cols = [batch.column(i).take(take) for i in range(len(carry) + 1)]
            yield pa.RecordBatch.from_arrays(cols + [key], names=names)

    return inp.mapInArrow(keys, schema)


def band_keys_from_sig_array(sig: Column, bands: int, rows: int) -> Column:
    """array<string> of band keys from a signature ARRAY column — same key
    format as band_keys_from_sig_table ('<band>|<v>_<v>...')."""
    keys = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            F.concat_ws(
                "_",
                *[sig.getItem(b * rows + r).cast("string") for r in range(rows)],
            ),
        )
        for b in range(bands)
    ]
    return F.array(*keys)


def sig_agreement(a: Column, b: Column) -> Column:
    """Fraction of agreeing MinHash positions — an unbiased estimate of the
    shingle jaccard. Used as a cheap pre-filter before exact verification."""
    return F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)
    ) / F.size(a).cast("double")


def sig_agreement_flat(a: Column, b: Column, num_hashes: int) -> Column:
    """sig_agreement for a KNOWN signature length, unrolled into flat
    position comparisons (whole-stage codegen; the zip_with/filter form
    runs interpreted per element — r8, measured on dedup03's 464k-pair
    agreement tier). Same value for equal-length arrays."""
    agree = sum(
        (a.getItem(i) == b.getItem(i)).cast("int") for i in range(num_hashes)
    )
    return agree / F.lit(float(num_hashes))


def exact_text_key(c: Column) -> Column:
    """Exact-dedup key: portable hash of normalized text (plus length to cut
    collision odds). Used by the hash-groupBy exact dedup."""
    s = normalize_text(c)
    return F.concat_ws("_", poly_hash(s).cast("string"), F.length(s).cast("string"))
