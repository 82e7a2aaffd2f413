"""Embedding kernels: deterministic hashed-feature encoder (the sandbox
stand-in for the reference's BERT bi-encoder, `blink/biencoder/biencoder.py:
159-170`), Arrow-batched numpy dot/cosine, and random-hyperplane sign buckets
(the LSH analogue of the FAISS index, `blink/indexer/faiss_indexer.py`).
The sequential JVM Column forms these kernels are checked against live in
tests/embedding_reference.py.

The encoder is a hashed char-trigram count projection: trigram g increments
dimension h(g) % dim, then L2-normalize. It is a deterministic function of
the character sequence — the property the pipeline actually relies on
(reference precedent: the whole tokenize->encode path is deterministic given
the model, `blink/biencoder/data_process.py:26-97`). Swap in a real model by
replacing `hashed_embedding_udf` with a model-backed pandas UDF of the same
signature.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, FloatType, LongType

# Encoder output dim. Unsigned counts (not signed feature-hashing): for
# short surfaces (~12 trigrams) sign cancellation makes similarity noise —
# observed anti-correlation with the true match — while unsigned trigram
# counts give a monotone overlap measure; 256 dims keeps collision mass low.
# (The driver's embeddings.parquet is 64-dim; that's a separate input table,
# not this encoder's output.)
DIM = 256


MAX_CHARS = 256
_KNUTH = 2654435761  # Fibonacci-hash multiplier


# Kernel row-tile (same finding as functions/similarity.TILE): the scatter
# np.add.at writes across the whole (n, DIM) float32 output — 20MB at the
# 20k-row Arrow batch — and the gram/bucket temporaries stream with it; at
# 8 workers the memory bus saturates and stalled cycles bill as CPU.
# Tiling to 2048 rows keeps the output slab (+temporaries) ~2MB per
# iteration: measured 2->8-worker CPU inflation 1.9-3.1x -> ~1.1x with @2
# CPU unchanged. Each row is a pure function of its string, so the tile is
# bit-identical (pinned by tests).
TILE = 2048


def _embed_matrix(texts: pd.Series, tile: int = TILE) -> np.ndarray:
    """Tiled wrapper over `_embed_block` (see TILE note) — bit-identical,
    per-row function."""
    if len(texts) > tile:
        return np.vstack([
            _embed_block(texts.iloc[i:i + tile].reset_index(drop=True))
            for i in range(0, len(texts), tile)
        ])
    return _embed_block(texts)


def _embed_block(texts: pd.Series) -> np.ndarray:
    """Batch hashed char-trigram embedding kernel -> (n, DIM) float32,
    L2-normalized rows. Fully numpy-vectorized:

      codes[B, L]  <- utf-32 char codes of lowercased text (truncated)
      gram[B, L-2] <- c0*0x10000 + c1*0x100 + c2 (trigram id)
      bucket       <- (gram * KNUTH) mod 2^32 mod DIM; sign from bit 31
      out[row, bucket] += sign; L2-normalize rows

    Each output row is a pure per-row function of its input string (batch
    padding is masked out), so the SAME kernel backs both the stored-vector
    path (hashed_embedding_udf) and the recompute-from-text cos path
    (pair_cos_from_text_udf) with bit-identical values.

    Char-level features keep typo'd variants ("fgu coerp" ~ "fagu corp")
    cosine-close where token-level features go to zero — the same property
    the reference gets from WordPiece subword tokens
    (`blink/biencoder/data_process.py:26-69`).
    """
    n = len(texts)
    out = np.zeros((n, DIM), dtype=np.float32)
    vals = texts.fillna("").astype(str).str.lower().str.slice(0, MAX_CHARS)
    lens = vals.str.len().to_numpy(dtype=np.int64)
    joined = "\x00".join(vals.tolist())
    if joined and lens.max(initial=0) >= 3:
        # ASCII batches decode to uint8 and run the gram/bucket math in
        # uint32 (wrapping multiply IS the mod-2^32 the uint64 path applies
        # explicitly; g < 2^32 whenever every code < 2^16, so buckets are
        # bit-identical). 64-bit multiplies don't vectorize on this target
        # and double the memory traffic — measured 5.7x kernel throughput
        # (61k -> 346k strings/s/core) with byte lanes + uint32 math.
        try:
            codes = np.frombuffer(joined.encode("ascii"), dtype=np.uint8)
            narrow = True
        except UnicodeEncodeError:
            codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
            narrow = bool(codes.max(initial=0) < 1 << 16)
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1] + 1, out=starts[1:])
        L = int(lens.max())
        col = np.arange(L)
        idx = np.minimum(starts[:, None] + col[None, :], len(codes) - 1)
        dt = np.uint32 if narrow else np.uint64
        mat = codes[idx].astype(dt)
        valid = col[None, :] < lens[:, None]
        mat = np.where(valid, mat, 0)
        if L >= 3:
            g = (mat[:, :-2] << dt(16)) ^ (mat[:, 1:-1] << dt(8)) ^ mat[:, 2:]
            gv = valid[:, 2:]
            if narrow:
                bucket = (g * dt(_KNUTH)) % dt(DIM)
            else:
                bucket = ((g * dt(_KNUTH)) & dt(0xFFFFFFFF)) % dt(DIM)
            rows = np.broadcast_to(np.arange(n)[:, None], g.shape)
            np.add.at(out, (rows[gv], bucket[gv].astype(np.int64)), np.float32(1.0))
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    return out / np.maximum(norms, 1e-12)


@pandas_udf(ArrayType(FloatType()))
def hashed_embedding_udf(texts: pd.Series) -> pd.Series:
    """array<float> hashed trigram embedding column (see _embed_matrix)."""
    return pd.Series(list(_embed_matrix(texts)))


@pandas_udf(DoubleType())
def pair_cos_from_text_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """dot(embed(a), embed(b)) recomputed from the pair TEXTS — bit-identical
    to joining stored hashed_embedding_udf vectors and running
    dot_product_udf (same _embed_matrix float32 rows, same float64 einsum),
    but with ZERO vector joins: at a 20k-entity catalogue the stored-vector
    path shuffled two ~100MB (id, vec) tables through two extra exchanges
    per links run (plan audit r5). In-batch unique-string dedup makes the
    recompute cheap: pair batches repeat surfaces heavily (<=16 candidates
    per mention surface; hot entities across mentions), so the kernel runs
    once per DISTINCT string per batch.

    Only valid when the score's vectors ARE the hashed text embedding
    (LinkagePipeline's case); external model vectors must keep the join
    path (two_phase_scored_pairs cos_source="join")."""
    if len(a) == 0:
        return pd.Series([], dtype=float)
    av = a.fillna("").astype(str).to_numpy()
    bv = b.fillna("").astype(str).to_numpy()
    # hash-based dedup (pd.factorize), not np.unique: the sort-based unique
    # chases PyUnicode pointers O(n log n) across the heap — measured 10x
    # the CPU of factorize on a 40k-string pair batch, and it was the
    # largest UNtiled working set left in the links stage's Python workers.
    # Row values don't depend on uniq order (each embedding row is a pure
    # per-string function), so the swap is bit-identical.
    inverse, uniq = pd.factorize(np.concatenate([av, bv]), sort=False)
    emb = _embed_matrix(pd.Series(uniq)).astype(np.float64)
    ai, bi = inverse[: len(av)], inverse[len(av):]
    return pd.Series(np.einsum("ij,ij->i", emb[ai], emb[bi]))


# deterministic, but marked nondeterministic for the same reason as
# jaro_winkler_udf (functions/similarity.py): stop Catalyst from inlining
# the cos column into downstream Filter conditions (match_edges' threshold
# filter), which would run the kernel twice over the pair frame.
pair_cos_from_text_udf = pair_cos_from_text_udf.asNondeterministic()


def _vec_matrices(
    *cols: pd.Series, dim: int | None = None
) -> tuple[list[np.ndarray], np.ndarray | None]:
    """Series of array<float/double> rows -> one float64 (n, dim) matrix per
    column, plus the mask of rows where every column is non-NULL, or None
    when no row is NULL. `dim` defaults to the row length of the batch; a
    row of any other length raises.

    A batch of equal-length non-NULL rows (every pipeline batch) takes one
    np.asarray per column and nothing else. Only a batch that fails it is
    looked at row by row: NULL rows are zero-filled and callers emit NULL
    for them, as the JVM Column forms do (an aggregate over a NULL array is
    NULL)."""
    try:
        mats = [np.asarray(c.to_list(), dtype=np.float64) for c in cols]
    except ValueError:  # ragged: a NULL or wrong-length row
        mats = []
    if mats and all(m.ndim == 2 and m.shape == mats[0].shape for m in mats) and (
        dim is None or mats[0].shape[1] == dim
    ):
        return mats, None
    ok = ~np.logical_or.reduce([c.isna().to_numpy() for c in cols])
    mats = []
    for c in cols:
        rows = c[ok].to_list()
        if dim is None:
            dim = len(rows[0]) if rows else 0
        bad = [len(r) for r in rows if len(r) != dim]
        if bad:
            raise ValueError(
                f"vector rows must have {dim} elements; got a row of {bad[0]}"
            )
        m = np.zeros((len(c), dim))
        if rows:
            m[ok] = np.asarray(rows, dtype=np.float64)
        mats.append(m)
    return mats, ok


def _null_rows(values: np.ndarray, ok: np.ndarray | None) -> pd.Series:
    """Per-row kernel output with NULL where `_vec_matrices` saw a NULL."""
    if ok is not None:
        values[~ok] = np.nan
    return pd.Series(values)


@pandas_udf(DoubleType())
def dot_product_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized dot product of two fixed-dim array<float> columns
    (numpy row-wise einsum): the pair scorer's cos term. numpy's pairwise
    summation can differ from a sequential sum in the last ulp; scores are
    rounded to 6dp downstream, and the pipeline's determinism contract is
    per-platform (same input -> same output), which numpy satisfies. A NULL
    vector gives NULL (see _vec_matrices)."""
    (ma, mb), ok = _vec_matrices(a, b)
    return _null_rows(np.einsum("ij,ij->i", ma, mb), ok)


def _hyperplanes(nplanes: int, dim: int = DIM, seed: int = 42) -> np.ndarray:
    """Fixed seeded random hyperplanes (shared driver<->executor constant).
    Distinct seeds give INDEPENDENT tables for OR-amplified LSH (ann05)."""
    rng = np.random.RandomState(seed)
    return rng.randn(nplanes, dim).astype(np.float64)


@pandas_udf(DoubleType())
def cosine_raw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Unrounded cosine similarity, numpy-batched: one einsum and two row
    norms per batch. The value differs from a sequential sum (the DuckDB
    oracle's list_dot_product) only in final ulps; the 6dp rounding of
    `cosine_similarity` absorbs that (pinned by
    tests/test_functions.py::test_vectorized_embedding_kernels_match_column_forms).
    A NULL vector gives NULL."""
    (ma, mb), ok = _vec_matrices(a, b)
    num = np.einsum("ij,ij->i", ma, mb)
    den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    return _null_rows(num / np.maximum(den, 1e-12), ok)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two vector columns, rounded to 6dp (JVM HALF_UP)
    for engine-portable comparison."""
    return F.round(cosine_raw_udf(a, b), 6)


def hyperplane_buckets_udf(nplanes: int, dim: int, seeds: tuple[int, ...]):
    """Factory: pandas UDF computing the random-hyperplane LSH bucket id for
    EVERY table seed in ONE Arrow pass -> array<long> of len(seeds); entry t
    has bit j = sign(vec . plane_j) over `_hyperplanes(nplanes, dim,
    seeds[t])`. Vectors in the same bucket are cosine-close with high
    probability. A NULL vector gives a NULL array.

    The planes live in ONE numpy (T*P, dim) matrix and the buckets are a
    single matmul + bit-pack per batch. A Column form embeds nplanes
    dim-literal plane arrays per table with interpreted higher-order dot
    products — 16 tables x 4 planes is a ~4k-literal expression tree the
    driver re-analyzes on every query build (measured: ann05's bench wall
    was dominated by per-trial planning + single-split interpreted dots,
    7.7s for a 2.1s-warm query). Sign parity with the sequential dot is
    pinned by tests/test_functions.py against the tests reference — a sign
    flip needs |dot| within float rounding of 0 (~1e-14 odds per dot).
    """
    planes = np.vstack([_hyperplanes(nplanes, dim, s) for s in seeds])
    n_tables = len(seeds)
    weights = (1 << np.arange(nplanes, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        (m,), ok = _vec_matrices(vecs, dim=dim)
        bits = (m @ planes.T > 0).astype(np.int64)
        b = bits.reshape(len(vecs), n_tables, nplanes) @ weights
        out = list(b)
        if ok is not None:
            for i in np.flatnonzero(~ok):
                out[i] = None
        return pd.Series(out)

    return _buckets
