"""String-pair similarity kernels.

* ``levenshtein_sim`` — Spark built-in ``levenshtein`` (JVM-side), normalized.
* ``jaro_winkler_udf`` — numpy-vectorized Arrow-batched pandas UDF: the loop
  is over character *positions* (<= max_len iterations), every step is a
  vectorized op over the whole batch — no per-row Python (input_hint mandate).
  Matches DuckDB's ``jaro_winkler_similarity`` (verified in tests) so the
  oracle can check it bit-for-bit after rounding.

Reference analogue: the cross-encoder pair scorer
(`blink/crossencoder/crossencoder.py:130-139`) — a black-box batch kernel
mapping a pair batch to a score vector; ours is a deterministic string kernel
(north_rule F11).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

MAX_LEN = 64  # mentions/titles are short; longer strings are truncated

# Kernel row-tile: the JW band loop and its argsort/take_along_axis passes
# stream several [B, W] temporaries per character position; at the Arrow
# batch size (20k rows) that working set lives in DRAM and 8 concurrent
# workers saturate the memory bus — stalled cycles bill as CPU time.
# Measured standalone (JW+embedding under multiprocessing, identical total
# work, interleaved A/B): 2->8-worker CPU inflation 1.87-3.14x untiled vs
# 1.02-1.17x at tile 2048, with @2 CPU unchanged and @8 wall ~20% faster —
# the tile keeps each position-iteration's temporaries inside per-core
# cache. Outputs are bit-identical (the kernel is a per-row function; the
# tile only changes the batch grouping), pinned by tests.
TILE = 2048


def levenshtein_sim(a: Column, b: Column) -> Column:
    """1 - levenshtein(a,b)/max(len) — exact rational, rounded to 6dp."""
    return F.round(
        F.lit(1.0)
        - F.levenshtein(a, b)
        / F.greatest(F.length(a), F.length(b), F.lit(1)).cast("double"),
        6,
    )


def jaccard_from_counts(n_inter: Column, n_a: Column, n_b: Column) -> Column:
    """Jaccard from |A∩B|, |A|, |B| (set sizes), rounded to 6dp."""
    return F.round(
        n_inter.cast("double") / (n_a + n_b - n_inter).cast("double"), 6
    )


def _to_codes(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Pad a string series into a [B, W] code matrix + lengths, with
    W = the BATCH's max length (<= MAX_LEN), not the global cap: every
    downstream matrix op in the JW kernel is O(B*W), and surface strings
    are ~10-25 chars, so working at the data's width instead of 64 is a
    ~3x constant-factor win on the hottest UDF in the engine.

    All-ASCII batches (the common case for surface strings) come back as
    uint8 instead of uint32 — code VALUES are identical, so the kernel's
    equality comparisons are unchanged, but the matrices move 4x less
    memory. The kernel is bandwidth-bound at high core counts (measured:
    1.84x CPU inflation from 2 -> 8 workers on identical work,
    CPU_CONTENTION.json), so narrower lanes buy both single-core speed
    and multi-core headroom."""
    vals = s.fillna("").astype(str).str.slice(0, MAX_LEN)
    lens = vals.str.len().to_numpy(dtype=np.int64)
    b = len(vals)
    width = max(int(lens.max(initial=0)), 1)
    # one vectorized pass: join, then view as a single code array
    joined = "\x00".join(vals.tolist())
    if not joined:
        return np.zeros((b, width), dtype=np.uint8), lens
    try:
        codes = np.frombuffer(joined.encode("ascii"), dtype=np.uint8)
    except UnicodeEncodeError:
        codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
    # row starts are fully determined by lens; fill via fancy indexing
    starts = np.zeros(b, dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=starts[1:])
    col_idx = np.arange(width)
    take = starts[:, None] + col_idx[None, :]
    valid = col_idx[None, :] < lens[:, None]
    flat_idx = np.where(valid.ravel(), take.ravel(), 0)
    flat = codes[np.minimum(flat_idx, len(codes) - 1)]
    return np.where(valid, flat.reshape(b, width), 0).astype(codes.dtype), lens


def jaro_winkler_np(sa: pd.Series, sb: pd.Series,
                    tile: int = TILE) -> np.ndarray:
    """Vectorized Jaro-Winkler over a batch of string pairs. The loop is
    over character POSITIONS (<= the batch's max length), every step a
    whole-batch numpy op — no per-row Python. All working matrices are
    sized to the batch width W, not the 64-char cap (see _to_codes).

    Batches larger than ``tile`` rows are processed in row tiles so the
    per-position temporaries stay cache-resident (see TILE) — bit-identical
    output, the score is a per-row function of (a, b)."""
    if len(sa) > tile:
        return np.concatenate([
            _jaro_winkler_block(
                sa.iloc[i:i + tile].reset_index(drop=True),
                sb.iloc[i:i + tile].reset_index(drop=True),
            )
            for i in range(0, len(sa), tile)
        ])
    return _jaro_winkler_block(sa, sb)


def jaro_winkler_take_np(
    a_texts: pd.Series, ai: np.ndarray, b_texts: pd.Series, bi: np.ndarray,
    tile: int = TILE,
) -> np.ndarray:
    """jaro_winkler_np(a_texts[ai], b_texts[bi]) with each listed text
    converted to codes once, for pair batches that repeat their strings
    (a mention surface against its candidate entities): the pair rows
    gather the code rows. Bit-identical — the score is a per-row function
    of the two code rows, whatever the width they are padded to."""
    a, la = _to_codes(a_texts)
    b, lb = _to_codes(b_texts)
    return np.concatenate([
        _jaro_winkler_codes(a[ai[i:i + tile]], la[ai[i:i + tile]],
                            b[bi[i:i + tile]], lb[bi[i:i + tile]])
        for i in range(0, len(ai), tile)
    ] or [np.zeros(0, dtype=np.float64)])


def _jaro_winkler_block(sa: pd.Series, sb: pd.Series) -> np.ndarray:
    return _jaro_winkler_codes(*_to_codes(sa), *_to_codes(sb))


def _jaro_winkler_codes(
    a: np.ndarray, la: np.ndarray, b: np.ndarray, lb: np.ndarray
) -> np.ndarray:
    B = a.shape[0]
    if B == 0:
        return np.zeros(0, dtype=np.float64)
    if a.dtype != b.dtype:  # one side ASCII, one not: widen both
        a = a.astype(np.uint32)
        b = b.astype(np.uint32)
    # common width: pad the narrower matrix (cheap; both <= MAX_LEN)
    W = max(a.shape[1], b.shape[1])
    if a.shape[1] < W:
        a = np.pad(a, ((0, 0), (0, W - a.shape[1])))
    if b.shape[1] < W:
        b = np.pad(b, ((0, 0), (0, W - b.shape[1])))
    lmax = np.maximum(la, lb)
    # match window: chars equal and |i-j| <= max(lmax/2 - 1, 0);
    # int16 lanes (lengths <= MAX_LEN=64) keep the per-iteration band
    # computation off the 8-byte default-int path
    window = np.maximum(lmax // 2 - 1, 0)[:, None].astype(np.int16)

    j_idx = np.arange(W, dtype=np.int16)[None, :]
    # avail = valid-and-unused b positions; padding cols start unavailable,
    # so a's 0-padding can never match (real codes are >= 1) and the
    # explicit used/valid/nonzero masks of the old kernel collapse into one
    avail = j_idx < lb[:, None]
    used_b = np.zeros((B, W), dtype=bool)
    matched_i = np.zeros((B, W), dtype=bool)
    for i in range(int(la.max(initial=0))):
        ai = a[:, i][:, None]  # [B,1]
        # ai != 0 keeps the "real codes are >= 1" invariant honest for
        # arbitrary input: an embedded NUL (code 0 at a valid position of
        # either string) must never match a's zero padding — NUL chars
        # simply never participate in matches (ADVICE r3)
        cand = (b == ai) & (ai != 0) & avail & (np.abs(j_idx - np.int16(i)) <= window)
        take = cand.any(axis=1)
        j = np.argmax(cand, axis=1)
        matched_i[take, i] = True
        used_b[take, j[take]] = True
        avail[take, j[take]] = False

    m = matched_i.sum(axis=1).astype(np.float64)

    # transpositions: a's matched chars in i-order vs b's matched chars in
    # j-order (stable argsort pushes matched positions to the front of each)
    order_a = np.argsort(~matched_i, axis=1, kind="stable")
    a_g = np.take_along_axis(a, order_a, axis=1)
    valid_a = np.take_along_axis(matched_i, order_a, axis=1)
    order_b = np.argsort(~used_b, axis=1, kind="stable")
    b_g = np.take_along_axis(b, order_b, axis=1)
    # integer halving of the mismatch count (Winkler's original C code and
    # DuckDB both floor here)
    t = (((a_g != b_g) & valid_a).sum(axis=1) // 2).astype(np.float64)

    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (
            m / np.maximum(la, 1) + m / np.maximum(lb, 1) + (m - t) / np.maximum(m, 1)
        ) / 3.0
    jaro = np.where(m == 0, 0.0, jaro)
    # identical empty strings: DuckDB returns 1.0 for ''==''? both len 0 -> m=0
    # keep 0.0; tests pin the convention against DuckDB.

    # Winkler prefix boost: common prefix up to 4 chars, scale 0.1, applied
    # only above the standard boost threshold 0.7 (matches DuckDB)
    prefix_eq = (a[:, :4] == b[:, :4]) & (a[:, :4] != 0)
    # running AND to stop at first mismatch
    run = np.cumprod(prefix_eq, axis=1).astype(np.int64)
    ell = run.sum(axis=1).astype(np.float64)
    jw = np.where(jaro > 0.7, jaro + ell * 0.1 * (1.0 - jaro), jaro)
    return jw


@pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(np.round(jaro_winkler_np(a, b), 6))


# The function IS deterministic (bit-exact vs DuckDB, pinned by tests);
# the nondeterministic MARK only stops Catalyst from inlining the jw
# column's expression into downstream Filter conditions — inlined, the
# two-phase scorer's prune filter re-evaluated the hottest UDF in the
# engine over the full pair frame a SECOND time (ArrowEvalPython appeared
# twice in the executed plan: once feeding the filter, once recomputing
# the surviving rows' output column — ~1.7x the JW work at the 20k-entity
# shape). Single projection + filter-on-the-column = one pass.
jaro_winkler_udf = jaro_winkler_udf.asNondeterministic()
