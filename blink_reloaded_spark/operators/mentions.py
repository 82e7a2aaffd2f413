"""Mention extraction (U1) — the reference's NER front-end
(`blink/ner.py:29-42` flair predict; `blink/main_dense.py:76-97` `_annotate`)
re-expressed as a dictionary extractor: one flat-map kernel per Arrow batch.

One input turn row flat-maps to N mention rows. Matching runs on the
lowercased turn (Python `str.lower()`); start_pos/end_pos are char offsets
into that lowercased text and the contexts are its left/right slices
(`main_dense.py:85-92`). Matches are leftmost-longest, non-overlapping and
bounded by non-[a-z0-9] chars on both sides.

The production matcher, `_gen_token_arrow` in `mapInArrow`, tokenizes each
batch once and looks 1-3-token phrases up in hash sets: O(tokens) per row
whatever the dictionary size. A dictionary with any other surface
(punctuation, more than 3 tokens, double spaces) runs `_gen_regex`, a
longest-first alternation regex, in `mapInPandas` instead.

Invariant (reference assert `create_BLINK_zeshel_data.py:115`):
``mention == lower(text)[start_pos:end_pos]`` — tested in
tests/test_mentions.py.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MENTION_BASE = [
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("start_pos", IntegerType()),
    StructField("end_pos", IntegerType()),
    StructField("mention", StringType()),
]
MENTION_CONTEXT = [
    StructField("context_left", StringType()),
    StructField("context_right", StringType()),
]
MENTION_SCHEMA = StructType(MENTION_BASE + MENTION_CONTEXT)
MENTION_SCHEMA_SLIM = StructType(MENTION_BASE)


def _schema(with_context: bool) -> StructType:
    return MENTION_SCHEMA if with_context else MENTION_SCHEMA_SLIM


_TOK_RX = re.compile(r"[a-z0-9]+")
_TOK_RX_B = re.compile(rb"[a-z0-9]+")


def _check_surfaces(surfaces: list[str]) -> None:
    """An empty surface would match the empty string between any two
    non-token chars, and every such mention would share one surface."""
    blank = sorted({s for s in surfaces if not s.strip()})
    if blank:
        raise ValueError(f"empty or whitespace-only surfaces: {blank!r}")


def _gen_regex(surfaces: list[str], with_context: bool = True):
    """Alternation-regex matcher: leftmost-longest via longest-first
    alternation + word-boundary lookarounds. O(|text| x |dict|) per row —
    the production path only for dictionaries with non-token surfaces,
    and the reference the token matcher is tested against."""
    pat = "|".join(re.escape(s) for s in sorted(set(surfaces), key=len, reverse=True))
    pattern = f"(?<![a-z0-9])({pat})(?![a-z0-9])"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rx = re.compile(pattern, re.IGNORECASE)
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in _schema(with_context).fields}
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                if not text:
                    continue
                low = text.lower()
                for m in rx.finditer(low):
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(turn_idx)
                    out["start_pos"].append(m.start())
                    out["end_pos"].append(m.end())
                    out["mention"].append(low[m.start() : m.end()])
                    if with_context:
                        out["context_left"].append(low[: m.start()])
                        out["context_right"].append(low[m.end() :])
            yield pd.DataFrame(out)

    return gen


class _Dictionary(NamedTuple):
    """The token dictionary typed like one batch buffer (bytes or str)."""

    by_len: dict  # token count -> lowercased phrases
    first2: set  # first words of the 2-token phrases
    first3: set  # first words of the 3-token phrases
    tok_rx: re.Pattern


def _dictionaries(surfaces: list[str]) -> tuple[_Dictionary, _Dictionary]:
    """(bytes, str) token dictionaries; ValueError unless every surface is
    1-3 [a-z0-9]+ tokens joined by single spaces (after lowercasing)."""
    by_len: dict[int, set[str]] = {1: set(), 2: set(), 3: set()}
    for s in set(surfaces):
        toks = s.lower().split(" ")
        if 1 <= len(toks) <= 3 and all(_TOK_RX.fullmatch(t) for t in toks):
            by_len[len(toks)].add(s.lower())
        else:
            raise ValueError(f"token matcher supports 1-3 word-token surfaces: {s!r}")

    def typed(enc, tok_rx) -> _Dictionary:
        phrases = {n: {enc(p) for p in v} for n, v in by_len.items()}
        first2, first3 = ({enc(p.split(" ", 1)[0]) for p in by_len[n]} for n in (2, 3))
        return _Dictionary(phrases, first2, first3, tok_rx)

    return typed(lambda p: p.encode("ascii"), _TOK_RX_B), typed(str, _TOK_RX)


def _match_spans(big, codes: np.ndarray, dct: _Dictionary):
    """Leftmost-longest, non-overlapping dictionary matches in one batch
    buffer. `big` is the batch's lowered texts joined by '\\x00' (bytes or
    str — findall, set lookups and slicing work alike on both), `codes` its
    char codes, `dct` the dictionary typed like `big`. Returns the kept
    matches' (start, end) positions in `big`.

    Token spans come from a numpy char-class pass (no per-token Python),
    token strings from ONE C-level findall; '\\x00' ends a token, so no
    token or phrase crosses rows. A multi-token phrase needs an exactly
    single-space gap between its tokens, so it IS the contiguous slice
    big[start:end] — sliced, not joined. Python touches only the sparse
    match candidates."""
    is_tok = ((codes >= 97) & (codes <= 122)) | ((codes >= 48) & (codes <= 57))
    d = np.diff(is_tok.astype(np.int8))
    starts = np.flatnonzero(d == 1) + 1
    ends = np.flatnonzero(d == -1) + 1
    if is_tok[0]:
        starts = np.concatenate(([0], starts))
    if is_tok[-1]:
        ends = np.concatenate((ends, [len(codes)]))
    n_tok = len(starts)
    if not n_tok:
        return starts, ends
    by_len = dct.by_len
    # (A vectorized reduceat polynomial token hash was tried in place of
    # findall+isin: warm it measured ~10% SLOWER — its ~8 full passes over
    # per-char temporaries outweigh one C findall pass.)
    toks = pd.Series(dct.tok_rx.findall(big), dtype=object)
    assert len(toks) == n_tok
    cand_n = np.zeros(n_tok, dtype=np.int8)
    if by_len[1]:
        cand_n = np.where(toks.isin(by_len[1]).to_numpy(), 1, cand_n)
    if n_tok >= 2 and (by_len[2] or by_len[3]):
        gap1 = (starts[1:] - ends[:-1] == 1) & (codes[ends[:-1]] == 32)
        s_list = starts.tolist()
        e_list = ends.tolist()
    # building phrase strings is the expensive step, so do it only where
    # the first token can start a dictionary phrase (sparse)
    if n_tok >= 2 and by_len[2]:
        at2 = np.flatnonzero(toks.iloc[:-1].isin(dct.first2).to_numpy() & gap1)
        for i in at2.tolist():
            if big[s_list[i] : e_list[i + 1]] in by_len[2]:
                cand_n[i] = 2
    if n_tok >= 3 and by_len[3]:
        at3 = np.flatnonzero(
            toks.iloc[:-2].isin(dct.first3).to_numpy() & gap1[:-1] & gap1[1:]
        )
        for i in at3.tolist():
            if big[s_list[i] : e_list[i + 2]] in by_len[3]:
                cand_n[i] = 3
    idxs = np.flatnonzero(cand_n)
    cs = starts[idxs]
    ce = ends[idxs + cand_n[idxs] - 1]
    # leftmost-longest non-overlap: the ONLY sequential step, over plain-int
    # candidate spans (~1 per turn against ~20 tokens)
    e_l = ce.tolist()
    keep: list[int] = []
    last_end = -1
    for j, s in enumerate(cs.tolist()):
        if s < last_end:
            continue  # inside a previous (longer) match
        keep.append(j)
        last_end = e_l[j]
    ka = np.asarray(keep, dtype=np.int64)
    return cs[ka], ce[ka]


def _gen_token_arrow(surfaces: list[str], with_context: bool = True):
    """Token-hash dictionary matcher over raw Arrow record batches
    (`mapInArrow`) — output identical to the row-loop and regex references
    in tests/.

    Two front ends build the batch buffer `_match_spans` reads:
    * ASCII batch (no byte >= 0x80): ONE uint8 numpy view of the Arrow data
      buffer, zero-copy; row separators via a single vectorized `np.insert`,
      lowercase via an in-place `|= 0x20` on the [A-Z] mask. Byte offsets
      are char offsets, and the buffer stays `bytes` (C findall over bytes
      is ~20% cheaper than over str).
    * any other batch: Python `str.lower()` per text, joined by '\\x00',
      read as UTF-32 codes — offsets must be CHAR positions, and lowering
      can change a text's length ('İ' -> 'i̇') or map a char into [a-z]
      (Kelvin sign -> 'k'), which no in-place byte lowering reproduces.
    One back end for both: conv_id/turn_idx via `pc.take` on the input
    columns (no object round-trip); Python strings only for the sparse
    match outputs.
    """
    d_bytes, d_str = _dictionaries(surfaces)
    names = _schema(with_context).fieldNames()

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            tcol = batch.column("text")
            if tcol.null_count:
                tcol = pc.fill_null(tcol, "")
            # offsets/data straight off the Arrow buffers (zero-copy);
            # respect the array's slice offset
            off_dt = np.int64 if pa.types.is_large_string(tcol.type) else np.int32
            bufs = tcol.buffers()
            offs = np.frombuffer(bufs[1], dtype=off_dt)[
                tcol.offset : tcol.offset + n + 1
            ].astype(np.int64)
            data = (
                np.frombuffer(bufs[2], dtype=np.uint8)
                if bufs[2] is not None
                else np.empty(0, dtype=np.uint8)
            )
            codes = data[offs[0] : offs[-1]]
            if codes.size and int(codes.max()) >= 0x80:
                lows = [t.lower() for t in tcol.to_pylist()]
                big = "\x00".join(lows)
                codes = np.frombuffer(big.encode("utf-32-le"), dtype=np.uint32)
                lens = np.fromiter(map(len, lows), dtype=np.int64, count=n)
                dct = d_str
            else:
                rel = offs - offs[0]
                codes = np.insert(codes, rel[1:-1], 0)  # a copy, also for n == 1
                codes[(codes >= 65) & (codes <= 90)] |= 0x20
                big = codes.tobytes()
                lens = np.diff(rel)
                dct = d_bytes
            if not codes.size:
                continue
            s_k, e_k = _match_spans(big, codes, dct)
            if not len(s_k):
                continue
            # row r's text spans [row_starts[r], row_starts[r] + lens[r])
            row_starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1] + 1, out=row_starts[1:])
            rows = np.searchsorted(row_starts, s_k, side="right") - 1
            rs = row_starts[rows]
            take = pa.array(rows)
            conv_out = pc.take(batch.column("conv_id"), take)
            if not pa.types.is_string(conv_out.type):
                conv_out = pc.cast(conv_out, pa.string())
            s_l = s_k.tolist()
            e_l = e_k.tolist()
            arrays = [
                conv_out,
                pc.cast(pc.take(batch.column("turn_idx"), take), pa.int32()),
                pa.array((s_k - rs).astype(np.int32)),
                pa.array((e_k - rs).astype(np.int32)),
                pa.array([big[s:e] for s, e in zip(s_l, e_l)], type=pa.string()),
            ]
            if with_context:
                rs_l = rs.tolist()
                re_l = (rs + lens[rows]).tolist()
                arrays.append(pa.array(
                    [big[a:s] for a, s in zip(rs_l, s_l)], type=pa.string()
                ))
                arrays.append(pa.array(
                    [big[e:b] for e, b in zip(e_l, re_l)], type=pa.string()
                ))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return gen


def extract_mentions(
    transcripts: DataFrame,
    surfaces: list[str],
    with_context: bool = True,
    id_bits: int = 64,
    partitioning: str = "repartition",
) -> DataFrame:
    """Extract dictionary mentions from `transcripts(conv_id, turn_idx, text)`.

    Returns (mention_id, conv_id, turn_idx, start_pos, end_pos, mention,
    context_left, context_right) with a stable mention_id derived from the
    stable ordering key (conv_id, turn_idx, start_pos) — W6: ids are data,
    never positions (unlike the reference's list indices).

    The token matcher `_gen_token_arrow` runs on the raw Arrow batches
    (`mapInArrow`); a dictionary with a surface it cannot match (not 1-3
    [a-z0-9]+ tokens joined by single spaces) runs the `_gen_regex`
    alternation in `mapInPandas` instead. Both give identical output where
    both apply (parity-pinned in tests/ against a row-loop reference).
    Raises ValueError for an empty or whitespace-only surface.

    `partitioning`: "repartition" (the batch entry points) hash-spreads the
    turns over one task per core; "auto" (small delta batches) coalesces
    instead when the input already has that many partitions.

    ID NOTE (ADVICE r1 / VERDICT r2 #7): with id_bits=64 (default),
    mention_id = xxhash64(conv_id, turn_idx, start_pos) as a long. At 10^12
    mentions, 64-bit birthday collisions (~10^4 expected) would merge
    unrelated mentions — pass id_bits=128 for the collision-safe id: a
    fixed-width 32-char hex string of TWO independently-seeded xxhash64
    values (collision odds ~(10^12)^2 / 2^129 ~ 10^-15). The 128-bit id is
    a string (16 extra bytes/row through shuffles); ordering is
    lexicographic, which is all the cluster-canonicalization contract needs
    (min is deterministic). The natural composite key (conv_id, turn_idx,
    start_pos) is ALSO emitted on every row — joins can always fall back to
    it; the extractor guarantees its uniqueness.
    """
    if id_bits not in (64, 128):
        raise ValueError(f"id_bits must be 64 or 128, got {id_bits}")
    if partitioning not in ("repartition", "auto"):
        raise ValueError(f"unknown partitioning: {partitioning!r}")
    _check_surfaces(surfaces)
    try:
        gen = _gen_token_arrow(surfaces, with_context)
        arrow_native = True
    except ValueError:
        gen = _gen_regex(surfaces, with_context)
        arrow_native = False

    # with_context=False skips materializing the left/right context slices
    # (each ~the whole turn text, PER MENTION) — the linkage pipeline never
    # reads them, and they dominate the mentions-stage checkpoint bytes
    cols = transcripts.select("conv_id", "turn_idx", "text")
    # own the parallelism (r1 finding: AQE coalesces small shuffle outputs
    # far below the core count, starving the CPU-heavy matcher). Measured
    # r4 at 24M turns, the no-shuffle layouts LOSE at high core counts:
    # coalescing the input splits into the task layout was ~1.8x slower at
    # local[8] (79s vs ~43s) while equal at local[2], and the raw splits
    # were a 40% regression at low core counts in r3 — the shuffle's
    # compact row batches feed the Python workers better than iterating
    # coarse cached/scan partitions. So only "auto"'s small batches skip it.
    # r8: the rebalance exchange hashes on (conv_id, turn_idx) instead of
    # round-robin. Round-robin pays a local sort of every input partition
    # before the exchange (spark.sql.execution.sortBeforeRepartition, kept
    # ON for retry determinism); the natural key needs no sort, is
    # deterministic under retries by construction, and is skew-free (the
    # hot-conversation factor rides conv_id alone, but (conv_id, turn_idx)
    # is per-turn-unique). Measured at the 2M-turn bench shape: extraction
    # noop 2.4-3.4s -> 1.9-2.1s, stage CPU 54-74 -> 45-50.
    #
    # Task granularity (r8, revisits the r3 "3 tasks per core" choice):
    # with hash-balanced equal tasks and the Arrow-native kernel, per-task
    # overhead (Arrow stream setup + extra batch boundaries + entering
    # Python) outweighs the straggler smoothing finer tasks buy — measured
    # at 2M turns / 32 cores: 32 tasks 1.3s/32 CPU-s, 64 tasks 1.6s/39,
    # 96 tasks 2.0s/47. Those ~0.23 CPU-s per extra task match what each
    # task then spent re-reading pyspark.zip and the Spark jar on entry
    # (0.2-0.5 CPU-s), which session.py now skips (launch-to-entry ~0.2 s
    # -> ~0.02 s, PYTHON_TASK_ENTRY.json). One wave is kept: it still keeps
    # every reused Python worker on a single continuous Arrow stream, but
    # the 32-core split has not been re-measured since.
    par = transcripts.sparkSession.sparkContext.defaultParallelism
    if partitioning == "auto" and cols.rdd.getNumPartitions() >= par:
        cols = cols.coalesce(par)
    else:
        cols = cols.repartition(par, F.col("conv_id"), F.col("turn_idx"))
    flat_map = cols.mapInArrow if arrow_native else cols.mapInPandas
    mentions = flat_map(gen, schema=_schema(with_context))
    # stable id from the ordering contract; xxhash64 is collision-safe enough
    # at test scale and avoids a global sort; a monotonic row_number variant
    # is available for strict density (used by datagen gold fixtures).
    if id_bits == 128:
        hi = F.xxhash64(F.lit("mid-hi"), "conv_id", "turn_idx", "start_pos")
        lo = F.xxhash64("conv_id", "turn_idx", "start_pos")
        return mentions.withColumn(
            "mention_id",
            F.concat(F.lpad(F.hex(hi), 16, "0"), F.lpad(F.hex(lo), 16, "0")),
        )
    return mentions.withColumn(
        "mention_id",
        F.xxhash64("conv_id", "turn_idx", "start_pos").cast("long"),
    )
