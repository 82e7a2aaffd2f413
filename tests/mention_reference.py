"""Reference mention matcher for the parity tests: the row-at-a-time token
loop that `operators.mentions._gen_token_arrow` vectorizes, plus helpers
that run a matcher on one batch and return its rows in a comparable form."""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa

from blink_reloaded_spark.operators.mentions import MENTION_SCHEMA, MENTION_SCHEMA_SLIM

_TOK_RX = re.compile(r"[a-z0-9]+")


def gen_token_loop(surfaces: list[str], with_context: bool = True):
    """Token-hash matcher, one row and one token at a time: tokenize the
    lowered turn, then match 1..3-token phrases against hash sets, longest
    first at each token not inside an earlier match. Multi-token phrases
    must be joined by exactly one space."""
    by_len: dict[int, set[str]] = {1: set(), 2: set(), 3: set()}
    for s in set(surfaces):
        toks = s.lower().split(" ")
        if 1 <= len(toks) <= 3 and all(_TOK_RX.fullmatch(t) for t in toks):
            by_len[len(toks)].add(s.lower())
        else:
            raise ValueError(f"token matcher supports 1-3 word-token surfaces: {s!r}")
    max_n = max((n for n, v in by_len.items() if v), default=1)
    names = (MENTION_SCHEMA if with_context else MENTION_SCHEMA_SLIM).fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {name: [] for name in names}
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                if not text:
                    continue
                low = text.lower()
                toks = [(m.start(), m.end()) for m in _TOK_RX.finditer(low)]
                last_end = -1
                for i in range(len(toks)):
                    start = toks[i][0]
                    if start < last_end:
                        continue  # inside a previous (longer) match
                    for n in range(min(max_n, len(toks) - i), 0, -1):
                        if not by_len[n]:
                            continue
                        end = toks[i + n - 1][1]
                        phrase = low[start:end]
                        if n > 1 and phrase.count(" ") != n - 1:
                            continue
                        if phrase in by_len[n]:
                            last_end = end
                            out["conv_id"].append(conv_id)
                            out["turn_idx"].append(turn_idx)
                            out["start_pos"].append(start)
                            out["end_pos"].append(end)
                            out["mention"].append(phrase)
                            if with_context:
                                out["context_left"].append(low[:start])
                                out["context_right"].append(low[end:])
                            break
            yield pd.DataFrame(out)

    return gen


def pandas_rows(factory, surfaces: list[str], pdf: pd.DataFrame,
                with_context: bool = True) -> list[tuple]:
    """Sorted output rows of a pandas-batch matcher run on `pdf`."""
    out = pd.concat(list(factory(surfaces, with_context)(iter([pdf]))),
                    ignore_index=True)
    return sorted(tuple(r) for r in out.itertuples(index=False))


def arrow_rows(factory, surfaces: list[str], batch: pa.RecordBatch,
               with_context: bool = True) -> list[tuple]:
    """Sorted output rows of an Arrow-batch matcher run on `batch`."""
    rows: list[tuple] = []
    for out in factory(surfaces, with_context)(iter([batch])):
        rows += zip(*(c.to_pylist() for c in out.columns))
    return sorted(rows)
