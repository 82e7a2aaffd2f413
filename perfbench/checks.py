"""Output checks: exact pairwise F1 by pair counting, and an
order-independent digest of a (node, component) result."""

from __future__ import annotations

from collections import Counter
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gold_keyed(mentions_gold: DataFrame) -> DataFrame:
    """(pid, k, label): each gold mention under the id the pipeline gives it
    (`extract_mentions`' xxhash64(conv_id, turn_idx, start_pos)), its
    FIXTURES F4 blocking key (2-char prefix) and its gold entity (-1 = NIL)."""
    return mentions_gold.select(
        F.xxhash64("conv_id", "turn_idx", "start_pos").alias("pid"),
        F.substring("mention", 1, 2).alias("k"),
        F.col("label_id").alias("label"),
    )


def pair_count_f1(cells: Iterable[tuple[object, object, int, int]]) -> dict[str, float]:
    """Pairwise P/R/F1 over all mention pairs sharing a key, from the
    (key, predicted cluster, gold label, count) contingency table.

    Same pair semantics as `eval.pairwise_f1` on enumerated F4 pairs: a pair
    is predicted iff both mentions have the same non-null cluster, and gold
    iff both share a label >= 0 (NIL mentions are singletons, F5). A gold
    mention missing from the result (cluster None) is an unlinked singleton.
    Counting C(n, 2) per cell avoids enumerating the hot key's quadratic pair
    set."""

    def pairs(n: int) -> int:
        return n * (n - 1) // 2

    tp = 0
    by_cluster: Counter = Counter()
    by_label: Counter = Counter()
    for key, cluster, label, n in cells:
        if cluster is not None:
            by_cluster[key, cluster] += n
        if label >= 0:
            by_label[key, label] += n
            if cluster is not None:
                tp += pairs(n)
    predicted = sum(pairs(n) for n in by_cluster.values())
    gold = sum(pairs(n) for n in by_label.values())
    fp, fn = predicted - tp, gold - tp
    p = tp / predicted if predicted else 1.0
    r = tp / gold if gold else 1.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"precision": p, "recall": r, "f1": f1, "tp": tp, "fp": fp, "fn": fn}


def contingency(clusters: DataFrame, gold: DataFrame) -> list[tuple[object, object, int, int]]:
    """(key, cluster, label, count) cells of `gold_keyed` rows against a
    (node, component) result; gold mentions the result lacks get cluster
    None."""
    pred = clusters.select(F.col("node").alias("pid"), F.col("component").alias("c"))
    rows = gold.join(pred, "pid", "left").groupBy("k", "c", "label").count().collect()
    return [(r["k"], r["c"], r["label"], r["count"]) for r in rows]


def digest(clusters: DataFrame) -> tuple[int, int]:
    """(rows, sum of xxhash64(node, component)): equal for equal row
    multisets whatever the row order or partitioning."""
    r = clusters.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("node", "component").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)
