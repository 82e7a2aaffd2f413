"""Pairwise scoring — the cross-encoder analogue (U4; reference
`blink/crossencoder/crossencoder.py:130-139` scores mention×candidate pairs,
`blink/candidate_ranking/bert_reranking.py:106-160` the reranker variant).

Features per pair, all Arrow-batched / JVM-side (north_rule F11):
* Jaro-Winkler (numpy-vectorized, functions/similarity.py)
* normalized Levenshtein (Spark built-in, JVM)
* token-set Jaccard and token containment (array intersection, JVM)
* embedding dot product (numpy-vectorized, functions/embedding.py)

The two numpy features run where the pairs are made: inside the KB join's
probe kernel (operators/blocking.probe_candidates, then the JVM tail
`score_probed_pairs`), and as pandas UDFs over the KB-free self-join's pairs
(`two_phase_scored_pairs`).

Combined score = fixed convex combination (deterministic — the parity
requirement F1>=0.99 demands the scorer be a pure function of the pair text,
SURVEY.md §7.3e). Threshold -> match edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_reloaded_spark.functions.embedding import dot_product_udf
from blink_reloaded_spark.functions.similarity import (
    jaccard_from_counts,
    jaro_winkler_udf,
    levenshtein_sim,
)
from blink_reloaded_spark.functions.text import tokens

# weights: char-level evidence (jw, lev, char-trigram cosine) carries typo'd
# variants; `overlap` (token containment) catches head-word abbreviations
# like "acme" ~ "acme corp" that edit distance under-scores
W_JW, W_LEV, W_OVL, W_COS = 0.40, 0.15, 0.20, 0.25
DEFAULT_THRESHOLD = 0.60
# cos is clamped to >= 0 and the vectors are L2-normalized, so the cos term
# contributes at most W_COS * COS_MAX to the final score (COS_MAX absorbs the
# 6dp rounding of a dot product that exceeds 1.0 by float noise). The prune
# slack covers the two remaining 6dp roundings in the bound derivation
# (final-score round-down on the comparison pair, round-up on the max pair:
# 2 * 5e-7), doubled again for comfort — selectivity cost is nil.
COS_MAX = 1.000001
_PRUNE_SLACK = 2e-6


def _cos_col(a_vec: str, b_vec: str) -> F.Column:
    # clamp at 0: sign-hash cosine of short strings is noisy below zero
    # and anti-similarity carries no signal for linking
    return F.greatest(
        F.round(dot_product_udf(F.col(a_vec), F.col(b_vec)), 6),
        F.lit(0.0),
    )


def _full_score_col() -> F.Column:
    """Combined score from already-present feature columns (jw, lev_sim,
    overlap, cos). ONE definition shared by score_pairs and the two-phase
    pruned path — the pruning proof relies on both producing bit-identical
    scores."""
    return F.round(
        F.col("jw") * W_JW
        + F.col("lev_sim") * W_LEV
        + F.col("overlap") * W_OVL
        + F.col("cos") * W_COS,
        6,
    )


def text_features(
    pairs: DataFrame,
    a_text: str = "a_text",
    b_text: str = "b_text",
    a_toks: str | None = None,
    b_toks: str | None = None,
) -> DataFrame:
    """Append the JVM text feature columns: lev_sim, jacc, overlap."""
    ta = F.col(a_toks) if a_toks else tokens(F.col(a_text))
    tb = F.col(b_toks) if b_toks else tokens(F.col(b_text))
    n_inter = F.size(F.array_intersect(ta, tb))
    overlap = F.round(
        n_inter / F.greatest(F.least(F.size(ta), F.size(tb)), F.lit(1)).cast("double"),
        6,
    )
    return (
        pairs.withColumn("lev_sim", levenshtein_sim(F.col(a_text), F.col(b_text)))
        .withColumn("jacc", jaccard_from_counts(n_inter, F.size(ta), F.size(tb)))
        .withColumn("overlap", overlap)
    )


def pair_features(
    pairs: DataFrame,
    a_text: str = "a_text",
    b_text: str = "b_text",
    a_toks: str | None = None,
    b_toks: str | None = None,
) -> DataFrame:
    """Append the CHEAP (text-only) feature columns: jw, lev_sim, jacc,
    overlap. No vectors touched — this is phase 1 of the two-phase scorer."""
    return text_features(
        pairs.withColumn("jw", jaro_winkler_udf(F.col(a_text), F.col(b_text))),
        a_text, b_text, a_toks, b_toks,
    )


def score_pairs(
    pairs: DataFrame,
    a_text: str = "a_text",
    b_text: str = "b_text",
    a_vec: str = "a_vec",
    b_vec: str = "b_vec",
    a_toks: str | None = None,
    b_toks: str | None = None,
) -> DataFrame:
    """Append feature + `score` columns to a pair DataFrame.

    PERF: pass pre-tokenized array columns via `a_toks`/`b_toks` on hot
    paths — the token features otherwise embed the normalize-regex +
    split subtree several times PER PAIR (sibling expressions are not
    CSE'd), and the texts repeat across pairs (tokenize once per distinct
    surface in the node table, ship the small array through the join).
    `cos` is the dot product of the (L2-normalized) `a_vec`/`b_vec`
    columns, computed by the Arrow-vectorized embedding.dot_product_udf."""
    out = pair_features(pairs, a_text, b_text, a_toks, b_toks)
    out = out.withColumn("cos", _cos_col(a_vec, b_vec))
    return out.withColumn("score", _full_score_col())


def two_phase_scored_pairs(
    cands: DataFrame,
    nodes: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    argmax_prune: bool = False,
    cos_source: str = "recompute",
    assume_partitioned: bool = False,
) -> DataFrame:
    """Score candidate pairs WITHOUT shipping the embedding vectors through
    the pair shuffle (VERDICT r2 #1: at a 20k-entity catalogue the old plan
    pushed 2x256 floats ~2KB per candidate pair through the join — the
    large-catalogue scale-killer).

    Reference shape: the cross-encoder only ever sees the retrieval top-k
    (`blink/main_dense.py:449-451`); here additionally the EXPENSIVE half of
    the score (the embedding dot product) only ever sees pairs that cheap
    text evidence cannot rule out.

    PRECONDITION (ADVICE r3): `vec` must hold (near-)unit-norm vectors —
    the prune bound below assumes cos <= COS_MAX, which only holds for
    L2-normalized embeddings (hashed_embedding_udf emits them; external
    callers must normalize, or pairs whose dot product exceeds COS_MAX
    would be silently mis-pruned).

    Phase 1: join ONLY (text, tk) onto the pairs (~100B/row), compute the
    cheap features, cheap = jw*W_JW + lev*W_LEV + overlap*W_OVL.
    Phase 2 prune — PROVABLY LOSSLESS, not a heuristic: the cos term is
    clamped to [0, COS_MAX], so for any pair
        cheap <= full score <= cheap + W_COS*COS_MAX.
    A pair can only reach `threshold` if cheap >= threshold - W_COS*COS_MAX,
    and (argmax_prune) can only be its mention's argmax if
    cheap >= max_cheap(a) - W_COS*COS_MAX (the current cheap-max is a lower
    bound on the group's best full score). Survivors then get the cos term
    (see `cos_source`) and the exact full score.

    Returns (a, b, jw, lev_sim, jacc, overlap, cos, score) with `score`
    bit-identical to score_pairs on every surviving pair. Guarantee by mode:
    * argmax_prune=False — superset of {pairs with full score >= threshold},
      so BOTH `match_edges(out, threshold)` AND `link_best(out, threshold)`
      equal the unpruned plan exactly (a pruned pair has full < threshold,
      so it can never be an ACCEPTED argmax; if the group max clears the
      threshold, that max pair survives and max-over-survivors =
      max-over-all). This is the default pipeline mode: one pass, zero
      extra shuffles.
    * argmax_prune=True — additionally prunes against the per-`a` cheap max
      (a window pass: +1 shuffle of the feature frame). Only `link_best` is
      preserved; threshold-passing non-argmax pairs MAY be pruned. Measured
      at a 20k-entity catalogue the extra prune removed only ~13% more
      pairs and cost ~3x links wall — keep False unless the dot product on
      survivors dominates (e.g. much wider vectors).
    Both modes pinned by tests/test_pipeline.py::test_two_phase_scoring_parity.

    `nodes`: (id, text, tk[, vec]), the node table of both pair sides.
    There is no rebalance before the feature UDFs: the join chain already
    spreads pair rows by hash(b) then hash(a), per-key row counts are
    bounded upstream (top-k budget / max_block), and an extra exchange was
    a pure stage-boundary cost (VERDICT r3 #1a).

    `cos_source` (r5, VERDICT r4 #4 — the links chain's residual fixed
    latency was its shuffle-stage boundaries): "join" ships the stored
    `vec` columns to survivors through two id joins (the general path —
    works for ANY vectors, e.g. real model embeddings); "recompute" (the
    default, and the pipeline's setting) re-derives cos from the surviving
    pair's TEXTS via embedding.pair_cos_from_text_udf — bit-identical
    scores when `vec` IS the hashed text embedding (the pipeline's case;
    parity pinned by tests/test_pipeline.py::test_cos_recompute_parity)
    and removes BOTH vector joins and their four exchanges; nodes then
    needs no `vec` column at all. At 10^12 turns "recompute" is also the right
    cluster shape for hashed embeddings: the join path shuffles two
    |surfaces|-row ~1KB/row vec tables per run, the recompute path does a
    numpy pass over survivor texts with in-batch distinct-string dedup.

    `assume_partitioned` (r5): skip the initial repartition("a") when the
    caller KNOWS `cands` is already physically hash(a)-partitioned with
    adequate parallelism (the pipeline's candidates stage ends in exactly
    that layout and an in-run cut preserves physical partitions) — the
    repartition would be a redundant full exchange of the pair frame. The
    planner has forgotten the layout (ExistingRDD), so anything requiring
    hash(a) downstream still inserts its own exchange — but in recompute
    mode only the post-aggregation skinny frame ever needs one. Leave
    False for inputs read from parquet (a ~12MB checkpoint reads back as
    ONE split — serial UDFs).

    PLAN SHAPE (VERDICT r3 #1a — every exchange here is a shuffle-stage
    boundary of serial driver/AQE latency, so the chain is ordered to
    reuse partitioning): texts join (a then b) leaves the pair frame
    partitioned by b -> the b-side vector join needs no left exchange ->
    the a-side vector join is the ONE wide-ish pair exchange (carries
    b_vec) and leaves the frame partitioned by a -> link_best's groupBy(a)
    and the pipeline's surface-text join run exchange-free on top. In
    cos_source="recompute" mode the chain is flat: texts join (broadcast
    for bounded dims) -> feature UDFs -> prune filter -> cos UDF -> score,
    no pair exchange at all.
    """
    if cos_source not in ("join", "recompute"):
        raise ValueError(f"cos_source must be 'join' or 'recompute': {cos_source}")
    na_t = nodes.select(
        F.col("id").alias("a"), F.col("text").alias("a_text"), F.col("tk").alias("a_tk")
    )
    nb_t = nodes.select(
        F.col("id").alias("b"), F.col("text").alias("b_text"), F.col("tk").alias("b_tk")
    )
    # hash-repartition the SKINNY id-pair frame (16B/row — the cheapest
    # possible spot for the one unconditional exchange): (1) guarantees UDF
    # parallelism whatever the input partitioning (a checkpointed candidate
    # table often reads back as ONE split); (2) gives the planner a known
    # hash(a) distribution that the text join reuses; (3) per-`a` row
    # counts are bounded upstream (top-k budget / max_block), so hash(a)
    # is balanced by construction — the salted-rebalance property of the
    # old round-robin, without shuffling the WIDE text frame.
    tp = cands if assume_partitioned else cands.repartition("a")
    tp = tp.join(na_t, "a").join(nb_t, "b")
    feats = pair_features(tp, a_toks="a_tk", b_toks="b_tk").withColumn(
        "cheap",
        F.col("jw") * W_JW + F.col("lev_sim") * W_LEV + F.col("overlap") * W_OVL,
    )
    margin = W_COS * COS_MAX + _PRUNE_SLACK
    bound = F.lit(float(threshold))
    if argmax_prune:
        # per-`a` cheap max via a WINDOW, not groupBy+join-back: the feats
        # subtree embeds the JW pandas UDF over every pair, and two
        # consumers of an unmaterialized frame would execute that subtree
        # TWICE (measured: 2x links-stage wall at a 20k-entity catalogue).
        # The window is one shuffle + one pass; per-`a` row counts are
        # bounded by the blocking budget (max_block pairing / top-k), so
        # the single-task-per-key frame is never hot.
        from pyspark.sql.window import Window

        feats = feats.withColumn(
            "__mxc", F.max("cheap").over(Window.partitionBy("a"))
        )
        bound = F.greatest(F.col("__mxc"), bound)
    survivors = feats.where(F.col("cheap") >= bound - F.lit(margin)).select(
        "a", "b", "a_text", "b_text", "jw", "lev_sim", "jacc", "overlap"
    )
    if cos_source == "recompute":
        from blink_reloaded_spark.functions.embedding import (
            pair_cos_from_text_udf,
        )

        scored = survivors.withColumn(
            "cos",
            F.greatest(
                F.round(
                    pair_cos_from_text_udf(F.col("a_text"), F.col("b_text")), 6
                ),
                F.lit(0.0),
            ),
        ).withColumn("score", _full_score_col())
        return scored.select(
            "a", "b", "a_text", "b_text", "jw", "lev_sim", "jacc", "overlap",
            "cos", "score",
        )
    va = nodes.select(F.col("id").alias("a"), F.col("vec").alias("a_vec"))
    vb = nodes.select(F.col("id").alias("b"), F.col("vec").alias("b_vec"))
    # b-vec first (survivors are already partitioned by b), a-vec last so
    # downstream per-`a` consumers (link_best) inherit hash(a) partitioning
    scored = (
        survivors.join(vb, "b")
        .join(va, "a")
        .withColumn("cos", _cos_col("a_vec", "b_vec"))
        .withColumn("score", _full_score_col())
    )
    return scored.select(
        "a", "b", "a_text", "b_text", "jw", "lev_sim", "jacc", "overlap", "cos", "score"
    )


def score_probed_pairs(
    cands: DataFrame, a_nodes: DataFrame, b_nodes: DataFrame
) -> DataFrame:
    """Full scores of the KB join's candidates, JVM only: `cands` carries
    the probe kernel's jw and raw cos (blocking.probe_candidates), so the
    tail joins (text, tk) of both sides — (id, text, tk) node tables, the
    a side's with its surf_min too — adds the JVM text features, rounds
    and clamps cos exactly as the column forms do (_cos_col) and combines
    the score. Returns (a, b, a_text, b_text, surf_min, jw, lev_sim, jacc,
    overlap, cos, score), the score bit-identical to score_pairs on the
    same pair.

    No prune: the two-phase bound only saved cos work, which the kernel
    has already done. Both node tables are broadcast, so the only exchange
    left is link_best's partial-aggregate one: the b side holds the rows
    the driver built the entity index from, and the a side one row per
    distinct mention surface. Left to the planner, a checkpointed pair
    frame has no size estimate: it planned a sort-merge join that
    shuffled both sides before AQE turned it into a broadcast (two more
    stages per run). KNOWN LIMIT: like the index, both broadcasts are
    sized by the distinct surfaces, not by the corpus."""
    na = a_nodes.select(
        F.col("id").alias("a"), F.col("text").alias("a_text"), F.col("tk").alias("a_tk"),
        "surf_min",
    )
    nb = b_nodes.select(
        F.col("id").alias("b"), F.col("text").alias("b_text"), F.col("tk").alias("b_tk")
    )
    pairs = (
        cands.select("a", "b", "jw", "cos")
        .join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
    )
    scored = (
        text_features(pairs, a_toks="a_tk", b_toks="b_tk")
        .withColumn("cos", F.greatest(F.round(F.col("cos"), 6), F.lit(0.0)))
        .withColumn("score", _full_score_col())
    )
    return scored.select(
        "a", "b", "a_text", "b_text", "surf_min", "jw", "lev_sim", "jacc", "overlap",
        "cos", "score",
    )


def match_edges(scored: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """Filter accepted pairs -> (src, dst) edge list for clustering."""
    return scored.where(F.col("score") >= threshold).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )


def link_best(
    scored: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    carry: list[str] | None = None,
) -> DataFrame:
    """Per-mention argmax link (the reference's prediction:
    `np.argmax(logits)` at `bert_reranking.py:223-227` / ranked output at
    `main_dense.py:563-582`): keep the top-1 candidate per `a`, accepted
    only above `threshold` (the serving app's score>0 filter,
    `blink/main.py:140-141`, generalized).

    Implemented as a two-phase max aggregation (lexicographic struct max:
    maximize score, tie-break minimal b) rather than a sort window:
    map-side partial aggregation means a hot mention surface with millions
    of candidate rows reduces locally on every task before one tiny shuffle
    — the skew-immunity the north rule wants from salting, by construction.

    `carry` (r5): extra columns of `scored` to ride the max struct and
    appear in the output — they take the winning row's values. For columns
    functionally dependent on `a` (e.g. a_text) this lets the caller skip
    a whole re-attachment join (one fewer exchange/broadcast per run).
    """
    carry = carry or []
    best = scored.groupBy("a").agg(
        F.max(
            F.struct(
                F.col("score"),
                (-F.col("b")).alias("negb"),
                F.col("b").alias("b"),
                *[F.col(c).alias(c) for c in carry],
            )
        ).alias("m")
    )
    return best.select(
        "a",
        F.col("m.b").alias("b"),
        F.col("m.score").alias("score"),
        *[F.col(f"m.{c}").alias(c) for c in carry],
    ).where(F.col("score") >= threshold)
