#!/usr/bin/env python
"""Diagnose kb_free recall (VERDICT r3 #3: GOLDEN_ROLLUP recall 0.9199 —
classify every missed gold pair as never-blocked (LSH miss) vs
blocked-but-underscored (threshold miss) vs transitivity-only, then sweep
the threshold to show the precision/recall trade that motivates the gate).

Reproduces the exact kb_free fixture of scripts/run_benchmark.py (30
entities / 30 convs / tpc 8 / hot 5 / threshold 0.8) and prints:
  * missed-pair classification counts + examples (surface level)
  * threshold sweep: precision/recall/f1 at 0.60..0.85
Diagnosis tool — the committed artifact is the rationale + numbers this
prints, recorded in run_benchmark.py's docstring / BASELINE.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from blink_reloaded_spark import datagen  # noqa: E402
from blink_reloaded_spark.eval import pairwise_f1  # noqa: E402
from blink_reloaded_spark.functions.embedding import hashed_embedding_udf  # noqa: E402
from blink_reloaded_spark.functions.hashing import xxhash64_mod  # noqa: E402
from blink_reloaded_spark.functions.text import tokens  # noqa: E402
from blink_reloaded_spark.operators.blocking import blocking_keys, candidate_pairs  # noqa: E402
from blink_reloaded_spark.operators.scoring import match_edges, two_phase_scored_pairs  # noqa: E402
from blink_reloaded_spark.plans.pipeline import LinkagePipeline, _prefix_key  # noqa: E402
from blink_reloaded_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark(app_name="kbfree-diag", master="local[8]",
                      shuffle_partitions=8)
    cat = datagen.EntityCatalog.build(n_entities=30)
    tr, me = datagen.generate_transcripts(
        spark, cat, n_convs=30, turns_per_conv=8, hot_conv_factor=5
    )
    me = me.localCheckpoint()
    pipe = LinkagePipeline(spark, threshold=0.8, collect_metrics=False)

    # -- rebuild the kb-free internals step by step -----------------------
    m_slim = me.select("mention_id", "mention")
    surf = (
        m_slim.select(F.col("mention").alias("text")).distinct()
        .select(F.xxhash64(F.lit("surf"), "text").alias("id"), "text")
        .withColumn("vec", hashed_embedding_udf(F.col("text")))
        .withColumn("tk", tokens(F.col("text")))
        .withColumn("prefix_key", _prefix_key("text"))
    ).localCheckpoint()
    keys = blocking_keys(
        surf, id_col="id", text_col="text", bands=pipe.bands, rows=pipe.rows,
        shingle_k=pipe.shingle_k, extra_key_cols=["prefix_key"],
        hash_fn=xxhash64_mod,
    )
    pairs = candidate_pairs(keys, max_block=pipe.max_block).localCheckpoint()
    scored = two_phase_scored_pairs(pairs, surf, threshold=0.0).localCheckpoint()

    # -- gold pairs at the SURFACE level ----------------------------------
    ms = me.select("mention_id", "label_id",
                   F.col("mention").alias("text")).join(
        surf.select(F.col("id").alias("sid"), "text"), "text"
    )
    sl = ms.select("sid", "label_id").distinct()
    gold_surf = (
        sl.alias("x").join(sl.alias("y"),
                           (F.col("x.label_id") == F.col("y.label_id"))
                           & (F.col("x.label_id") >= 0)
                           & (F.col("x.sid") < F.col("y.sid")))
        .select(F.col("x.sid").alias("sa"), F.col("y.sid").alias("sb"))
        .distinct()
        .localCheckpoint()
    )

    # -- predicted clusters at threshold 0.8 (the rollup config) ----------
    clusters = pipe.run_kb_free(tr, mentions=me).localCheckpoint()
    mc = me.select("mention_id", F.col("mention").alias("text")).join(
        clusters.select(F.col("node").alias("mention_id"), "component"),
        "mention_id",
    ).join(surf.select(F.col("id").alias("sid"), "text"), "text")
    surf_comp = mc.select("sid", "component").distinct()

    missed = (
        gold_surf.join(surf_comp.select(F.col("sid").alias("sa"),
                                        F.col("component").alias("ca")), "sa")
        .join(surf_comp.select(F.col("sid").alias("sb"),
                               F.col("component").alias("cb")), "sb")
        .where(F.col("ca") != F.col("cb"))
        .select("sa", "sb")
        .localCheckpoint()
    )
    n_gold = gold_surf.count()
    n_missed = missed.count()
    print(f"gold surface pairs: {n_gold}; missed (different predicted "
          f"cluster): {n_missed}")

    # -- classify ---------------------------------------------------------
    cp = pairs.select(
        F.least("a", "b").alias("sa"), F.greatest("a", "b").alias("sb")
    ).distinct()
    blocked = missed.join(cp, ["sa", "sb"], "left_semi")
    never_blocked = missed.join(cp, ["sa", "sb"], "left_anti")
    sc = scored.select(
        F.least("a", "b").alias("sa"), F.greatest("a", "b").alias("sb"),
        "score",
    )
    under = blocked.join(sc, ["sa", "sb"]).localCheckpoint()
    n_blocked = blocked.count()
    n_never = never_blocked.count()
    print(f"missed & blocked (threshold misses): {n_blocked}")
    print(f"missed & never blocked (LSH misses): {n_never}")
    txt = surf.select(F.col("id"), F.col("text"))
    print("\nscore distribution of blocked-but-missed direct pairs:")
    under.select(
        F.min("score"), F.expr("percentile(score, 0.5)"), F.max("score")
    ).show()
    print("examples (blocked, underscored):")
    (under.join(txt.select(F.col("id").alias("sa"), F.col("text").alias("ta")), "sa")
     .join(txt.select(F.col("id").alias("sb"), F.col("text").alias("tb")), "sb")
     .orderBy(F.desc("score")).select("ta", "tb", "score").show(15, False))
    print("examples (never blocked):")
    (never_blocked
     .join(txt.select(F.col("id").alias("sa"), F.col("text").alias("ta")), "sa")
     .join(txt.select(F.col("id").alias("sb"), F.col("text").alias("tb")), "sb")
     .select("ta", "tb").show(15, False))

    # -- threshold sweep on the SAME mention-level metric as the rollup ---
    a = me.select(F.col("mention_id").alias("mention_a"),
                  F.col("label_id").alias("la"),
                  F.substring("mention", 1, 2).alias("k"))
    b = me.select(F.col("mention_id").alias("mention_b"),
                  F.col("label_id").alias("lb"),
                  F.substring("mention", 1, 2).alias("k"))
    labeled = (a.join(b, "k").where(F.col("mention_a") < F.col("mention_b"))
               .withColumn("is_match",
                           (F.col("la") == F.col("lb")) & (F.col("la") >= 0))
               .select("mention_a", "mention_b", "is_match")).localCheckpoint()
    print("\nthreshold sweep (mention-level pairwise metrics):")
    for thr in (0.60, 0.65, 0.70, 0.75, 0.80, 0.85):
        c = pipe.run_kb_free(tr, mentions=me, threshold=thr)
        m = pairwise_f1(c, labeled)
        print(f"  thr={thr:.2f}: precision={m['precision']:.5f} "
              f"recall={m['recall']:.5f} f1={m['f1']:.5f}")


if __name__ == "__main__":
    main()
