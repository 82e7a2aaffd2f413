"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/test_helpers.py -q

The F1 test starts a small local SparkSession; the others are pure Python.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402


def test_interval_union_merges_overlaps_and_touching():
    got = tracing.interval_union([(5, 7), (0, 2), (1, 3), (3, 4), (9, 9), (8, 6)])
    assert got == [(0, 4), (5, 7)]


def test_covered_clips_to_window():
    ivs = [(0, 2), (1, 3), (5, 7), (10, 12)]
    assert tracing.covered(ivs, 2, 11) == pytest.approx(1 + 2 + 1)
    assert tracing.covered([], 0, 10) == 0
    assert tracing.covered([(0, 10)], 2, 4) == pytest.approx(2)


def test_window_idle_time_is_wall_minus_stage_union():
    stages = [
        tracing.StageRow(0, 4, 1.0, 3.0, 10),
        tracing.StageRow(1, 2, 2.0, 4.0, 20),  # overlaps 0
        tracing.StageRow(2, 1, 6.0, 7.0, 5),
        tracing.StageRow(3, 8, 20.0, 21.0, 99),  # outside
    ]
    w = tracing.window_stats(stages, jobs=[1.0, 6.0, 20.0], start=0.5, end=8.0)
    # busy = [1, 4] + [6, 7] = 4 s of a 7.5 s window
    assert w["idle_s"] == pytest.approx(3.5)
    assert (w["jobs"], w["stages"], w["tasks"]) == (2, 3, 7)
    assert w["shuffle_write_bytes"] == 35


def test_self_time_subtracts_child_coverage_once():
    spans = [
        Span("root", None, 0.0, 10.0),
        Span("a", "root", 1.0, 4.0),
        Span("b", "root", 3.0, 6.0),  # overlaps a: [1, 6] covered once
        Span("a1", "a", 1.5, 2.0),
        Span("late", "root", 9.0, 12.0),  # runs past its parent: clipped
    ]
    st = tracing.self_times(spans)
    assert st["root"] == pytest.approx(10 - 5 - 1)
    assert st["a"] == pytest.approx(3 - 0.5)
    assert st["b"] == pytest.approx(3)
    assert st["late"] == pytest.approx(3)


def test_tracer_nests_spans():
    tr = tracing.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (None, "outer")
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_pair_count_f1_by_hand():
    # key "ab": cluster 1 holds labels {7, 7, 8}, cluster 2 holds label 7
    # key "cd": cluster 3 holds two NIL mentions; one gold-7 mention unlinked
    cells = [
        ("ab", 1, 7, 2), ("ab", 1, 8, 1), ("ab", 2, 7, 1),
        ("cd", 3, -1, 2), ("cd", None, 7, 1),
    ]
    m = checks.pair_count_f1(cells)
    # predicted pairs: C(3,2) + C(2,2) = 4; gold pairs: C(3,2) in "ab" = 3
    assert (m["tp"], m["fp"], m["fn"]) == (1, 3, 2)


@pytest.fixture(scope="module")
def spark():
    from blink_reloaded_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"},
    )
    yield s


def test_pair_count_f1_equals_enumerated_pairwise_f1(spark):
    """The contingency-table F1 equals eval.pairwise_f1 over the F4 pair
    set enumerated explicitly, on a fixture with NIL mentions and an
    imperfect clustering. Every gold mention has a cluster, as in a pipeline
    output: eval.pairwise_f1 counts a pair with one side missing as a false
    negative only when the missing side is mention_a."""
    from pyspark.sql import functions as F

    from blink_reloaded_spark import datagen
    from blink_reloaded_spark.eval import pairwise_f1

    cat = datagen.EntityCatalog.build(n_entities=30, seed=3)
    _, gold = datagen.generate_transcripts(
        spark, cat, n_convs=20, turns_per_conv=5, hot_conv_factor=5
    )
    keyed = checks.gold_keyed(gold).cache()
    # a deliberately wrong clustering: gold entity modulo 4, NIL mentions
    # share one cluster, and every 7th mention is split off as a singleton
    clusters = keyed.select(
        F.col("pid").alias("node"),
        F.when(F.pmod("pid", F.lit(7)) == 0, F.col("pid"))
        .when(F.col("label") >= 0, F.pmod("label", F.lit(4)))
        .otherwise(-5)
        .alias("component"),
    )
    a = keyed.select(F.col("pid").alias("mention_a"), "k", F.col("label").alias("la"))
    b = keyed.select(F.col("pid").alias("mention_b"), "k", F.col("label").alias("lb"))
    pairs = (
        a.join(b, "k")
        .where(F.col("mention_a") < F.col("mention_b"))
        .select(
            "mention_a", "mention_b",
            ((F.col("la") == F.col("lb")) & (F.col("la") >= 0)).alias("is_match"),
        )
    )
    want = pairwise_f1(clusters, pairs)
    got = checks.pair_count_f1(checks.contingency(clusters, keyed))
    assert (got["tp"], got["fp"], got["fn"]) == (want["tp"], want["fp"], want["fn"])
    assert got["f1"] == pytest.approx(want["f1"])
    assert 0 < got["f1"] < 1


def test_digest_ignores_row_order(spark):
    df = spark.createDataFrame([(i, i // 3) for i in range(50)], "node long, component long")
    assert checks.digest(df) == checks.digest(df.orderBy("component", "node").repartition(5))
    assert checks.digest(df) != checks.digest(df.where("node != 7"))
