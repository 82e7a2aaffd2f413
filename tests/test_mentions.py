"""Mention extraction (U1): the per-turn text-equality invariant — the
reference's assert `mention == ' '.join(tokens[start:end+1])`
(create_BLINK_zeshel_data.py:115) adapted to char offsets."""

from __future__ import annotations

import re

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from blink_reloaded_spark import datagen
from blink_reloaded_spark.operators.mentions import (
    MENTION_SCHEMA_SLIM,
    _gen_regex,
    _gen_token_arrow,
    extract_mentions,
)
from mention_reference import arrow_rows, gen_token_loop, pandas_rows

_ALL_COLS = ["conv_id", "turn_idx", "start_pos", "end_pos", "mention",
             "context_left", "context_right"]


def test_extraction_offsets_reconstruct_text(spark):
    cat = datagen.EntityCatalog.build(n_entities=20)
    tr, gold = datagen.generate_transcripts(
        spark, cat, n_convs=15, turns_per_conv=5, hot_conv_factor=3
    )
    surfaces = [a["surface"] for a in cat.aliases]
    m = extract_mentions(tr, surfaces)
    joined = m.join(tr.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
    bad = joined.where(
        F.col("mention")
        != F.lower(F.expr("substring(text, start_pos + 1, end_pos - start_pos)"))
    ).count()
    assert bad == 0
    # context slices partition the turn exactly (main_dense.py:85-92)
    bad_ctx = joined.where(
        F.concat("context_left", "mention", "context_right") != F.lower("text")
    ).count()
    assert bad_ctx == 0


def test_extraction_finds_all_gold_mentions(spark):
    cat = datagen.EntityCatalog.build(n_entities=20)
    tr, gold = datagen.generate_transcripts(
        spark, cat, n_convs=15, turns_per_conv=5, hot_conv_factor=3
    )
    surfaces = [a["surface"] for a in cat.aliases]
    m = extract_mentions(tr, surfaces)
    missing = gold.join(
        m.select("conv_id", "turn_idx", "start_pos"),
        ["conv_id", "turn_idx", "start_pos"],
        "left_anti",
    ).count()
    assert missing == 0


def test_multi_occurrence_and_case(spark):
    tr = spark.createDataFrame(
        [("c1", 0, "Acme met acme; then ACME left.")],
        "conv_id string, turn_idx int, text string",
    )
    m = extract_mentions(tr, ["acme"]).collect()
    assert len(m) == 3
    assert all(r["mention"] == "acme" for r in m)
    assert sorted(r["start_pos"] for r in m) == [0, 9, 20]


def test_token_matcher_equals_regex(spark):
    """The production extractor must reproduce the row-loop and regex
    references exactly on the full fixture (same rows, same offsets, same
    contexts)."""
    cat = datagen.EntityCatalog.build(n_entities=40)
    tr, _ = datagen.generate_transcripts(
        spark, cat, n_convs=30, turns_per_conv=6, hot_conv_factor=3
    )
    surfaces = [a["surface"] for a in cat.aliases]
    got = sorted(map(tuple, extract_mentions(tr, surfaces).select(_ALL_COLS).collect()))
    pdf = tr.select("conv_id", "turn_idx", "text").toPandas()
    assert got == pandas_rows(gen_token_loop, surfaces, pdf)
    assert got == pandas_rows(_gen_regex, surfaces, pdf)
    assert len(got) > 0


def test_non_token_surface_falls_back(spark):
    tr = spark.createDataFrame(
        [("c1", 0, "price is $9.99 today")], "conv_id string, turn_idx int, text string"
    )
    m = extract_mentions(tr, ["$9.99", "today"]).collect()  # regex fallback
    assert sorted(r["mention"] for r in m) == ["$9.99", "today"]


def test_longest_match_wins(spark):
    tr = spark.createDataFrame(
        [("c1", 0, "acme corp called")], "conv_id string, turn_idx int, text string"
    )
    m = extract_mentions(tr, ["acme", "acme corp"]).collect()
    assert len(m) == 1 and m[0]["mention"] == "acme corp"


def test_arrow_matcher_equals_references_adversarial(spark):
    """The Arrow kernel vs the row-loop and regex references on the nasty
    cases: overlap chains, multi-space gaps, punctuation gaps, row
    boundaries, unicode, empties. Every column, contexts included, in every
    batch shape the kernel meets: mixed ASCII/non-ASCII, one row per batch
    (both front ends alone), a large_string text column, and a sliced batch
    (non-zero Arrow offset)."""
    rows = [
        ("c1", 0, "a b c d"),                      # chain: greedy a b, c d
        ("c1", 1, "a  b"),                         # double space: no 2-gram
        ("c1", 2, "a-b and a b"),                  # punct gap vs space gap
        ("c1", 3, ""),                             # empty
        ("c1", 4, None),                           # null
        ("c2", 0, "x a b c y c d"),                # mid-row chains
        ("c2", 1, "café a b"),                     # non-ascii before match
        ("c2", 2, "b c"),                          # row starts with match
        ("c2", 3, "AGG Part SPARK"),               # case folding
        ("c2", 4, "a"),                            # row == match
        # 'İ' lowers to two chars ('i' + U+0307): later offsets shift by one
        ("c3", 0, "İbm met a b at İ"),
        # the Kelvin sign lowers to ASCII 'k', which tokenizes
        ("c3", 1, "\u212aelvin c d \u212a"),
        ("c3", 2, "spark c"),                      # ASCII after unicode rows
    ]
    surfaces = ["a b", "b c", "c d", "a", "agg part", "spark", "c", "bm", "i",
                "kelvin", "k"]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    ref = pandas_rows(gen_token_loop, surfaces, pdf)
    assert ref == pandas_rows(_gen_regex, surfaces, pdf)
    assert {"i", "bm", "kelvin", "k"} <= {r[4] for r in ref}

    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    assert arrow_rows(_gen_token_arrow, surfaces, batch) == ref
    one_per_batch = sorted(
        r for i in range(len(rows))
        for r in arrow_rows(_gen_token_arrow, surfaces, batch.slice(i, 1))
    )
    assert one_per_batch == ref
    large = pa.RecordBatch.from_arrays(
        [batch.column(0), batch.column(1), batch.column(2).cast(pa.large_string())],
        names=batch.schema.names,
    )
    assert arrow_rows(_gen_token_arrow, surfaces, large) == ref
    sliced = pandas_rows(gen_token_loop, surfaces, pdf.iloc[3:12])
    assert arrow_rows(_gen_token_arrow, surfaces, batch.slice(3, 9)) == sliced
    assert arrow_rows(_gen_token_arrow, surfaces, large.slice(3, 9)) == sliced

    # the production extractor, through Spark's batching
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    ).repartition(3)
    got = sorted(map(tuple, extract_mentions(tr, surfaces).select(_ALL_COLS).collect()))
    assert got == ref


def test_mention_ids_equal_reference_fixture(spark):
    """mention_ids of the production extractor on the generated fixture
    equal those of the row-loop reference's rows (the id hashes the
    offsets, so id equality pins the whole contract)."""
    cat = datagen.EntityCatalog.build(n_entities=40)
    tr, _ = datagen.generate_transcripts(
        spark, cat, n_convs=30, turns_per_conv=6, hot_conv_factor=3
    )
    surfaces = [a["surface"] for a in cat.aliases]
    cols = ["mention_id", "conv_id", "turn_idx", "start_pos", "end_pos", "mention"]
    got = sorted(map(tuple, extract_mentions(
        tr, surfaces, with_context=False).select(cols).collect()))
    ref_pdf = pd.concat(list(gen_token_loop(surfaces, with_context=False)(
        iter([tr.select("conv_id", "turn_idx", "text").toPandas()]))))
    ref = spark.createDataFrame(ref_pdf, MENTION_SCHEMA_SLIM).withColumn(
        "mention_id", F.xxhash64("conv_id", "turn_idx", "start_pos").cast("long")
    )
    assert got == sorted(map(tuple, ref.select(cols).collect()))
    assert len(got) > 0


def test_blank_surface_is_rejected(spark):
    """An empty or whitespace-only surface would match the empty string
    between any two non-token chars (e.g. at the end of "globex.") and
    put every such mention in one cluster; it is rejected by name."""
    tr = spark.createDataFrame(
        [("c1", 0, "acme met globex.")], "conv_id string, turn_idx int, text string"
    )
    for blank in ["", "  "]:
        with pytest.raises(ValueError, match=re.escape(repr(blank))):
            extract_mentions(tr, ["acme", blank])
