"""perfbench's traced run (`perfbench/run.py --trace 1`) is the only reader
of some pipeline fields (`cos_source`, `max_entity_block`) and of the
`blocking_keys` / `two_phase_scored_pairs` keywords it passes in
`_side_counts`. Running `_side_counts` here for both SPECS pipelines makes
a renamed field or keyword fail in tier-1, not in a traced benchmark run;
its key counts must match the keys `build_candidates_from` blocks on."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from blink_reloaded_spark import datagen
from blink_reloaded_spark.operators.mentions import extract_mentions

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def surf(spark):
    cat = datagen.EntityCatalog.build(n_entities=60, seed=3)
    tr, _ = datagen.generate_transcripts(
        spark, cat, n_convs=30, turns_per_conv=8, hot_conv_factor=4
    )
    m = extract_mentions(
        tr, [a["surface"] for a in cat.aliases], with_context=False
    ).select("mention_id", "mention")
    return workloads._surfaces(m, cat.entities_df(spark)).localCheckpoint()


@pytest.mark.parametrize("name", sorted(workloads.SPECS))
def test_side_counts_run_for_each_spec(spark, surf, name):
    pipe = workloads.new_pipeline(spark, workloads.SPECS[name])
    cands = pipe.build_candidates_from(surf).localCheckpoint()
    got = workloads._side_counts(pipe, surf, cands)

    keys = pipe._blocking_keys(surf, carry_cols=["is_mention"])
    sizes = keys.groupBy("block_key").count()
    assert got["blocking.keys_out"] == keys.count() > 0
    assert got["blocking.max_block_size"] == sizes.agg(F.max("count")).first()[0]
    assert 0 < got["scoring.survivors"] <= cands.count()
    if pipe.max_entity_block is None and pipe.max_key_pairs is None:
        assert got["blocking.keys_purged"] == 0
    else:
        assert 0 <= got["blocking.keys_purged"] < sizes.count()
