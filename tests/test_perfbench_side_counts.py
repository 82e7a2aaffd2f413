"""perfbench's traced run (`perfbench/run.py --trace 1`) is the only reader
of some pipeline fields (`cos_source`, `max_entity_block`) and of the
`blocking_keys` / `two_phase_scored_pairs` keywords it passes in
`_side_counts`. Running `_side_counts` here for both SPECS pipelines makes
a renamed field or keyword fail in tier-1, not in a traced benchmark run;
its key counts must match the keys `build_candidates_from` blocks on. The
traced run's blocking and scoring layers call the public stage builders
on perfbench's own surfaces table; their links must equal `run_links`'.
Its clustering and expand layers keep the star-components chain over
those links; their digest must equal `run()`'s, or `--trace 1` reports an
incorrect run."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from blink_reloaded_spark import datagen
from blink_reloaded_spark.operators.clustering import star_components
from blink_reloaded_spark.operators.mentions import extract_mentions
from blink_reloaded_spark.plans.pipeline import ENTITY_ID_OFFSET

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
import checks  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def inputs(spark):
    cat = datagen.EntityCatalog.build(n_entities=60, seed=3)
    tr, _ = datagen.generate_transcripts(
        spark, cat, n_convs=30, turns_per_conv=8, hot_conv_factor=4
    )
    surfaces = [a["surface"] for a in cat.aliases]
    m = extract_mentions(tr, surfaces, with_context=False).select(
        "mention_id", "mention"
    ).localCheckpoint()
    ents = cat.entities_df(spark)
    return tr, ents, surfaces, m, workloads._surfaces(m, ents).localCheckpoint()


@pytest.fixture(scope="module")
def surf(inputs):
    return inputs[-1]


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


@pytest.mark.parametrize("name", sorted(workloads.SPECS))
def test_traced_layers_match_run_links(spark, inputs, name):
    tr, ents, surfaces, m, surf = inputs
    pipe = workloads.new_pipeline(spark, workloads.SPECS[name])
    # traced_run's "blocking" and "scoring" layers
    cands = pipe.build_candidates_from(surf).localCheckpoint(eager=True)
    links = pipe.build_links_from(cands, surf, assume_partitioned=True)
    got = {
        (r["surf_text"], ENTITY_ID_OFFSET - r["b"], r["score"]) for r in links.collect()
    }
    want = {
        tuple(r)
        for r in pipe.run_links(tr, ents, surfaces=surfaces)
        .where("entity_id >= 0")
        .join(m, "mention_id")
        .select("mention", "entity_id", "score")
        .collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.parametrize("name", sorted(workloads.SPECS))
def test_traced_clustering_and_expand_give_run_digest(spark, inputs, name):
    tr, ents, surfaces, m, surf = inputs
    pipe = workloads.new_pipeline(spark, workloads.SPECS[name])
    # traced_run's "scoring", "clustering" and "expand" layers
    cands = pipe.build_candidates_from(surf).localCheckpoint(eager=True)
    links = pipe.build_links_from(cands, surf, assume_partitioned=True)
    comps = star_components(links.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    got = checks.digest(workloads._expand(m, surf, comps))
    assert got == checks.digest(pipe.run(tr, ents, surfaces=surfaces))
    assert got[0] == m.count()
