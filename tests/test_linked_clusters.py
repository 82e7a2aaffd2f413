"""run()'s clusters stage: one per-entity min over the argmax links
(`LinkagePipeline._linked_clusters`) broadcast onto the mentions. It must
give exactly what the generic chain gives — star components over the link
edges, min(surf_min) per component over the mention surfaces
(`_surface_clusters`), the left join back onto the mentions (`_expand`) —
and the mentions must not shuffle."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from blink_reloaded_spark import datagen
from blink_reloaded_spark.operators.clustering import star_components
from blink_reloaded_spark.plans.pipeline import ENTITY_ID_OFFSET, LinkagePipeline
from tests.test_plans import _find_node

P = LinkagePipeline


def _reference(m, surf, links):
    """The generic chain run() used before the links carried surf_min."""
    edges = links.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    return P._expand(m, P._surface_clusters(star_components(edges), surf))


def _linked(m, links):
    return P._expand(m, F.broadcast(P._linked_clusters(links)))


def _rows(df):
    return sorted(map(tuple, df.collect()))


@st.composite
def _link_sets(draw):
    """Mention surfaces with their mentions, some linked to one of a few
    entities (several surfaces may share one), the rest unlinked. surf_min
    is drawn from a small range, so surfaces tie on it; at id_bits=128 the
    ids are 32-char hex strings, whose string order is their number's."""
    id_bits = draw(st.sampled_from([64, 128]))
    n_surf = draw(st.integers(1, 8))
    n_ent = draw(st.integers(1, 3))
    mentions, surf, links = [], [], []
    next_id = 0
    for s in range(n_surf):
        text = f"surface {s}"
        n_m = draw(st.integers(1, 4))
        mentions += [(next_id + i, text) for i in range(n_m)]
        next_id += n_m
        sid = 10_000 + s
        smin = draw(st.integers(0, 6))
        surf.append((sid, text, True, smin))
        ent = draw(st.one_of(st.none(), st.integers(0, n_ent - 1)))
        if ent is not None:
            links.append((sid, ENTITY_ID_OFFSET - ent, 0.9, text, smin))
    surf += [(ENTITY_ID_OFFSET - e, f"surface {e}", False, None) for e in range(n_ent)]
    return id_bits, mentions, surf, links


def _ident(id_bits, x):
    return None if x is None else (f"{x:032x}" if id_bits == 128 else x)


def _frames(spark, id_bits, mentions, surf, links):
    t = "string" if id_bits == 128 else "long"
    m = spark.createDataFrame(
        [(_ident(id_bits, i), text) for i, text in mentions], f"mention_id {t}, mention string"
    )
    s = spark.createDataFrame(
        [(i, text, is_m, _ident(id_bits, smin)) for i, text, is_m, smin in surf],
        f"id long, text string, is_mention boolean, surf_min {t}",
    )
    lk = spark.createDataFrame(
        [(a, b, sc, text, _ident(id_bits, smin)) for a, b, sc, text, smin in links],
        f"a long, b long, score double, surf_text string, surf_min {t}",
    )
    return m, s, lk


@settings(max_examples=25, deadline=None)
@given(case=_link_sets())
# an empty link set: every mention stays a singleton
@example(case=(64, [(1, "x"), (2, "x"), (3, "y")], [(7, "x", True, 1)], []))
def test_linked_clusters_equal_star_component_chain(spark, case):
    id_bits, mentions, surf, links = case
    m, s, lk = _frames(spark, *case)
    got = _rows(_linked(m, lk))
    assert got == _rows(_reference(m, s, lk))
    assert len(got) == len(mentions)
    # unlinked surfaces' mentions are singletons
    linked = {text for _, _, _, text, _ in links}
    text_of = {_ident(id_bits, i): text for i, text in mentions}
    assert all(cid == node for node, cid in got if text_of[node] not in linked)


@pytest.fixture(scope="module")
def small(spark):
    cat = datagen.EntityCatalog.build(n_entities=40, seed=5)
    tr, me = datagen.generate_transcripts(
        spark, cat, n_convs=20, turns_per_conv=6, hot_conv_factor=4
    )
    return tr, cat.entities_df(spark), [a["surface"] for a in cat.aliases]


def test_run_equals_reference_chain_in_every_mode(spark, small, tmp_path):
    """run()'s (node, component) rows equal the generic chain over its own
    stages, with counter metrics on and off and through a checkpoint
    store (the clusters stage then reads the links back from parquet)."""
    tr, ents, surfaces = small
    pipe = LinkagePipeline(spark)
    m = pipe._extract(tr, surfaces, None).select("mention_id", "mention")
    surf = pipe._surfaces(m, "mention_id", ents).localCheckpoint()
    links = pipe.build_links_from(pipe.build_candidates_from(surf), surf)
    want = _rows(_reference(m, surf, links).withColumnRenamed("cluster_id", "component"))
    assert len({c for _, c in want}) < len(want)
    for kw in ({}, {"collect_metrics": False}, {"checkpoint_dir": str(tmp_path / "ck")}):
        got = LinkagePipeline(spark, **kw).run(tr, ents, surfaces=surfaces)
        assert _rows(got) == want, kw


def test_clusters_plan_broadcasts_onto_unshuffled_mentions(spark, small):
    """The mention frame is the stream side of one broadcast hash join: no
    Exchange below it and no sort-merge join anywhere in the stage (the
    star-components chain shuffled every mention into a sort-merge join)."""
    tr, ents, surfaces = small
    out = LinkagePipeline(spark, collect_metrics=False).run(tr, ents, surfaces=surfaces)
    plan = out._jdf.queryExecution().executedPlan()
    text = plan.toString()
    assert "SortMergeJoin" not in text, text
    bhj = _find_node(plan, "BroadcastHashJoin")
    assert bhj is not None, text
    assert "Exchange" not in bhj.children().apply(0).toString(), text
