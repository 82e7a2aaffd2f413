"""End-to-end linkage pipeline: pairwise F1 >= 0.99 (the BASELINE.json
acceptance metric), checkpoint resume equivalence, partitioning invariance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blink_reloaded_spark import datagen
from blink_reloaded_spark.eval import pairwise_f1
from blink_reloaded_spark.plans.pipeline import LinkagePipeline


@pytest.fixture(scope="module")
def fixture(spark):
    cat = datagen.EntityCatalog.build(n_entities=50)
    tr, me = datagen.generate_transcripts(
        spark, cat, n_convs=50, turns_per_conv=10, hot_conv_factor=10
    )
    return cat, tr.cache(), me.cache()


def _labeled_pairs(me):
    a = me.select(
        F.col("mention_id").alias("mention_a"),
        F.col("label_id").alias("la"),
        F.substring("mention", 1, 2).alias("k"),
    )
    b = me.select(
        F.col("mention_id").alias("mention_b"),
        F.col("label_id").alias("lb"),
        F.substring("mention", 1, 2).alias("k"),
    )
    return (
        a.join(b, "k")
        .where(F.col("mention_a") < F.col("mention_b"))
        .withColumn(
            "is_match", (F.col("la") == F.col("lb")) & (F.col("la") >= 0)
        )
        .select("mention_a", "mention_b", "is_match")
    )


def test_f1_above_target(spark, fixture):
    cat, tr, me = fixture
    pipe = LinkagePipeline(spark)
    clusters = pipe.run(tr, cat.entities_df(spark), mentions=me).cache()
    m = pairwise_f1(clusters, _labeled_pairs(me))
    assert m["precision"] == 1.0, m
    assert m["f1"] >= 0.99, m
    # stretch gate (achieved): perfect F1 + exact partition equality vs the
    # gold clusters on the standard fixture
    assert m["f1"] == 1.0, m
    from blink_reloaded_spark import datagen as dg
    from blink_reloaded_spark.eval import clusters_equal

    assert clusters_equal(clusters, dg.gold_clusters(me))
    # sanity on stage metrics (north_rule counter metrics)
    assert pipe.metrics["mentions"] == me.count()
    assert pipe.metrics["links"] > 0 and pipe.metrics["clusters"] > 0


def test_resume_from_checkpoint_identical(spark, fixture, tmp_path):
    cat, tr, me = fixture
    d = str(tmp_path / "ckpt")
    p1 = LinkagePipeline(spark, checkpoint_dir=d)
    c1 = p1.run(tr, cat.entities_df(spark), mentions=me)
    p2 = LinkagePipeline(spark, checkpoint_dir=d)
    c2 = p2.run(tr, cat.entities_df(spark), mentions=me)
    assert c1.exceptAll(c2).isEmpty() and c2.exceptAll(c1).isEmpty()


def test_clusters_invariant_under_repartition(spark, fixture):
    cat, tr, me = fixture
    ents = cat.entities_df(spark)
    c1 = LinkagePipeline(spark).run(tr, ents, mentions=me.repartition(1))
    c2 = LinkagePipeline(spark).run(tr, ents, mentions=me.repartition(13))
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))


def _clusters_from_links(links):
    """run()'s clustering rule applied to run_links output: mentions linked
    to one entity form a cluster with id = min mention id; NIL mentions
    (entity_id = -1) stay singletons."""
    cmin = (
        links.where("entity_id != -1")
        .groupBy("entity_id")
        .agg(F.min("mention_id").alias("cid"))
    )
    return links.join(cmin, "entity_id", "left").select(
        F.col("mention_id").alias("node"),
        F.coalesce("cid", "mention_id").alias("component"),
    )


@pytest.mark.parametrize("tuned", [False, True], ids=["default", "tuned20k"])
def test_run_links_agrees_with_run(spark, fixture, tuned):
    """run_links and run() share stages 2-4, so clusters derived from
    run_links' (mention, entity) links must equal run()'s (node, component)
    exactly — with the default and the large-catalogue parameter sets."""
    cat, tr, me = fixture
    ents = cat.entities_df(spark)
    pipe = (
        LinkagePipeline.tuned(spark, 20_000) if tuned else LinkagePipeline(spark)
    )
    got = _clusters_from_links(pipe.run_links(tr, ents, mentions=me))
    want = pipe.run(tr, ents, mentions=me)
    n = want.count()
    assert got.count() == n and n > 0
    diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    assert diff == 0, f"run_links-derived clusters diverged from run(): {diff}"


@pytest.fixture
def reliable_cuts(spark, tmp_path):
    """Call it to give the session an RDD checkpoint dir — what
    `spark.checkpoint.dir` sets at session start — so every in-run cut
    turns reliable; returns the dir. Cleared at teardown, so no later test
    inherits a global dir."""
    sc = spark.sparkContext

    def enable() -> str:
        sc.setCheckpointDir(str(tmp_path / "rdd_ckpt"))
        return sc.getCheckpointDir().removeprefix("file:")

    yield enable
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))


def _entry_outputs(spark, fixture, state_path):
    """Sorted output rows of every entry point over the fixture: run and
    run_links with the large-catalogue purge caps on (their key-table cuts
    run too), and two micro-batches through the streaming KB-free sink,
    whose first batch runs run_kb_free and whose second runs
    run_kb_free_append onto the first batch's state."""
    from blink_reloaded_spark.streaming.incremental import cluster_kb_free_sink

    cat, tr, me = fixture
    ents = cat.entities_df(spark)
    surfaces = [a["surface"] for a in cat.aliases]
    tuned = LinkagePipeline.tuned(spark, 20_000)
    assert tuned.max_key_pairs is not None
    sink = cluster_kb_free_sink(LinkagePipeline(spark), surfaces, state_path)
    sink(tr.where(F.crc32(F.col("conv_id")) % 2 == 0), 0)
    sink(tr.where(F.crc32(F.col("conv_id")) % 2 == 1), 1)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    state = spark.read.parquet(state_path)
    return {
        "run": rows(tuned.run(tr, ents, surfaces=surfaces)),
        "run_links": rows(tuned.run_links(tr, ents, mentions=me)),
        "sink/run_kb_free": rows(state.where("batch_id = 0")),
        "sink/run_kb_free_append": rows(state.where("batch_id = 1")),
    }


def test_run_links_reliable_never_local_checkpoints(spark, fixture, tmp_path,
                                                    monkeypatch, reliable_cuts):
    """Durability contract: once the session has an RDD checkpoint dir, no
    entry point may fall back to an executor-pinned localCheckpoint (blocks
    lost with an executor would fail the job on a cluster), the cuts land
    in that dir, and every output equals the plain session's."""
    import glob

    want = _entry_outputs(spark, fixture, str(tmp_path / "plain"))
    assert all(want.values()), {k: len(v) for k, v in want.items()}

    def forbidden(self, *a, **k):
        raise AssertionError("localCheckpoint called with a checkpoint dir set")

    rdd_dir = reliable_cuts()
    # the session's concrete class: classic DataFrame overrides the
    # pyspark.sql.DataFrame method, so patching the base is a no-op
    monkeypatch.setattr(type(spark.range(0)), "localCheckpoint", forbidden)
    got = _entry_outputs(spark, fixture, str(tmp_path / "reliable"))
    assert got == want
    assert glob.glob(f"{rdd_dir}/rdd-*")


def test_turn_text_preserved(spark, fixture):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    input_hint invariant: the pipeline never mutates the transcript table."""
    cat, tr, me = fixture
    rows = tr.orderBy("conv_id", "turn_idx").select("text").limit(50).collect()
    rows2 = tr.orderBy("conv_id", "turn_idx").select("text").limit(50).collect()
    assert [r["text"] for r in rows] == [r["text"] for r in rows2]


def test_two_phase_scoring_parity(spark, fixture):
    """two_phase_scored_pairs (vectors joined by id AFTER the cheap-score
    prune — VERDICT r2 #1) must be indistinguishable from the unpruned
    score_pairs plan at the consumer level:
    * argmax_prune=True  -> link_best output identical (pipeline path);
    * argmax_prune=False -> match_edges output identical (kb-free path),
    on an adversarial ALL-PAIRS candidate set (includes every pair the
    prune could possibly mishandle, not just blocked pairs)."""
    from blink_reloaded_spark.functions.embedding import hashed_embedding_udf
    from blink_reloaded_spark.functions.text import tokens
    from blink_reloaded_spark.operators.scoring import (
        link_best,
        match_edges,
        score_pairs,
        two_phase_scored_pairs,
    )

    cat, tr, me = fixture
    nodes = (
        me.select(F.lower(F.col("mention")).alias("text"))
        .distinct()
        .limit(120)
        .select(
            F.xxhash64("text").alias("id"),
            "text",
            hashed_embedding_udf(F.col("text")).alias("vec"),
            tokens(F.col("text")).alias("tk"),
        )
        .localCheckpoint()
    )
    a = nodes.select(F.col("id").alias("a"))
    b = nodes.select(F.col("id").alias("b"))
    cands = a.crossJoin(b).where(F.col("a") < F.col("b")).localCheckpoint()

    na = nodes.select(F.col("id").alias("a"), F.col("text").alias("a_text"),
                      F.col("vec").alias("a_vec"), F.col("tk").alias("a_tk"))
    nb = nodes.select(F.col("id").alias("b"), F.col("text").alias("b_text"),
                      F.col("vec").alias("b_vec"), F.col("tk").alias("b_tk"))
    full = score_pairs(
        cands.join(na, "a").join(nb, "b"),
        a_vec="a_vec", b_vec="b_vec", a_toks="a_tk", b_toks="b_tk",
    )

    thr = 0.6
    want_links = sorted(map(tuple, link_best(full, thr).collect()))
    got_links = sorted(map(tuple, link_best(
        two_phase_scored_pairs(cands, nodes, threshold=thr, argmax_prune=True,
                               cos_source="join"),
        thr,
    ).collect()))
    assert got_links == want_links

    want_edges = sorted(map(tuple, match_edges(full, thr).collect()))
    got_edges = sorted(map(tuple, match_edges(
        two_phase_scored_pairs(cands, nodes, threshold=thr, argmax_prune=False,
                               cos_source="join"),
        thr,
    ).collect()))
    assert got_edges == want_edges
    # the prune must actually prune on this corpus (vectors shipped for a
    # strict subset of pairs), else the two-phase plan is pure overhead
    n_all = cands.count()
    n_surv = two_phase_scored_pairs(
        cands, nodes, threshold=thr, argmax_prune=False, cos_source="join"
    ).count()
    assert n_surv < n_all


def test_cos_recompute_parity(spark, fixture):
    """cos_source='recompute' (r5: dot(embed(a_text), embed(b_text)) on
    prune survivors, zero vector joins) must produce BIT-IDENTICAL scored
    output to the stored-vector join path on an all-pairs adversarial set —
    same kernel, same float64 einsum, so every (jw, cos, score) matches
    exactly, and the node table needs no vec column at all."""
    from blink_reloaded_spark.functions.embedding import hashed_embedding_udf
    from blink_reloaded_spark.functions.text import tokens
    from blink_reloaded_spark.operators.scoring import two_phase_scored_pairs

    cat, tr, me = fixture
    nodes = (
        me.select(F.lower(F.col("mention")).alias("text"))
        .distinct()
        .limit(120)
        .select(
            F.xxhash64("text").alias("id"),
            "text",
            hashed_embedding_udf(F.col("text")).alias("vec"),
            tokens(F.col("text")).alias("tk"),
        )
        .localCheckpoint()
    )
    a = nodes.select(F.col("id").alias("a"))
    b = nodes.select(F.col("id").alias("b"))
    cands = a.crossJoin(b).where(F.col("a") < F.col("b")).localCheckpoint()

    joined = sorted(map(tuple, two_phase_scored_pairs(
        cands, nodes, threshold=0.6, cos_source="join"
    ).collect()))
    # recompute mode must not touch vec: drop the column entirely
    recomputed = sorted(map(tuple, two_phase_scored_pairs(
        cands, nodes.drop("vec"), threshold=0.6, cos_source="recompute"
    ).collect()))
    assert recomputed == joined
    with pytest.raises(ValueError, match="cos_source"):
        two_phase_scored_pairs(cands, nodes, cos_source="typo")


def test_reliable_checkpoint_mode(spark, reliable_cuts):
    """The in-run cut follows the session: executor-local without an RDD
    checkpoint dir, reliable (files under the dir) with one. The
    distributed CC loop, which cuts every round, gives the same components
    either way."""
    import glob

    from blink_reloaded_spark.operators.clustering import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (10, 31)],
        "src long, dst long",
    )

    def components():
        # num_partitions=2 skips the single-task union-find: the round loop
        return sorted(map(tuple, connected_components(
            edges, num_partitions=2
        ).collect()))

    want = components()
    rdd_dir = reliable_cuts()
    assert components() == want
    assert glob.glob(f"{rdd_dir}/rdd-*")


def test_128bit_mention_ids(spark, fixture):
    """id_bits=128 (VERDICT r2 #7): double-seeded hex ids close the 64-bit
    birthday-collision note. Ids must be unique exactly where the composite
    key is, and the pipeline's cluster STRUCTURE must be identical to the
    64-bit run (ids are opaque; only the partition matters)."""
    from blink_reloaded_spark.operators.mentions import extract_mentions

    cat, tr, me = fixture
    surfaces = [a["surface"] for a in cat.aliases]
    m = extract_mentions(tr, surfaces, with_context=False, id_bits=128)
    ids = m.select("mention_id").collect()
    assert all(len(r[0]) == 32 for r in ids)
    n_composite = m.select("conv_id", "turn_idx", "start_pos").distinct().count()
    assert m.select("mention_id").distinct().count() == n_composite

    ents = cat.entities_df(spark)
    c64 = LinkagePipeline(spark).run(tr, ents, surfaces=surfaces)
    c128 = LinkagePipeline(spark, id_bits=128).run(tr, ents, surfaces=surfaces)

    def sizes(cdf):
        return sorted(
            r["n"]
            for r in cdf.groupBy("component").agg(F.count("*").alias("n")).collect()
        )

    assert c128.count() == c64.count()
    assert sizes(c128) == sizes(c64)


def test_tuned_pipeline_f1_at_20k_entities(spark):
    """LinkagePipeline.tuned at a 20k-entity catalogue (autotuned blocking,
    comparison-level purge, top-16 candidate budget): pairwise F1 must stay
    >= 0.99 — the bounds may not cost linkage quality. Labeled pairs come
    from a mention SAMPLE (the 30%-hot surface makes the full self-join
    quadratic in the hot group)."""
    cat = datagen.EntityCatalog.build(n_entities=20_000)
    tr, me = datagen.generate_transcripts(
        spark, cat, n_convs=800, turns_per_conv=10, hot_conv_factor=10
    )
    me = me.localCheckpoint()
    pipe = LinkagePipeline.tuned(spark, 20_000, collect_metrics=False)
    assert pipe.max_key_pairs and pipe.max_candidates_per_mention
    clusters = pipe.run(tr, cat.entities_df(spark), mentions=me).localCheckpoint()
    sample = me.sample(0.25, seed=7).localCheckpoint()
    m = pairwise_f1(clusters, _labeled_pairs(sample))
    assert m["f1"] >= 0.99, m


def test_kb_free_append_equals_full_rerun(spark, fixture):
    """run_kb_free_append(state(batch0), batch1) must produce the IDENTICAL
    clustering to run_kb_free(batch0 + batch1): mention ids are content-
    hashed (batch-invariant), pair scores are pure functions of the two
    surfaces, and the append path blocks over the full surface union so
    every block-size cap decision matches the full run. This is the
    pipeline-level append invariant (the oracle-checked query form is
    queries.er05_incremental_clusters)."""
    cat, tr, _ = fixture
    surfaces = [a["surface"] for a in cat.aliases]
    pipe = LinkagePipeline(spark)

    # split by conversation: batch0 = the already-clustered corpus,
    # batch1 = newly arrived transcripts
    tr0 = tr.where(F.crc32(F.col("conv_id")) % 3 != 0)
    tr1 = tr.where(F.crc32(F.col("conv_id")) % 3 == 0)
    assert tr0.count() > 0 and tr1.count() > 0

    from blink_reloaded_spark.operators.mentions import extract_mentions

    m0 = extract_mentions(tr0, surfaces, with_context=False)
    base = pipe.run_kb_free(tr0, mentions=m0)
    state = LinkagePipeline.cluster_state(base, m0)

    merged = pipe.run_kb_free_append(tr1, state, surfaces=surfaces)
    full = pipe.run_kb_free(tr.select(*tr0.columns), surfaces=surfaces)

    diff = merged.exceptAll(full).count() + full.exceptAll(merged).count()
    assert diff == 0, f"append-mode clustering diverged from full re-run: {diff}"
    # this fixture exercises the EXACT regime (ADVICE r6): the cap guard
    # must confirm no old-holding block crossed max_block in the union run
    assert pipe.metrics["append_capped_old_blocks"] == 0


def test_append_rejects_conflicted_state(spark):
    """VERDICT r6 #4: a state sink where one surface maps to two cluster_ids
    is garbage (kb-free clustering makes (surface -> cluster) functional by
    construction) — appending it would silently weld the two clusters via
    that surface's star edges. The guard must raise, not merge."""
    state = spark.createDataFrame(
        [(1, "acme corp", 1), (2, "acme corp", 2), (3, "zeta ltd", 3)],
        "mention_id long, mention string, cluster_id long",
    )
    delta = spark.createDataFrame(
        [(10, "omega gmbh")], "mention_id long, mention string"
    )
    with pytest.raises(ValueError, match="malformed append state"):
        LinkagePipeline(spark).run_kb_free_append(None, state, mentions=delta)


def test_append_cap_guard_flags_crossing_blocks(spark):
    """ADVICE r6: append==recompute is exact only while no block holding
    >=2 state surfaces exceeds max_block in the union run (the base run's
    full pairing inside a block that the union run caps may encode merges
    the recompute's salted windowed pairing would drop). The guard must
    count exactly those blocks and warn — the approximation regime is
    declared, never silent."""
    # 3 base + 2 delta surfaces share the first token -> the "pfx|acme"
    # block is 3 (== max_block, fully paired) in the base run and 5 (> cap)
    # in the union run: the crossing case
    base_s = ["acme one", "acme two", "acme three"]
    delta_s = ["acme four", "acme five"]
    m0 = spark.createDataFrame(
        [(i, s) for i, s in enumerate(base_s)], "mention_id long, mention string"
    )
    m1 = spark.createDataFrame(
        [(100 + i, s) for i, s in enumerate(delta_s)],
        "mention_id long, mention string",
    )
    pipe = LinkagePipeline(spark, max_block=3)
    state = LinkagePipeline.cluster_state(
        pipe.run_kb_free(None, mentions=m0), m0
    )
    with pytest.warns(UserWarning, match="exactness scope exceeded"):
        merged = pipe.run_kb_free_append(None, state, mentions=m1)
    assert pipe.metrics["append_capped_old_blocks"] >= 1
    # the append output is still a valid clustering over all mentions
    assert merged.count() == 5


def test_kb_free_append_delta_output_upsert(spark, fixture):
    """output='delta' (r7, VERDICT r6 #3): the append returns only NEW or
    CHANGED rows; applying the upsert to the state (keep state rows whose
    node is absent from the delta) must reproduce the full-batch recompute
    bit-for-bit — and old mentions of UNCHANGED surfaces must genuinely be
    absent (that absence is what makes the append delta-shaped)."""
    cat, tr, _ = fixture
    surfaces = [a["surface"] for a in cat.aliases]
    pipe = LinkagePipeline(spark)
    tr0 = tr.where(F.crc32(F.col("conv_id")) % 3 != 0)
    tr1 = tr.where(F.crc32(F.col("conv_id")) % 3 == 0)

    from blink_reloaded_spark.operators.mentions import extract_mentions

    m0 = extract_mentions(tr0, surfaces, with_context=False)
    state = LinkagePipeline.cluster_state(
        pipe.run_kb_free(tr0, mentions=m0), m0
    ).localCheckpoint()

    delta = pipe.run_kb_free_append(
        tr1, state, surfaces=surfaces, output="delta"
    ).localCheckpoint()
    # the production protocol — surface-level state sunk alongside — must
    # produce the identical upsert
    # localCheckpoint: exceptAll over the live upsert plan (union +
    # dropDuplicates over joins) trips a Catalyst attribute-rewrite
    # internal error (ATTRIBUTE_NOT_FOUND in the replicate-rows rewrite)
    # on Spark 4.1 — checkpointing compares the same rows without the
    # fragile rewrite
    delta_ss = pipe.run_kb_free_append(
        tr1, state, surfaces=surfaces, output="delta",
        surface_state=LinkagePipeline.surface_cluster_state(state),
    ).localCheckpoint()
    assert delta.exceptAll(delta_ss).isEmpty()
    assert delta_ss.exceptAll(delta).isEmpty()
    full = pipe.run_kb_free(tr.select(*tr0.columns), surfaces=surfaces)

    kept = state.join(
        delta.select(F.col("node").alias("mention_id")), "mention_id", "left_anti"
    ).select(F.col("mention_id").alias("node"), F.col("cluster_id").alias("component"))
    applied = delta.unionByName(kept)
    diff = applied.exceptAll(full).count() + full.exceptAll(applied).count()
    assert diff == 0, f"upsert(state, delta) diverged from recompute: {diff}"
    # the upsert must be smaller than the corpus (some state rows kept) and
    # must cover every delta-batch mention
    assert delta.count() < full.count()
    n_new_mentions = extract_mentions(tr1, surfaces, with_context=False).count()
    assert delta.count() >= n_new_mentions


def test_kb_free_append_chain_two_batches(spark, fixture):
    """Continuous ingestion: state evolved through ONE append must absorb a
    SECOND delta and still equal the full-batch recompute over all three
    batches. This is the claim a production pipeline actually relies on —
    the state table is rarely one run old — and it pins that cluster_state
    built from an append output is a valid input state (min-canonical ids
    survive the merge: a component's cluster_id is the min mention_id, so
    re-deriving state from append output keeps the id the recompute would
    pick)."""
    cat, tr, _ = fixture
    surfaces = [a["surface"] for a in cat.aliases]
    pipe = LinkagePipeline(spark)
    tr0 = tr.where(F.crc32(F.col("conv_id")) % 3 == 0)
    tr1 = tr.where(F.crc32(F.col("conv_id")) % 3 == 1)
    tr2 = tr.where(F.crc32(F.col("conv_id")) % 3 == 2)
    assert tr0.count() > 0 and tr1.count() > 0 and tr2.count() > 0

    from blink_reloaded_spark.operators.mentions import extract_mentions

    m0 = extract_mentions(tr0, surfaces, with_context=False)
    state0 = LinkagePipeline.cluster_state(
        pipe.run_kb_free(tr0, mentions=m0), m0
    ).localCheckpoint()

    out1 = pipe.run_kb_free_append(tr1, state0, surfaces=surfaces)
    m01 = extract_mentions(
        tr0.unionByName(tr1), surfaces, with_context=False
    )
    state1 = LinkagePipeline.cluster_state(out1, m01).localCheckpoint()

    out2 = pipe.run_kb_free_append(tr2, state1, surfaces=surfaces)
    full = pipe.run_kb_free(tr.select(*tr0.columns), surfaces=surfaces)
    diff = out2.exceptAll(full).count() + full.exceptAll(out2).count()
    assert diff == 0, f"two-append chain diverged from full recompute: {diff}"


def test_text_without_a_token_does_not_crash_any_entry_point(spark):
    """A title or surface with no [a-z0-9] token ("中文", "") has no
    first-token prefix key: it is keyed by its MinHash bands alone. Every
    entry point used to fail with INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    (element_at on an empty token array under Spark 4's ANSI mode)."""
    ents = spark.createDataFrame(
        [(1, "Acme Corp", "", []), (2, "中文", "", []), (3, "", "", [])],
        "entity_id long, title string, text string, aliases array<string>",
    )
    surfs = ["acme corp", "中文", "中文", "acme corp", ""]
    m = spark.createDataFrame(
        [("c1", i, 0, len(s), s, "", "", i) for i, s in enumerate(surfs)],
        "conv_id string, turn_idx int, start_pos int, end_pos int,"
        " mention string, context_left string, context_right string, mention_id long",
    )
    pipe = LinkagePipeline(spark)
    run = dict(map(tuple, pipe.run(None, ents, mentions=m).collect()))
    assert run[0] == run[3] == 0
    links = {
        r["mention_id"]: r["entity_id"]
        for r in pipe.run_links(None, ents, mentions=m).collect()
    }
    assert links[0] == links[3] == 1
    kb_free = sorted(map(tuple, pipe.run_kb_free(None, mentions=m).collect()))
    assert dict(kb_free)[1] == dict(kb_free)[2] == 1
    m0 = m.where("mention_id < 2")
    state = LinkagePipeline.cluster_state(pipe.run_kb_free(None, mentions=m0), m0)
    appended = pipe.run_kb_free_append(None, state, mentions=m.where("mention_id >= 2"))
    assert sorted(map(tuple, appended.collect())) == kb_free


def test_run_submits_at_most_ten_jobs(spark, fixture):
    """One run() into a noop sink, as the benchmark times it, submits at
    most 10 Spark jobs on this fixture (status store). The star-components
    tail (a groupBy, joins back onto the surfaces and a sort-merge join of
    every mention) made it 20."""
    cat, tr, me = fixture
    ents = cat.entities_df(spark)
    surfaces = [a["surface"] for a in cat.aliases]
    sc = spark.sparkContext

    def last_job_id() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs = sc._jsc.sc().statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    tr.count()
    j0 = last_job_id()
    out = LinkagePipeline(spark, collect_metrics=False).run(tr, ents, surfaces=surfaces)
    out.write.format("noop").mode("overwrite").save()
    assert last_job_id() - j0 <= 10
