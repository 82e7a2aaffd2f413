"""Physical-plan assertions: the plans must be the ones you'd want at 100 TB
— filters pushed to the parquet scan, columns pruned, dimension joins
broadcast, no cartesian products in the LSH paths."""

from __future__ import annotations

import __spark_entry__ as entrymod
from tests.conftest import SF_UNIT


def _plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF_UNIT)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_pruning(spark):
    plan = _plan(spark, "q03_topk_per_group")
    assert "PushedFilters: [IsNotNull(o_totalprice)" in plan or "GreaterThanOrEqual(o_totalprice" in plan
    # column pruning: the lineitem scan must not read l_tax / l_returnflag
    scan = [l for l in plan.splitlines() if "lineitem" in l and "ReadSchema" in l]
    assert scan and "l_tax" not in scan[0] and "l_returnflag" not in scan[0]


def test_dim_join_broadcast(spark):
    plan = _plan(spark, "q02_dim_join_rollup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_cartesian_in_lsh_paths(spark):
    for name in ("dedup03_minhash_lsh", "ann03_lsh_topk", "er02_candidate_pairs"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_anti_semi_join_strategies(spark):
    assert "LeftAnti" in _plan(spark, "q04_anti_join")
    assert "LeftSemi" in _plan(spark, "q05_semi_join")


def test_stable_ids_no_single_partition_exchange(spark):
    # W6 at scale: the two-phase id assignment must never funnel the data
    # through one task (the round-1 global-sort row_number did)
    plan = _plan(spark, "q09_stable_ids")
    assert "SinglePartition" not in plan


def _find_node(node, name: str):
    """Depth-first search of a SparkPlan (py4j) for the first node whose
    nodeName contains `name`; traversal is root-down, so the match is the
    TOPMOST such node and its toString() prints the whole subtree below.
    AdaptiveSparkPlan wrappers report no children — unwrap via their
    pre-execution initialPlan (inspecting shape must not trigger a run)."""
    if "AdaptiveSparkPlan" in node.nodeName():
        return _find_node(node.initialPlan(), name)
    if name in node.nodeName():
        return node
    for i in range(node.children().size()):
        hit = _find_node(node.children().apply(i), name)
        if hit is not None:
            return hit
    return None


def test_assume_partitioned_no_exchange_before_feature_udfs(spark):
    """VERDICT r5 #4: two_phase_scored_pairs(assume_partitioned=True) relies
    on the caller's frame being physically hash(a)-partitioned (the pipeline
    materializes the candidates stage with localCheckpoint, which preserves
    physical partitions). Pin BOTH halves of the invariant:
    (1) localCheckpoint keeps hash(a) co-location — every `a` lands in one
        partition after the round-trip;
    (2) with the flag set, NO shuffle exchange sits between the candidates
        scan and the feature UDFs (the subtree under the topmost
        ArrowEvalPython is exchange-free); without it, the guard
        repartition("a") is present. A refactor that reintroduces the
        repartition or breaks the layout assumption fails here."""
    from pyspark.sql import functions as F

    from blink_reloaded_spark.functions.text import tokens
    from blink_reloaded_spark.operators.scoring import two_phase_scored_pairs

    nodes = (
        spark.range(60)
        .select(
            F.col("id"),
            F.concat(F.lit("surface text "), F.col("id").cast("string")).alias(
                "text"
            ),
        )
        .withColumn("tk", tokens(F.col("text")))
    )
    cands = (
        spark.range(60)
        .select(F.col("id").alias("a"))
        .join(spark.range(4).select((F.col("id") + 1).alias("b")), how="cross")
        .select("a", (F.col("a") + F.col("b")).alias("b"))
        .where(F.col("b") < 60)
    )
    pre = cands.repartition(8, "a").localCheckpoint()

    # (1) layout survives the localCheckpoint round-trip
    spread = (
        pre.withColumn("p", F.spark_partition_id())
        .groupBy("a")
        .agg(F.countDistinct("p").alias("np"))
        .agg(F.max("np").alias("mx"))
        .collect()[0]["mx"]
    )
    assert spread == 1, f"localCheckpoint broke hash(a) co-location: {spread}"
    assert pre.rdd.getNumPartitions() == 8

    # (2) plan shape with and without the flag
    def plan_of(assume):
        df = two_phase_scored_pairs(
            pre, nodes, cos_source="recompute", assume_partitioned=assume
        )
        return df._jdf.queryExecution().executedPlan()

    trusted = plan_of(True)
    udf = _find_node(trusted, "ArrowEvalPython")
    assert udf is not None
    assert "Exchange hashpartitioning" not in udf.toString(), udf.toString()
    guarded = plan_of(False).toString()
    assert "REPARTITION_BY_COL" in guarded, guarded


def test_wholestage_codegen_in_text_kernels(spark):
    # the portable hash kernels must stay JVM-side (no Python eval nodes)
    for name in ("text03_fingerprint", "dedup04_simhash", "multimodal01_metadata"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def _count_nodes(node, name: str) -> int:
    """How many nodes of a SparkPlan (py4j) have `name` in their nodeName,
    AdaptiveSparkPlan wrappers unwrapped via their initialPlan."""
    if "AdaptiveSparkPlan" in node.nodeName():
        return _count_nodes(node.initialPlan(), name)
    return int(name in node.nodeName()) + sum(
        _count_nodes(node.children().apply(i), name)
        for i in range(node.children().size())
    )


def test_kb_join_is_one_arrow_pass(spark):
    """The candidates and links stages of the KB join cross the Python
    boundary once: the probe kernel (one MapInArrow, with purge and top-k
    on), and no ArrowEvalPython pair UDF. The kernel's input is spread
    over defaultParallelism partitions, so it runs on every core."""
    from pyspark.sql import functions as F

    from blink_reloaded_spark import datagen
    from blink_reloaded_spark.plans.pipeline import LinkagePipeline

    cat = datagen.EntityCatalog.build(n_entities=40, seed=2)
    tr, me = datagen.generate_transcripts(spark, cat, n_convs=10, turns_per_conv=4)
    pipe = LinkagePipeline(
        spark, max_key_pairs=200, max_entity_block=20, max_candidates_per_mention=4
    )
    surf = pipe._surfaces(
        me.select("mention_id", "mention"), "mention_id", cat.entities_df(spark)
    ).localCheckpoint()
    cands = pipe.build_candidates_from(surf)
    links = pipe.build_links_from(cands, surf)
    plan = links._jdf.queryExecution().executedPlan()
    assert _count_nodes(plan, "MapInArrow") == 1, plan.toString()
    assert _count_nodes(plan, "ArrowEvalPython") == 0, plan.toString()
    par = spark.sparkContext.defaultParallelism
    assert par >= 2 and cands.rdd.getNumPartitions() == par
    assert links.where(F.col("score").isNull()).count() == 0 < links.count()
