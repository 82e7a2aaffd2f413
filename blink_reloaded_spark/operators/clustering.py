"""Transitive clustering: iterative large-star / small-star connected
components over the match-edge DataFrame (Kiveris et al., "Connected
Components in MapReduce and Beyond", SOCC'14 — the standard shuffle-bounded
CC algorithm; converges in O(log² n) rounds, each round two group-by-min
shuffles).

Semantic bridge to the reference (SURVEY.md §7.0): the reference groups
mentions by argmax-predicted entity id (`blink/candidate_ranking/
bert_reranking.py:223-227`); transitive closure over accepted mention->entity
edges reproduces exactly that equivalence relation, with cluster_id
canonicalized to the component-minimum node id so output is invariant under
partitioning and row order (determinism rule, FIXTURES.md).

Driver-side loop is over *iterations* (log-many), never over rows; each
iteration cuts lineage through `sources.checkpoint.materialize` — reliable
when the session has an RDD checkpoint dir, local otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_reloaded_spark.sources.checkpoint import materialize


def _canonical(edges: DataFrame) -> DataFrame:
    """Orient (src > dst), drop self-loops, distinct."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.withColumn("m", F.least("mn", "src")).drop("mn")
    out = (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    # no distinct: the output feeds _small_star, whose _canonical starts
    # with its own orient+distinct — one here would be a redundant extra
    # shuffle every round
    return out


def _small_star(edges: DataFrame) -> DataFrame:
    e = _canonical(edges)  # src > dst
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    nbr = (
        e.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_e = mins.select(F.col("src"), F.col("m").alias("dst"))
    return nbr.union(self_e).where(F.col("src") != F.col("dst")).distinct()


def _checksum(edges: DataFrame) -> tuple[int, int]:
    """Order-independent (count, hash-sum) of the edge set — the convergence
    test AND (because callers pass a lazily-checkpointed frame) the single
    action that materializes each round: one job per CC round, not two
    (VERDICT r2 #3, per-job constant)."""
    # decimal(38,0) sum: immune to int64 overflow under ANSI mode
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def star_components(edges: DataFrame) -> DataFrame:
    """Connected components of a (src, dst) graph KNOWN to be a union of
    stars: every `src` leaf has exactly one edge, to its `dst` hub. Then
    components are exactly the hub-groups, and the generic log-round CC loop
    collapses to ONE aggregation + one join — no driver-side iterations at
    all.

    This is the KB-linking case: `link_best` emits at most one argmax
    entity per surface, so the surface->entity edge set is a star forest
    by construction. The precondition (one edge per leaf) is the caller's
    invariant; component ids are canonicalized to the component minimum,
    same as connected_components.

    Only perfbench's traced run (its clustering layer) and the tests call
    it: pipeline.run carries each surface's min mention id through the
    links and groups them by entity in one aggregation
    (LinkagePipeline._linked_clusters), which needs no component ids.
    """
    cmin = edges.groupBy("dst").agg(F.min("src").alias("_mn")).select(
        "dst", F.least(F.col("_mn"), F.col("dst")).alias("component")
    )
    leaves = edges.join(cmin, "dst").select(
        F.col("src").alias("node"), "component"
    )
    hubs = cmin.select(F.col("dst").alias("node"), "component")
    return leaves.union(hubs)


# Edges per partition for the CC iteration parallelism sizing — and the
# local-CC gate (r8): a graph within ONE partition's worth of edges skips
# the log-round loop, which at that size degenerates into pure serial job
# latency — each round is a full job of single-partition shuffles plus a
# driver barrier, and a ~2k-edge graph pays ~4 such rounds (measured: er04's
# CC tail was ~2.4s of its 3.4s wall for a 2k-edge graph). Its components
# are computed IN one task instead: a mapInPandas union-find over the
# coalesced edge partition — one job, no rounds, no driver loop over rows.
# The gate is the edge count, not the derived partition count: at
# defaultParallelism=1 every graph sizes to one partition, and the one
# union-find task must stay a bounded memory footprint (~32B/edge in the
# dict). Larger graphs take the distributed loop (the 100TB path).
EDGES_PER_PARTITION = 50_000


def _local_components(e: DataFrame) -> DataFrame:
    """Components of a SINGLE-PARTITION canonical edge frame via an
    executor-local union-find (one task, one pass). Output is identical to
    the fixed point of the star loop: (node, component = min node id of the
    component) for every edge-touched node — min under the column's natural
    ordering (numeric for long ids, lexicographic for the 128-bit string
    ids), the same ordering Spark's F.min / the star loop's least() use."""
    import pandas as pd

    t = e.schema["src"].dataType.simpleString()

    def uf(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for s, d in zip(pdf["src"], pdf["dst"]):
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    parent[rs] = rd
        cmin: dict = {}
        for n in parent:
            r = find(n)
            m = cmin.get(r)
            if m is None or n < m:
                cmin[r] = n
        nodes = list(parent)
        yield pd.DataFrame(
            {"node": nodes, "component": [cmin[find(n)] for n in nodes]}
        )

    return e.coalesce(1).mapInPandas(uf, schema=f"node {t}, component {t}")


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 30,
    num_partitions: int | None = None,
) -> DataFrame:
    """Compute connected components of an undirected edge list.

    Parameters
    ----------
    edges : DataFrame(src: long, dst: long)
    nodes : optional DataFrame(node: long) — include isolated nodes as
        singleton components.

    Returns DataFrame(node: long, component: long) with
    component = min(node id in the component).
    """
    # lazy checkpoint: the (count, checksum) agg below is the first action —
    # it sizes the iteration parallelism AND seeds the convergence test AND
    # materializes the canonical edge set, all in ONE job (the eager variant
    # spent three)
    e = materialize(_canonical(edges))
    prev = _checksum(e)
    n_edges = prev[0]
    if num_partitions is None:
        # size the iteration parallelism to the graph, not the session: each
        # round is several shuffles of the (shrinking) edge set — running a
        # 200-edge surface graph at 32 shuffle partitions is pure task
        # overhead, while a 10^10-edge graph wants the full width
        num_partitions = max(1, min(n_edges // EDGES_PER_PARTITION + 1,
                                    e.sparkSession.sparkContext.defaultParallelism))
    if e.rdd.getNumPartitions() > num_partitions:
        e = e.coalesce(num_partitions)
    if num_partitions == 1 and n_edges <= EDGES_PER_PARTITION:
        # one partition's worth of edges: single-task union-find, no round
        # loop (see EDGES_PER_PARTITION note). Output contract identical.
        return _with_singletons(_local_components(e), nodes)
    spark = e.sparkSession
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    try:
        return _cc_loop(e, prev, nodes, max_iter)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def _with_singletons(out: DataFrame, nodes: DataFrame | None) -> DataFrame:
    """Union isolated nodes (from the optional `nodes` frame) as singleton
    components — shared tail of the local and distributed paths."""
    if nodes is None:
        return out
    singles = (
        nodes.select(F.col(nodes.columns[0]).alias("node"))
        .distinct()
        .join(out, "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return out.union(singles)


def _cc_loop(
    e: DataFrame,
    prev: tuple[int, int],
    nodes: DataFrame | None,
    max_iter: int,
) -> DataFrame:
    for _ in range(max_iter):
        # lazy checkpoint every round: cuts lineage, and the checksum
        # action both tests convergence and materializes the round — the
        # next round never re-executes this one, at one job per round
        e = materialize(_small_star(_large_star(e)))
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} iters")

    # fixed point: e = {(node, root)} star edges with root = component min
    assign = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component")).distinct()
    out = assign.union(roots).distinct()
    return _with_singletons(out, nodes)
