"""Connected components vs a Python union-find oracle, plus the determinism
properties the pipeline relies on (invariance under row order / partitioning,
convergence on adversarial chains)."""

from __future__ import annotations

import random
from collections import defaultdict

from blink_reloaded_spark.operators.clustering import connected_components


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = defaultdict(list)
    for x in range(n_nodes):
        comp[find(x)].append(x)
    return {x: min(comp[find(x)]) for x in range(n_nodes)}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    n, m = 300, 420
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    gold = _union_find(n, edges)
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(e, nodes=nodes).collect()
    }
    assert got == gold


def test_chain_converges_logarithmically(spark):
    # path graph: the adversarial case for naive propagation (SURVEY §7.3b)
    edges = [(i, i + 1) for i in range(256)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert len(got) == 257 and set(got.values()) == {0}


def test_invariant_under_partitioning_and_order(spark):
    rng = random.Random(13)
    edges = [(rng.randrange(100), rng.randrange(100)) for _ in range(120)]
    e1 = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    e2 = spark.createDataFrame(list(reversed(edges)), "src long, dst long").repartition(7)
    r1 = sorted(map(tuple, connected_components(e1).collect()))
    r2 = sorted(map(tuple, connected_components(e2).collect()))
    assert r1 == r2


def test_singletons_and_self_loops(spark):
    e = spark.createDataFrame([(5, 5), (1, 2)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 5, 9]], "node long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(e, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 5: 5, 9: 9}


def test_local_path_equals_distributed_loop(spark):
    # r8: small graphs take the single-task union-find fast path
    # (num_partitions sizes to 1); forcing num_partitions=2 runs the
    # log-round star loop on the SAME graph — outputs must be identical,
    # including isolated-node singletons.
    rng = random.Random(99)
    n, m = 500, 650
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n + 20)], "node long")
    local = sorted(map(tuple, connected_components(e, nodes=nodes).collect()))
    dist = sorted(
        map(
            tuple,
            connected_components(e, nodes=nodes, num_partitions=2).collect(),
        )
    )
    assert local == dist
    assert local == sorted(_union_find(n + 20, edges).items())


def test_single_partition_over_bound_runs_distributed_loop(spark, monkeypatch):
    # one partition alone must not pick the single-task union-find: at
    # defaultParallelism=1 every graph sizes to one partition, so the gate
    # is the edges-per-partition bound. Shrink the bound so a small graph
    # is "over" it.
    from blink_reloaded_spark.operators import clustering

    monkeypatch.setattr(clustering, "EDGES_PER_PARTITION", 50)
    calls = []
    loop = clustering._cc_loop

    def spy(*a, **k):
        calls.append(1)
        return loop(*a, **k)

    monkeypatch.setattr(clustering, "_cc_loop", spy)
    rng = random.Random(3)
    n, m = 200, 240
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        map(tuple, connected_components(e, num_partitions=1).collect())
    )
    assert calls, "graph over the bound took the single-task path"
    gold = _union_find(n, edges)
    touched = {x for s, d in edges if s != d for x in (s, d)}
    assert got == sorted((x, gold[x]) for x in touched)


def test_star_components_equals_generic_cc(spark):
    from blink_reloaded_spark.operators.clustering import star_components

    # star forest: each leaf (surface) has exactly one edge to its hub
    # (entity anchor) — the pipeline.run invariant from link_best's argmax.
    # Hub ids mix signs like entity anchors vs xxhash surface ids do.
    rng = random.Random(7)
    hubs = [-1_000_000 - k for k in range(5)] + [99, -3]
    edges = [(rng.randrange(1, 10_000) * (1 if rng.random() < 0.5 else -1), h)
             for h in hubs for _ in range(rng.randrange(1, 6))]
    edges = list({(a, h) for a, h in edges if a not in set(hubs)})
    e = spark.createDataFrame(edges, "src long, dst long")
    fast = sorted(map(tuple, star_components(e).collect()))
    slow = sorted(map(tuple, connected_components(e).collect()))
    assert fast == slow
