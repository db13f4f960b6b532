"""Connected components vs a pure-python union-find oracle, plus the
end-to-end dedup survivor pick."""

import random

import pytest
from pyspark.sql import functions as F

from mapreduce_model_spark.operators.dedup import lsh_near_dup_pairs, minhash_signatures
from mapreduce_model_spark.operators.graph import (
    connected_components,
    dedup_survivors,
    pagerank,
)
from mapreduce_model_spark.registry import table


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("gate", [None, 0], ids=["local-finish", "distributed"])
def test_connected_components_random_graphs(spark, set_local_finish, gate):
    """gate=None exercises the production single-task local finish;
    gate=0 forces the distributed hook/compress/contract loop end-to-end
    (the 100 TB path) — both must match driver union-find exactly."""
    set_local_finish(gate)
    rng = random.Random(7)
    for trial in range(3):
        nodes = list(range(trial * 1000, trial * 1000 + 120))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(60 + 40 * trial)
        ]
        e = spark.createDataFrame(edges, "id_a: long, id_b: long")
        got = {
            r.node: r.component
            for r in connected_components(e).collect()
        }
        exp = _union_find(edges)
        # union-find roots ARE component minima: union always parents the
        # larger root under the smaller, so the root never exceeds any member
        touched = {n for ab in edges for n in ab if ab[0] != ab[1]}
        assert {n: got[n] for n in touched} == {n: exp[n] for n in touched}


def test_dedup_survivors_end_to_end(spark, sf_dir):
    """LSH pairs → components → exactly one survivor (the min id) per
    cluster; docs without dups survive as their own component."""
    docs = table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, k=32, shingle_k=3)
    pairs = lsh_near_dup_pairs(sig, threshold=0.5).select("id_a", "id_b")
    out = dedup_survivors(docs, pairs)
    assert out.count() == docs.count()
    by_comp = (
        out.groupBy("component")
        .agg(
            F.sum(F.col("is_survivor").cast("int")).alias("n_surv"),
            F.min("doc_id").alias("min_id"),
        )
        .collect()
    )
    for r in by_comp:
        assert r.n_surv == 1, r
        assert r.component == r.min_id, r


def test_connected_components_long_chain(spark, set_local_finish):
    """A 300-node path graph has diameter 299 — one-hop label propagation
    under any sane iteration cap returns wrong labels; pointer jumping must
    converge in O(log n) rounds with every node labeled by the chain min."""
    import random as _random

    ids = list(range(1000, 1300))
    _random.Random(3).shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    e = spark.createDataFrame(edges, "id_a: long, id_b: long")
    # gate=0: the local finish would trivialize this — the point is the
    # DISTRIBUTED pointer-jumping convergence on a diameter-299 graph
    set_local_finish(0)
    got = {r.node: r.component for r in connected_components(e).collect()}
    assert set(got.values()) == {min(ids)}
    assert len(got) == len(ids)


def test_pagerank_cycle_uniform(spark):
    """A directed k-cycle is rank-symmetric: every node gets exactly 1/k."""
    e = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], "id_a: long, id_b: long"
    )
    ranks = {r.node: r["rank"] for r in pagerank(e, n_iter=10).collect()}
    for v in ranks.values():
        assert abs(v - 0.2) < 1e-12
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("gate", [None, 0], ids=["local-finish", "distributed"])
def test_pagerank_matches_numpy_power_iteration(spark, set_local_finish, gate):
    """Same damping, same iteration count, dangling mass spread uniformly —
    Spark and a dense numpy reference must agree on a random digraph
    (including dangling nodes) to float tolerance. gate=None exercises the
    production single-task local finish; gate=0 forces the distributed
    per-iteration join+agg loop end-to-end (the 100 TB path)."""
    import numpy as np
    import random as _random

    rng = _random.Random(7)
    n = 12
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(40)})
    edges = [(u, v) for u, v in edges if u != v]
    # make node 11 dangling: drop its out-edges
    edges = [(u, v) for u, v in edges if u != 11]
    nodes = sorted({x for uv in edges for x in uv})
    idx = {node: i for i, node in enumerate(nodes)}
    m = len(nodes)
    d, iters = 0.85, 20

    r = np.full(m, 1.0 / m)
    out = np.zeros(m)
    for u, _ in edges:
        out[idx[u]] += 1
    for _ in range(iters):
        nxt = np.full(m, (1.0 - d) / m)
        dangling = r[out == 0].sum()
        nxt += d * dangling / m
        for u, v in edges:
            nxt[idx[v]] += d * r[idx[u]] / out[idx[u]]
        r = nxt

    e = spark.createDataFrame(edges, "id_a: long, id_b: long")
    set_local_finish(gate)
    got = {
        row.node: row["rank"]
        for row in pagerank(e, damping=d, n_iter=iters).collect()
    }
    assert set(got) == set(nodes)
    for node in nodes:
        assert abs(got[node] - r[idx[node]]) < 1e-9, node
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_connected_components_midloop_local_finish(spark, set_local_finish):
    """Gate sized BETWEEN the initial edge count and the contracted one:
    the loop must run at least one distributed phase, then finish the
    remainder in the single-task union-find and fold it through the
    accumulated labels — the production path for a big graph that
    contracts below one worker's capacity."""
    import random as _random

    ids = list(range(2000, 2200))
    _random.Random(11).shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    # symmetrized initial graph = 398 rows > gate=100 > contracted size
    e = spark.createDataFrame(edges, "id_a: long, id_b: long")
    set_local_finish(100)
    got = {r.node: r.component for r in connected_components(e).collect()}
    assert set(got.values()) == {min(ids)}
    assert len(got) == len(ids)


@pytest.mark.parametrize("gate", [None, 0], ids=["local-finish", "distributed"])
def test_bfs_depths_matches_python_bfs(spark, set_local_finish, gate):
    """BFS layers == collections.deque BFS on random graphs (depths are
    traversal-order independent, so exact equality). gate=None exercises
    the single-task local finish; gate=0 forces the distributed
    level-synchronous loop end-to-end (the 100 TB path)."""
    from collections import deque

    from mapreduce_model_spark.operators.graph import bfs_depths

    set_local_finish(gate)
    rng = random.Random(23)
    for trial in range(3):
        nodes = list(range(100))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(140)]
        adj = {}
        for a, b in edges:
            if a != b:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
        if not adj:
            continue
        src = min(adj)
        exp, q = {src: 0}, deque([src])
        while q:
            x = q.popleft()
            for y in adj[x]:
                if y not in exp:
                    exp[y] = exp[x] + 1
                    q.append(y)
        e = spark.createDataFrame(edges, "id_a: long, id_b: long")
        got = {r.node: r.depth for r in bfs_depths(e).collect()}
        assert got == exp, trial


def test_bfs_depths_long_chain(spark, set_local_finish):
    """A path graph: depth must equal position along the chain — one-hop
    frontier expansion for the full diameter, no shortcuts. (BFS is
    inherently one round per level — unlike CC's pointer jumping there is
    no doubling shortcut — so the chain stays inside max_depth.)
    gate=0: the local finish would trivialize this — the point is the
    DISTRIBUTED per-level convergence."""
    ids = list(range(500, 520))
    edges = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    from mapreduce_model_spark.operators.graph import bfs_depths

    e = spark.createDataFrame(edges, "id_a: long, id_b: long")
    set_local_finish(0)
    got = {r.node: r.depth for r in bfs_depths(e).collect()}
    assert got == {ids[i]: i for i in range(len(ids))}


@pytest.mark.parametrize("gate", [None, 0], ids=["local-finish", "distributed"])
def test_bfs_depths_eccentricity_equals_max_depth(spark, set_local_finish, gate):
    """A source whose eccentricity is exactly max_depth completes (the
    final level still gets its empty-frontier check — review-caught
    off-by-one); one less raises — as the SAME driver-side RuntimeError
    on both the local-finish and distributed paths."""
    import pytest as _pytest

    from mapreduce_model_spark.operators.graph import bfs_depths

    ids = list(range(700, 706))  # path graph, eccentricity 5 from ids[0]
    edges = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    e = spark.createDataFrame(edges, "id_a: long, id_b: long")
    set_local_finish(gate)
    got = {r.node: r.depth for r in bfs_depths(e, max_depth=5).collect()}
    assert got == {ids[i]: i for i in range(6)}
    with _pytest.raises(RuntimeError, match="max_depth"):
        bfs_depths(e, max_depth=4).collect()


def test_bfs_depths_edgeless_graph_with_source(spark):
    """Self-loop-only input + explicit source: the source is still depth-0
    reachable (review-caught inconsistency with the non-empty path)."""
    from mapreduce_model_spark.operators.graph import bfs_depths

    e = spark.createDataFrame([(9, 9), (4, 4)], "id_a: long, id_b: long")
    got = [(r.node, r.depth) for r in bfs_depths(e, source=5).collect()]
    assert got == [(5, 0)]
