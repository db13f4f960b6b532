"""Distributed iterative graph operators — connected components, PageRank.

Near-duplicate detection produces PAIRS; deduplication needs CLUSTERS (keep
one survivor per component). Components are an iterative fixpoint — not
expressible in one SQL query (Spark has no recursive CTE) — so this is a
genuine custom operator: large-star/small-star-style label propagation on
DataFrames.

Algorithm — phased forest contraction:
1. **Hook**: every node picks ``parent = min(neighbors ∪ {self})`` — a
   forest whose edges always point to smaller ids (acyclic).
2. **Compress**: pointer-jump the *static* forest (``parent =
   parent[parent]``) to fixpoint — the forest never changes during
   jumping, so depth halves every round: O(log depth) rounds. (Interleaving
   hooking with jumping — the naive "label propagation + jump" loop —
   rewrites pointers each round and degrades to one hop per round on
   chains; the phase separation is what makes doubling real.)
3. **Contract**: rewrite edges through the roots, drop intra-component
   edges, recurse on the contracted graph. Every non-root merges into a
   root, so node count at least halves per phase: O(log n) phases.

Each round is joins + a changed-count; the driver never sees data. Non-
convergence within the caps raises — wrong components are never returned
silently.

Scale notes:
- Each round is one join (edges ⋈ labels) + one groupBy(min) — two shuffles
  on node id, both AQE-managed. Labels are (node, long) — tiny next to the
  edge list.
- The driver only sees the single changed-row COUNT per round (the loop
  condition), never data.
- Iteration count is capped (``max_iter``) as a runaway guard; the cap
  raising is a config, not a redesign, for adversarial diameters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_model_spark import operators


def _compress(parent: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Pointer-jump a static parent forest ``(node, par)`` to fixpoint:
    every node ends pointing at its root. Depth halves per round."""
    for _ in range(max_rounds):
        grand = parent.select(
            F.col("node").alias("g_node"), F.col("par").alias("g_par")
        )
        jumped = parent.join(grand, parent["par"] == grand["g_node"], "left").select(
            "node",
            F.coalesce(F.col("g_par"), F.col("par")).alias("par"),
            (F.coalesce(F.col("g_par"), F.col("par")) < F.col("par")).alias("_chg"),
        )
        # lazy checkpoint: the changed-count below is the materializing
        # action (it scans every partition), so lineage cut + loop condition
        # share one job per round
        jumped = jumped.localCheckpoint(eager=False)
        n = jumped.filter(F.col("_chg")).count()
        parent = jumped.drop("_chg")
        if n == 0:
            return parent
    raise RuntimeError(f"forest compression did not converge in {max_rounds} rounds")


# Local finish: once the (remaining) edge list is at most
# operators.LOCAL_FINISH_ROWS rows it is solved in ONE executor task —
# every further hook/compress/contract round would pay scheduler latency
# (measured: 2.7 s for 256 edges at 32 partitions; ~1.5 s even coalesced
# to one partition, vs one ~0.2 s task for the local finish). The gate
# rides on the frontier count each phase already computes, so it costs
# nothing, and a graph that is still large keeps the distributed loop.


def _local_components(g: DataFrame) -> DataFrame:
    """Single-task union-find over a graph that fits one partition —
    EXECUTOR-side via mapInPandas (the driver never sees an edge; the
    input is bounded by the caller's ``LOCAL_FINISH_ROWS`` gate, ≈ 3 MB).
    Union-by-min (the larger root attaches under the smaller) makes every
    final root the minimum id of its component — the same contract as the
    distributed loop. The iterator covers ALL Arrow batches of the single
    coalesced partition, so state is complete before anything is emitted."""
    import pandas as pd

    def uf(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                u, v = int(u), int(v)
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru < rv:
                    parent[rv] = ru
                elif rv < ru:
                    parent[ru] = rv
        nodes = sorted(parent)
        yield pd.DataFrame(
            {"node": nodes, "component": [find(n) for n in nodes]}
        )

    return g.coalesce(1).mapInPandas(uf, "node long, component long")


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_phases: int = 30,
) -> DataFrame:
    """Undirected connected components. ``edges``: two long columns.

    Returns ``(node, component)`` where ``component`` is the minimum node id
    in the node's component — deterministic, join-able back onto the doc
    table to pick keep-first survivors. A graph (or contracted remainder)
    of at most ``operators.LOCAL_FINISH_ROWS`` symmetrized edges finishes
    in one task (``_local_components``).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # symmetrize; materialize once (the count below is the action) so the
    # iteration never re-executes the upstream pipeline (e.g. MinHash-LSH)
    # that produced the pairs. The count doubles as the frontier size, so
    # checkpoint + emptiness check is ONE job — the per-phase pattern too.
    g = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    frontier = g.count()
    if 0 < frontier <= operators.LOCAL_FINISH_ROWS:
        return _local_components(g)
    labels = (
        g.select(F.col("u").alias("node")).distinct().withColumn("component", F.col("node"))
    )
    for _ in range(max_phases):
        if frontier == 0:
            return labels
        # hook: parent = min(neighbors ∪ {self}); strictly decreasing ⇒ forest
        parent = (
            g.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select(F.col("u").alias("node"), F.least("u", "mv").alias("par"))
        )
        roots = _compress(parent)
        # fold this phase's roots into the global labels. LAZY checkpoint:
        # no action here — the fold rides on whatever materializes labels
        # next (the following phase's fold, or the caller's job), while
        # still cutting lineage at O(phases) depth.
        labels = (
            labels.join(roots, labels["component"] == roots["node"], "left")
            .select(
                labels["node"],
                F.coalesce(F.col("par"), F.col("component")).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        # contract: rewrite edges through roots, drop intra-component edges
        ru = roots.select(F.col("node").alias("u"), F.col("par").alias("ru"))
        rv = roots.select(F.col("node").alias("v"), F.col("par").alias("rv"))
        g = (
            g.join(ru, "u")
            .join(rv, "v")
            .filter(F.col("ru") != F.col("rv"))
            .select(F.col("ru").alias("u"), F.col("rv").alias("v"))
        )
        g = (
            g.unionByName(g.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # one job: materializes the contracted graph AND is the loop exit
        frontier = g.count()
        if 0 < frontier <= operators.LOCAL_FINISH_ROWS:
            # local finish on the CONTRACTED graph, folded through labels
            # exactly like a phase's roots
            local = _local_components(g).select(
                F.col("node").alias("c_node"), F.col("component").alias("c_root")
            )
            return (
                labels.join(local, labels["component"] == local["c_node"], "left")
                .select(
                    labels["node"],
                    F.coalesce(F.col("c_root"), F.col("component")).alias(
                        "component"
                    ),
                )
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_phases} phases"
    )


def _local_pagerank(e: DataFrame, damping: float, n_iter: int) -> DataFrame:
    """Single-task power iteration over a graph that fits one partition —
    EXECUTOR-side via mapInPandas (bounded by the caller's
    ``LOCAL_FINISH_ROWS`` gate, like ``_local_components``). Replays the
    distributed loop's recurrence exactly: uniform 1/n init, per-edge
    contribution rank/outdeg, dangling mass (nodes with no out-edges)
    redistributed uniformly, rank = (1-d)/n + d·(contrib + dangling/n).
    The iterator covers ALL Arrow batches of the single coalesced
    partition, so the graph is complete before iteration starts."""

    def pr(batches):
        import numpy as np
        import pandas as pd

        us, vs = [], []
        for pdf in batches:
            us.append(pdf["u"].to_numpy())
            vs.append(pdf["v"].to_numpy())
        u = np.concatenate(us) if us else np.array([], dtype=np.int64)
        v = np.concatenate(vs) if vs else np.array([], dtype=np.int64)
        nodes = np.unique(np.concatenate([u, v]))
        n = len(nodes)
        if n == 0:
            yield pd.DataFrame(
                {"node": pd.Series(dtype="int64"), "rank": pd.Series(dtype="float64")}
            )
            return
        ui = np.searchsorted(nodes, u)
        vi = np.searchsorted(nodes, v)
        out = np.bincount(ui, minlength=n)
        dang = out == 0
        safe_out = np.where(dang, 1, out)
        r = np.full(n, 1.0 / n)
        for _ in range(n_iter):
            contrib = np.zeros(n)
            np.add.at(contrib, vi, r[ui] / safe_out[ui])
            dangling = float(r[dang].sum())
            r = (1.0 - damping) / n + damping * (contrib + dangling / n)
        yield pd.DataFrame({"node": nodes, "rank": r})

    return e.coalesce(1).mapInPandas(pr, "node long, rank double")


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    damping: float = 0.85,
    n_iter: int = 20,
) -> DataFrame:
    """Directed PageRank, fixed ``n_iter`` power iterations (the production
    choice: deterministic output and runtime, no convergence-test join).
    Returns ``(node, rank)`` summing to 1; dangling-node mass (nodes with no
    out-edges) is redistributed uniformly each iteration, so the invariant
    holds on any graph.

    Scale shape per iteration: one join (edges ⋈ ranks, shuffle on src) +
    one groupBy(dst) — the same two-exchange round as connected_components;
    ranks are (node, double). The only driver-side value is one scalar per
    iteration (dangling mass), never rows — and it rides on the SAME job
    that materializes the iteration's ranks: the checkpoint is lazy
    (``localCheckpoint(eager=False)``) and the dangling aggregate is the
    action that triggers it, so each iteration runs exactly one job.
    Lineage is cut by the checkpoint so iteration N's plan doesn't replay
    iterations 1..N-1.

    A graph whose node AND edge counts are both at most
    ``operators.LOCAL_FINISH_ROWS`` runs the whole power method in one task
    (``_local_pagerank``).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # static (node, outdeg) frame; outdeg null ⇔ dangling. Node count and
    # dangling count come from ONE aggregate over the checkpointed frame.
    base = nodes.join(outdeg, "node", "left").localCheckpoint(eager=True)
    counts = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("outdeg").isNull(), F.lit(1))).alias("n_dangling"),
        F.coalesce(F.sum("outdeg"), F.lit(0)).alias("n_edges"),
    ).first()
    n, n_dangling, n_edges = counts["n"], counts["n_dangling"], counts["n_edges"]
    if n == 0:
        return base.select("node", F.lit(0.0).alias("rank"))
    gate = operators.LOCAL_FINISH_ROWS
    if n <= gate and n_edges <= gate:
        # Local finish, same endgame as connected_components'
        # _local_components: iterate the whole power method in ONE executor
        # task over the checkpointed edge list instead of n_iter rounds of
        # tiny distributed join+agg jobs (measured ~4 s of per-iteration
        # scheduler/exchange latency at sf0.1 for 8 iterations; the local
        # task replays the identical recurrence — same init, same damping,
        # same dangling redistribution — and the numpy reference test plus
        # the 8-decimal-rounded oracle pin the parity). Both gates ride on
        # the one aggregate this function already pays for: node count AND
        # edge count (sum of outdeg) must fit, since _local_pagerank
        # coalesces the whole EDGE list into one task.
        return _local_pagerank(e, damping, n_iter)
    ranks = base.withColumn("rank", F.lit(1.0 / n))
    # dangling mass of the uniform init — no job needed
    dangling = n_dangling / n
    for i in range(n_iter):
        contrib = (
            e.join(ranks, e["u"] == ranks["node"])
            .select("v", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = base.join(contrib, base["node"] == contrib["v"], "left").select(
            "node",
            "outdeg",
            (
                F.lit((1.0 - damping) / n)
                + damping * (F.coalesce(F.col("contrib"), F.lit(0.0)) + dangling / n)
            ).alias("rank"),
        )
        if n_dangling and i < n_iter - 1:
            # lazy checkpoint: the dangling aggregate below is the action
            # that materializes it, so the next iteration's scalar and this
            # iteration's lineage cut share a single job
            ranks = ranks.localCheckpoint(eager=False)
            dangling = (
                ranks.filter(F.col("outdeg").isNull()).agg(F.sum("rank")).first()[0]
                or 0.0
            )
        elif n_dangling:
            # final iteration: the dangling scalar would never be used, so
            # a plain eager checkpoint caps lineage without the extra
            # filter+sum pass over ranks
            ranks = ranks.localCheckpoint(eager=True)
        # Without dangling nodes (e.g. any symmetrized undirected graph) no
        # per-iteration scalar is needed at all; checkpoint every few
        # iterations — enough to cap lineage depth and failure-replay span,
        # without paying a full materialization per round.
        elif (i + 1) % 3 == 0 or i == n_iter - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", "rank")


def dedup_survivors(
    docs: DataFrame,
    dup_edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep-first dedup over near-dup clusters: every doc gets its component
    (itself when un-duplicated) and ``is_survivor`` = (id == component min).
    One broadcast-able label join back onto the corpus."""
    comp = connected_components(dup_edges, src, dst)
    out = docs.join(comp, docs[id_col] == comp["node"], "left").select(
        docs[id_col],
        F.coalesce(F.col("component"), docs[id_col]).alias("component"),
    )
    return out.withColumn("is_survivor", F.col(id_col) == F.col("component"))


def _local_bfs(g: DataFrame, source: int | None) -> DataFrame:
    """Single-task BFS over a graph that fits one partition — EXECUTOR-side
    via mapInPandas (bounded by the caller's ``LOCAL_FINISH_ROWS`` gate,
    like ``_local_components``/``_local_pagerank``). Input is the already
    symmetrized, self-loop-free, distinct edge list; depth labels are
    traversal-order independent, so deque BFS reproduces the distributed
    level-synchronous loop exactly. ``source=None`` picks the minimum node
    INSIDE the task (the same deterministic choice, one fewer job). Depths
    are NOT capped here — the caller enforces max_depth driver-side so the
    error surfaces as the same RuntimeError as the distributed loop."""
    import pandas as pd

    def bfs(batches):
        from collections import deque

        adj: dict[int, list[int]] = {}
        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                adj.setdefault(int(u), []).append(int(v))
        if not adj:
            yield pd.DataFrame(
                {"node": pd.Series(dtype="int64"), "depth": pd.Series(dtype="int64")}
            )
            return
        s = min(adj) if source is None else int(source)
        depths = {s: 0}
        q = deque([s])
        while q:
            x = q.popleft()
            for y in adj.get(x, ()):
                if y not in depths:
                    depths[y] = depths[x] + 1
                    q.append(y)
        nodes = sorted(depths)
        yield pd.DataFrame({"node": nodes, "depth": [depths[n] for n in nodes]})

    return g.coalesce(1).mapInPandas(bfs, "node long, depth long")


def bfs_depths(
    edges: DataFrame,
    source: int | None = None,
    src: str = "id_a",
    dst: str = "id_b",
    max_depth: int = 30,
) -> DataFrame:
    """Unit-weight single-source shortest paths (BFS layers) on an
    undirected graph: returns ``(node, depth)`` for every node reachable
    from ``source`` (default: the minimum node id — deterministic).

    Level-synchronous frontier expansion — the canonical distributed BFS:
    each round joins the frontier against the edge list (node-keyed
    shuffle), anti-joins already-labeled nodes, and stops when the
    frontier empties. Depth labels are traversal-order-independent, so
    the output is deterministic however tasks interleave. The driver sees
    one scalar per round (the frontier count, which doubles as the
    materializing action for the lazy checkpoint) — never data. Rounds =
    graph eccentricity of the source, the intrinsic lower bound for BFS.

    A graph of at most ``operators.LOCAL_FINISH_ROWS`` symmetrized edges
    runs in one task (``_local_bfs``). Unlike components, BFS has no
    doubling shortcut — the distributed loop pays one round per level — so
    the single-task endgame saves eccentricity-many scheduler round-trips,
    not just a handful.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    g = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = g.count()
    if 0 < n_edges <= operators.LOCAL_FINISH_ROWS:
        # local finish; max_depth is enforced HERE (driver-side, after the
        # lazy checkpoint is materialized by the max() aggregate) so the
        # over-eccentricity error is the same RuntimeError the distributed
        # loop raises, not a wrapped executor exception
        out = _local_bfs(g, source).localCheckpoint(eager=False)
        mx = out.agg(F.max("depth")).first()[0]
        if mx is not None and mx > max_depth:
            raise RuntimeError(f"bfs_depths exceeded max_depth={max_depth}")
        return out
    if n_edges == 0:
        # an explicitly named source is depth-0 reachable even in a graph
        # with no (non-self-loop) edges; without one there is nothing to do
        spark = edges.sparkSession
        if source is not None:
            return spark.createDataFrame(
                [(int(source), 0)], "node long, depth long"
            )
        return g.select(
            F.col("u").alias("node"), F.lit(0).cast("long").alias("depth")
        )
    if source is None:
        # one scalar to the driver — the deterministic source pick
        source = g.agg(F.min("u")).first()[0]
    spark = edges.sparkSession
    labels = spark.createDataFrame([(int(source), 0)], "node long, depth long")
    frontier = labels.select("node")
    # max_depth + 1 expansions: the LAST permitted level (depth ==
    # max_depth) must still get its empty-frontier check, otherwise a
    # graph whose source eccentricity equals max_depth would raise even
    # though the traversal completed (off-by-one caught in review)
    for depth in range(1, max_depth + 2):
        nxt = (
            g.join(frontier.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(labels, "node", "anti")
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            return labels
        if depth > max_depth:
            break
        labels = labels.unionByName(
            nxt.withColumn("depth", F.lit(depth).cast("long"))
        ).localCheckpoint(eager=False)
        frontier = nxt
    raise RuntimeError(f"bfs_depths exceeded max_depth={max_depth}")
