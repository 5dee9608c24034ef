"""Graph analytics as iterative DataFrame fixpoints: weighted PageRank.

Complements the connected-components labeling in ``operators/dedup.py``
(cluster_pairs) with the other canonical distributed-graph workload —
iterative rank propagation. The same discipline applies (SURVEY §6b-4):
every frontier stays persisted until the NEXT materialization, a fixed
iteration count (no data-dependent driver loop over floats), and the
only driver state is scalars.

Scale shape per iteration: one shuffle — contributions grouped by
destination — sized to the edge list; the (1−d)/N teleport and the
dangling-mass redistribution are scalar broadcasts, never a join
against a node-sized frame. At 100 TB the edge list is the cost, and
nothing here touches more than one pass of it per iteration.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_dag_spark.operators.adaptive import collect_if_small, local_frame

_RANKS = "node string, rank double"
# edge lists up to this many rows are solved on the driver
_DRIVER_MAX_EDGES = 500_000


def _ranks(edges: DataFrame, nodes: list[str], rank) -> DataFrame:
    return local_frame(
        edges.sparkSession,
        {"node": pa.array(nodes, pa.string()), "rank": pa.array(rank, pa.float64())},
        _RANKS,
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Multi-source BFS hop distances over a directed edge list —
    cycle-safe (every node is discovered exactly once, at its minimum
    hop count) → (node, dist INT); nodes unreachable from ``sources``
    are absent.

    ADAPTIVE physical strategy (``operators/adaptive.py``): when the
    deduplicated edge list is at most ``_DRIVER_MAX_EDGES`` rows (one
    ``limit`` probe of the persisted edge frame that also delivers the
    rows), the exact BFS runs DRIVER-SIDE over the collected adjacency
    list — hop counts are integers, so the two paths are bit-equal by
    construction (pinned in tests/test_graph.py); the per-level Spark
    jobs of the distributed loop are pure scheduler overhead on small
    graphs. Above the bound the level-synchronous loop below runs
    unchanged — the 100 TB path never collects an SF-scaled edge list.

    Distributed path: level-synchronous frontier expansion — per level,
    one join of the frontier against the edge list (shuffle sized to
    the frontier's out-edges) and one anti-join against the visited
    set; the frontier and visited frames follow the checkpoint
    discipline (visited is referenced twice per level — dedupe + union
    — so its plan is truncated each level like PageRank's ranks).
    Driver state is one emptiness scalar per level; iteration count is
    O(graph diameter).

    Node ids compare (and return) as STRINGS: sources and both edge
    endpoints are cast identically, so numeric ids never fall into
    Spark's string-vs-number DOUBLE coercion (which collapses distinct
    ids above 2^53).
    """
    e = edges.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
    ).distinct().persist()
    # BFS hop counts are insensitive to adjacency order
    small = collect_if_small("bfs_distances", e, _DRIVER_MAX_EDGES)
    if small is not None:
        e.unpersist()
        adj: dict[str, list[str]] = {}
        for u, v in zip(small["src"].to_pylist(), small["dst"].to_pylist()):
            adj.setdefault(u, []).append(v)
        srcs = [
            r["node"]
            for r in sources.select(
                F.col(sources.columns[0]).cast("string").alias("node")
            )
            .distinct()
            .collect()
        ]
        dist: dict[str, int] = {s: 0 for s in srcs}
        frontier = list(dist)
        level = 0
        while frontier:
            level += 1
            if level > max_iter:
                raise RuntimeError(f"BFS did not exhaust in {max_iter} levels")
            nxt: list[str] = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = level
                        nxt.append(v)
            frontier = nxt
        nodes = sorted(dist)
        columns = {
            "node": pa.array(nodes, pa.string()),
            "dist": pa.array([dist[v] for v in nodes], pa.int32()),
        }
        return local_frame(edges.sparkSession, columns, "node string, dist int")
    try:
        visited = (
            sources.select(F.col(sources.columns[0]).cast("string").alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0))
            .localCheckpoint()
        )
        frontier = visited.select("node").localCheckpoint()
        for level in range(1, max_iter + 1):
            nxt = (
                frontier.join(e, frontier.node == e.src)
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .localCheckpoint()
            )
            if nxt.isEmpty():
                break
            visited = visited.unionByName(
                nxt.withColumn("dist", F.lit(level))
            ).localCheckpoint()
            frontier = nxt
        else:
            raise RuntimeError(f"BFS did not exhaust in {max_iter} levels")
    finally:
        e.unpersist()
    return visited.select("node", F.col("dist").cast("int").alias("dist"))


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, fixed ``n_iter``
    power iterations (the production form: a fixed sweep count, not a
    float-convergence driver loop).

    → (node STRING, rank DOUBLE); ranks sum to 1.0 (dangling-node mass
    is redistributed uniformly each iteration, the standard
    correction). BREAKING NOTE (r14): node ids are cast to STRING like
    :func:`bfs_distances` — both adaptive paths return one type.
    Callers joining the rank frame back to a numeric-id frame must
    cast their side explicitly (``F.col(id).cast("string")``) or
    re-cast ``node`` back, or the join silently runs under Spark's
    string-vs-number DOUBLE coercion.

    ADAPTIVE: edge lists at most ``_DRIVER_MAX_EDGES`` rows after
    folding solve driver-side in numpy, where the float sums accumulate
    in sorted ``(src, dst)`` edge order, so the driver result is the
    same bits under any partitioning (see the inline note); larger
    graphs run the distributed loop: per iteration, contribution =
    rank · w/out_w per edge, one groupBy shuffle on the destination;
    dangling mass is a SCALAR (one-row aggregate collected) folded
    into the teleport term — never a node-sized join. Ranks persist
    per iteration and the previous frontier unpersists only after the
    next one materializes (SURVEY §6b-4 frontier discipline).
    """
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
            w.alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .persist()
    )
    # Driver solve: the identical update rule in numpy, without the
    # per-sweep jobs (join + groupBy + two checkpoints) that are pure
    # scheduler overhead on small graphs. The collect arrives in no set
    # order, so the edges are sorted by their unique (src, dst) key
    # first: float sums then accumulate in one canonical order, whatever
    # the partitioning (the numpy reference in tests/test_graph.py
    # agrees to <=1e-9 with both paths).
    small = collect_if_small("pagerank", e, _DRIVER_MAX_EDGES)
    if small is not None:
        import numpy as np

        e.unpersist()
        if small.num_rows == 0:
            return _ranks(edges, [], [])
        small = small.sort_by([("src", "ascending"), ("dst", "ascending")])
        src, dst = small["src"].to_pylist(), small["dst"].to_pylist()
        node_list = sorted(set(src) | set(dst))
        idx = {v: i for i, v in enumerate(node_list)}
        n = len(node_list)
        src_i = np.fromiter((idx[v] for v in src), dtype=np.int64, count=len(src))
        dst_i = np.fromiter((idx[v] for v in dst), dtype=np.int64, count=len(dst))
        wv = small["w"].to_numpy()
        out_w = np.zeros(n)
        np.add.at(out_w, src_i, wv)
        # Degenerate-input alignment (r15, ADVICE r14): a src whose
        # weights sum to 0 gets p = NULL in the distributed loop (the
        # non-ANSI divide) — its contributions are silently dropped —
        # yet it is NOT in the distributed dangling set (it has edge
        # rows). Mirror both facts exactly: zero contribution (not
        # NaN), and dangling = "no out-edge at all", never out_w == 0.
        denom = out_w[src_i]
        p = np.divide(wv, denom, out=np.zeros_like(wv), where=denom != 0.0)
        dangling = np.ones(n, dtype=bool)
        dangling[src_i] = False
        rank = np.full(n, 1.0 / n)
        for _ in range(n_iter):
            contrib = np.zeros(n)
            np.add.at(contrib, dst_i, rank[src_i] * p)
            dm = float(rank[dangling].sum())
            rank = (1.0 - damping) / n + (damping / n) * dm + damping * contrib
        # idx enumerates node_list, so rank is already in node order
        return _ranks(edges, node_list, rank)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = max(nodes.count(), 1)  # an empty graph sweeps over no nodes
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # normalized edge transition weights: one frame reused every sweep
    trans = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
        .persist()
    )
    trans.count()
    e.unpersist()

    # dangling node set (no out-edges) is loop-invariant: compute once
    dang = nodes.join(
        trans.select("src").distinct(), nodes.node == F.col("src"), "left_anti"
    ).persist()
    dang.count()

    # each sweep references `ranks` TWICE (contributions + dangling
    # mass), so a persist-only frontier would double the LOGICAL plan
    # per iteration — exponential analyzer cost by sweep 10 even though
    # the data is cached. An eager localCheckpoint truncates the plan
    # to a cached-scan every sweep (constant-size plans; the linear-
    # growth operators in hierarchy.py get away with persist because
    # they reference their frontier once).
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    for _ in range(n_iter):
        contrib = (
            ranks.join(trans, ranks.node == trans.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("p")).alias("in_rank"))
        )
        # dangling mass = rank sitting on no-out-edge nodes: a 1-row
        # aggregate folded in as a broadcast, redistributed uniformly
        # (keeps sum(rank) == 1) — in-plan, no driver collect per sweep
        dmass = ranks.join(dang, "node").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .join(F.broadcast(dmass))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping / n) * F.col("__dm")
                    + F.lit(damping) * F.coalesce("in_rank", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    # release the loop-invariant inputs; checkpointed blocks are GC'd
    # by the context cleaner
    nodes.unpersist()
    trans.unpersist()
    dang.unpersist()
    return ranks
