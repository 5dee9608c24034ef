"""Recursive-hierarchy operators: the reference's recursive CTEs
(sql_definitions.sql:54-84 descendant expansion, :93-121 manager-chain
concatenation) re-expressed as iterative frontier joins to a fixpoint.
Spark 4 also runs WITH RECURSIVE natively: the registry's
``sql_hierarchy_levels`` and ``sql_ancestor_chain`` run the reference's
CTE text (``sql.HIERARCHY_LEVELS_SQL`` / ``sql.ANCESTOR_CHAIN_SQL``)
against the same oracles as these operators.

Scale design: each iteration is one distributed join of the current
frontier against the (broadcastable or key-partitioned) edge set; the
frontier is persisted so lineage doesn't re-execute; termination is
detected from the frontier's count — an aggregate, never data to the
driver. Total work is O(edges × depth); depth for org charts and
region/nation/customer trees is small and bounded by ``max_iter``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel
from pyspark.sql import functions as F

# Frontier frames persisted by the iterative operators. They must stay
# cached until the caller MATERIALIZES the returned union (unpersisting
# mid-loop replays the join chain), so cleanup is a post-materialization
# hook: long-lived sessions (bench loops, repeated registry invocations)
# call release_persisted() after consuming each result.
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(df)
    return df


def release_persisted() -> None:
    """Unpersist every frontier cached by prior hierarchy calls. Safe to
    call unconditionally; only valid AFTER the returned frames have been
    materialized (or abandoned)."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def recursive_expand(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 30, min_depth: int = 0
) -> DataFrame:
    """Transitive closure with levels, seeded with every node as its own
    ancestor at level 0 (exactly the reference's first recursive query:
    every employee is a root of its own subtree).

    nodes: (id), edges: (child, parent) → (ancestor_id, node_id, level)

    ``min_depth`` (r15): a PERFORMANCE hint — skip the per-level
    emptiness probe for the first ``min_depth`` levels when the caller
    knows the hierarchy is at least that deep (region→nation→customer
    is always 2). Semantically safe under ANY data: if the hint
    overshoots, the extra frontiers are empty frames whose joins emit
    nothing and whose union contributes no rows — only the probe jobs
    are saved, never rows changed.
    """
    closure = nodes.select(
        F.col("id").alias("ancestor_id"),
        F.col("id").alias("node_id"),
        F.lit(0).cast("int").alias("level"),
    )
    # Each frontier is persisted and STAYS persisted until the caller
    # materializes the union — unpersisting mid-loop would force the
    # final union to replay the whole join chain. Entries are small
    # (one level of the closure each) and bounded by tree depth;
    # release_persisted() reclaims them post-materialization.
    frontier = _persist(closure)
    results = [frontier]
    for level in range(max_iter):
        nxt = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.node_id") == F.col("e.parent"))
            .select(
                F.col("f.ancestor_id").alias("ancestor_id"),
                F.col("e.child").alias("node_id"),
                (F.col("f.level") + 1).cast("int").alias("level"),
            )
        )
        nxt = _persist(nxt)
        if level >= min_depth and nxt.isEmpty():
            break
        results.append(nxt)
        frontier = nxt
    else:
        raise RuntimeError(f"hierarchy deeper than max_iter={max_iter} (cycle?)")
    out = results[0]
    for part in results[1:]:
        out = out.unionByName(part)
    return out


def ancestor_chain(
    nodes: DataFrame,
    edges: DataFrame,
    sep: str = " -> ",
    max_iter: int = 30,
    min_depth: int = 0,
) -> DataFrame:
    """Path-to-root name chain per node (the reference's second recursive
    query: ``ManagerChain || ' → ' || e.Name`` filtered to complete
    chains).

    nodes: (id, name), edges: (child, parent) →
    (node_id, chain, depth) — only nodes whose chain reaches a root.

    ``min_depth`` (r15): performance hint like
    :func:`recursive_expand`'s — skip the per-iteration emptiness probe
    while ``iteration < min_depth`` when chains are known at least that
    long. A wrong hint only joins empty frames (no rows change).
    """
    parents = edges.join(nodes, edges["parent"] == nodes["id"]).select(
        F.col("child").alias("p_child"),
        F.col("parent").alias("p_parent"),
        F.col("name").alias("p_name"),
    )
    state = nodes.select(
        F.col("id").alias("node_id"),
        F.col("name").alias("chain"),
        F.col("id").alias("cursor"),
        F.lit(1).cast("int").alias("depth"),
    )
    state = _persist(state)
    done_parts: list[DataFrame] = []
    for it in range(max_iter):
        # one persisted join per iteration; finished/ongoing are two
        # cheap filters over it, and the final union of finished parts
        # reads the cache instead of replaying the join chain (persists
        # stay live until the caller materializes — small, depth-bounded)
        step = (
            state.alias("s")
            .join(parents.alias("p"), F.col("s.cursor") == F.col("p.p_child"), "left")
            .select(
                F.col("s.node_id").alias("node_id"),
                F.col("s.chain").alias("chain"),
                F.col("s.depth").alias("depth"),
                F.col("p.p_parent").alias("next_cursor"),
                F.col("p.p_name").alias("next_name"),
            )
        )
        step = _persist(step)
        finished = step.where(F.col("next_cursor").isNull()).select(
            "node_id", "chain", "depth"
        )
        ongoing = step.where(F.col("next_cursor").isNotNull()).select(
            "node_id",
            F.concat(F.col("chain"), F.lit(sep), F.col("next_name")).alias("chain"),
            F.col("next_cursor").alias("cursor"),
            (F.col("depth") + 1).cast("int").alias("depth"),
        )
        done_parts.append(finished)
        if it >= min_depth and ongoing.isEmpty():
            break
        state = ongoing
    else:
        raise RuntimeError(f"chain deeper than max_iter={max_iter} (cycle?)")
    out = done_parts[0]
    for part in done_parts[1:]:
        out = out.unionByName(part)
    return out
