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

``ancestor_chain`` is gated (``operators/adaptive.py``): when nodes and
edges each have at most ``_DRIVER_MAX_ROWS`` rows, ids are integral or
string and names are strings, it collects both through the one
``limit`` probe per frame and walks the chains in Python with the
distributed loop's bag semantics, returning a ``local_frame``. A walk
whose rows would pass the bound falls back to the distributed loop.
``recursive_expand`` has no driver path: its callers join names onto the
closure, and those joins, not the loop's jobs, set its cost.
"""

from __future__ import annotations

from collections import defaultdict

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType

from etl_dag_spark.operators.adaptive import collect_if_small, local_frame, on_driver

# nodes, edges and the chains walked on the driver are each at most
# this many rows
_DRIVER_MAX_ROWS = 500_000

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

    ADAPTIVE (module docstring): small inputs walk the same loop on the
    driver (:func:`_driver_chains`); the two paths return the same rows,
    pinned in tests/test_hierarchy.py.
    """
    chains = _driver_chains(nodes, edges, sep, max_iter, min_depth)
    if chains is not None:
        return chains
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


def _key_family(dtype) -> str | None:
    """The id types whose Spark equality is Python equality."""
    if isinstance(dtype, IntegralType):
        return "integral"
    if dtype == StringType():  # the default (binary) collation only
        return "string"
    return None


def _driver_chains(
    nodes: DataFrame, edges: DataFrame, sep: str, max_iter: int, min_depth: int
) -> DataFrame | None:
    """:func:`ancestor_chain`'s loop walked in Python over collected
    nodes and edges, or None when the gate sends it to the distributed
    loop. Every step mirrors a distributed one: ``parents`` is the inner
    ``edges ⋈ nodes`` join (duplicate rows multiply, NULL keys never
    match), a state with no parent row finishes, ``concat`` yields NULL
    if either name is NULL, and ``max_iter`` raises the same error."""
    id_t = nodes.schema["id"].dataType
    family = _key_family(id_t)
    if (
        family is None
        or _key_family(edges.schema["child"].dataType) != family
        or _key_family(edges.schema["parent"].dataType) != family
        or nodes.schema["name"].dataType != StringType()
    ):
        return None
    op = "ancestor_chain"
    node_rows = collect_if_small(op, nodes.select("id", "name"), _DRIVER_MAX_ROWS)
    if node_rows is None:
        return None
    edge_rows = collect_if_small(op, edges.select("child", "parent"), _DRIVER_MAX_ROWS)
    if edge_rows is None:
        return None
    ids, names = node_rows["id"].to_pylist(), node_rows["name"].to_pylist()
    names_of = defaultdict(list)
    for i, name in zip(ids, names):
        if i is not None:
            names_of[i].append(name)
    # the rows the walk holds (the parents join, then the chains) are
    # checked against the bound as they grow, so a fan-out from
    # duplicated rows falls back before it is built
    parents = defaultdict(list)
    held = 0
    for child, parent in zip(edge_rows["child"].to_pylist(), edge_rows["parent"].to_pylist()):
        if child is not None and parent in names_of:
            parents[child].extend((parent, name) for name in names_of[parent])
            held += len(names_of[parent])
            if held > _DRIVER_MAX_ROWS:
                on_driver(op, held, _DRIVER_MAX_ROWS)  # logs the fallback
                return None
    state = [(i, name, i, 1) for i, name in zip(ids, names)]
    done: list[tuple] = []
    for it in range(max_iter):
        ongoing = []
        for node_id, chain, cursor, depth in state:
            hops = parents.get(cursor, ())
            if not hops:
                done.append((node_id, chain, depth))
            for parent, name in hops:
                link = None if chain is None or name is None else chain + sep + name
                ongoing.append((node_id, link, parent, depth + 1))
            if held + len(done) + len(ongoing) > _DRIVER_MAX_ROWS:
                on_driver(op, held + len(done) + len(ongoing), _DRIVER_MAX_ROWS)
                return None
        if it >= min_depth and not ongoing:
            break
        state = ongoing
    else:
        raise RuntimeError(f"chain deeper than max_iter={max_iter} (cycle?)")
    node_ids, chains, depths = zip(*done) if done else ((), (), ())
    return local_frame(
        nodes.sparkSession,
        {
            "node_id": pa.array(node_ids, node_rows.schema.field("id").type),
            "chain": pa.array(chains, pa.string()),
            "depth": pa.array(depths, pa.int32()),
        },
        f"node_id {id_t.simpleString()}, chain string, depth int",
    )
