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

``hierarchy_levels`` (the closure with both ends' names) and
``ancestor_chain`` are gated (``operators/adaptive.py``): when nodes and
edges each have at most ``_DRIVER_MAX_ROWS`` rows, ids are integral or
string and names are strings, both frames come to the driver through
one ``limit`` probe each, run as two concurrent jobs (:func:`_probe`),
and the distributed loop's own steps run there as Arrow (Acero) joins,
which have Spark's bag semantics: NULL keys never match and duplicated
keys multiply. The result is a ``local_frame``. Each join's output rows are predicted from
its key counts before it is built, and a solve whose held rows would
pass the bound falls back to the distributed loop.
``recursive_expand`` alone has no driver path.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType
from pyspark.util import inheritable_thread_target

from etl_dag_spark.operators.adaptive import collect_if_small, local_frame, on_driver

# nodes and edges are each at most this many rows on the driver, and so
# are the rows a driver solve holds at once
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


def hierarchy_levels(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 30, min_depth: int = 0
) -> DataFrame:
    """:func:`recursive_expand` with each end's name joined on (the
    reference's first recursive query, names included).

    nodes: (id, name), edges: (child, parent) →
    (ancestor_id, ancestor_name, node_id, node_name, level)

    ADAPTIVE (module docstring): small inputs run the closure and both
    name joins on the driver (:func:`_driver_levels`); the two paths
    return the same rows, pinned in tests/test_hierarchy.py.
    """
    levels = _driver_levels(nodes, edges, max_iter, min_depth)
    if levels is not None:
        return levels
    closure = recursive_expand(nodes.select("id"), edges, max_iter, min_depth)
    na = nodes.select(F.col("id").alias("ancestor_id"), F.col("name").alias("ancestor_name"))
    nn = nodes.select(F.col("id").alias("node_id"), F.col("name").alias("node_name"))
    return (
        closure.join(na, "ancestor_id")
        .join(nn, "node_id")
        .select("ancestor_id", "ancestor_name", "node_id", "node_name", "level")
    )


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

    ADAPTIVE (module docstring): small inputs run the same loop on the
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


class _PastBound(Exception):
    """A driver solve would hold more rows than the bound."""


def _key_family(dtype) -> str | None:
    """The id types whose Spark equality is Arrow's join equality."""
    if isinstance(dtype, IntegralType):
        return "integral"
    if dtype == StringType():  # the default (binary) collation only
        return "string"
    return None


def _probe(op: str, nodes: DataFrame, edges: DataFrame) -> tuple[pa.Table, pa.Table] | None:
    """nodes ``(id, name)`` and edges ``(child, parent)`` as Arrow tables
    whose three keys share one type, or None when the gate sends ``op``
    to its distributed loop: ids not all integral or all strings, names
    not strings, or a frame over the bound. Each frame is coalesced to
    one partition before its ``limit`` probe, which keeps the limit out
    of the legs of a union input: the probe stays one job and compiles
    no new class per call (``adaptive.collect_if_small``). The two
    probes run at once, so the caller waits for one job's latency."""
    family = _key_family(nodes.schema["id"].dataType)
    if (
        family is None
        or _key_family(edges.schema["child"].dataType) != family
        or _key_family(edges.schema["parent"].dataType) != family
        or nodes.schema["name"].dataType != StringType()
    ):
        return None
    key_t = pa.int64() if family == "integral" else pa.large_string()

    # each pool thread carries the caller's Spark local properties (its
    # job group) and job tags
    @inheritable_thread_target(nodes.sparkSession)
    def probe(df: DataFrame) -> pa.Table | None:
        rows = collect_if_small(op, df.coalesce(1), _DRIVER_MAX_ROWS)
        if rows is None:
            return None
        return rows.cast(pa.schema([
            pa.field(f.name, f.type if f.name == "name" else key_t) for f in rows.schema
        ]))

    with ThreadPoolExecutor(2) as pool:
        node_rows, edge_rows = pool.map(
            probe, (nodes.select("id", "name"), edges.select("child", "parent"))
        )
    if node_rows is None or edge_rows is None:
        return None
    return node_rows, edge_rows


def _join(
    op: str, held: int, left: pa.Table, lkey: str, right: pa.Table, rkey: str,
    outer: bool = False,
) -> pa.Table:
    """``left ⋈ right`` on ``lkey = rkey`` (left outer when ``outer``),
    built only if ``held`` rows plus its own stay within the bound; past
    it, logs the fallback and raises :class:`_PastBound`. Its rows are
    predicted first from the two sides' key counts (a NULL key matches
    nothing), so a fan-out from duplicated keys is never built."""

    def counts(t: pa.Table, key: str) -> pa.Table:
        c = t.group_by(key).aggregate([([], "count_all")])
        return pa.table({"k": c[key], "n": c["count_all"]})

    matched = counts(left, lkey).join(
        counts(right, rkey), "k", join_type="inner", right_suffix="_r"
    )
    rows = pc.sum(pc.multiply(matched["n"], matched["n_r"])).as_py() or 0
    if outer:
        rows += left.num_rows - (pc.sum(matched["n"]).as_py() or 0)
    if held + rows > _DRIVER_MAX_ROWS:
        on_driver(op, held + rows, _DRIVER_MAX_ROWS)  # logs the fallback
        raise _PastBound
    return left.join(right, lkey, rkey, join_type="left outer" if outer else "inner")


def _driver_levels(
    nodes: DataFrame, edges: DataFrame, max_iter: int, min_depth: int
) -> DataFrame | None:
    """:func:`hierarchy_levels` on the driver, or None when the gate
    sends it distributed. The closure is :func:`recursive_expand`'s
    loop (every node row is its own ancestor at level 0, each level an
    inner ``frontier ⋈ edges`` join, the same ``min_depth`` and
    ``max_iter`` behavior), then the two inner name joins."""
    op = "hierarchy_levels"
    probed = _probe(op, nodes, edges)
    if probed is None:
        return None
    node_rows, edge_rows = probed
    frontier = pa.table({
        "ancestor_id": node_rows["id"],
        "node_id": node_rows["id"],
        "level": pa.repeat(pa.scalar(0, pa.int32()), node_rows.num_rows),
    })
    parts = [frontier]
    held = frontier.num_rows
    try:
        for level in range(max_iter):
            step = _join(op, held, frontier, "node_id", edge_rows, "parent")
            nxt = pa.table({
                "ancestor_id": step["ancestor_id"],
                "node_id": step["child"],
                "level": pc.add(step["level"], pa.scalar(1, pa.int32())),
            })
            if level >= min_depth and nxt.num_rows == 0:
                break
            parts.append(nxt)
            held += nxt.num_rows
            frontier = nxt
        else:
            raise RuntimeError(f"hierarchy deeper than max_iter={max_iter} (cycle?)")
        closure = pa.concat_tables(parts)
        named = _join(
            op, held, closure, "ancestor_id",
            node_rows.rename_columns(["id", "ancestor_name"]), "id",
        )
        named = _join(
            op, named.num_rows, named, "node_id",
            node_rows.rename_columns(["id", "node_name"]), "id",
        )
    except _PastBound:
        return None
    id_t = nodes.schema["id"].dataType
    # node_id has the type of the distributed closure's union of ids and children
    node_t = (
        nodes.select("id").unionByName(edges.select(F.col("child").alias("id")))
        .schema["id"].dataType
    )
    return local_frame(
        nodes.sparkSession,
        {
            "ancestor_id": named["ancestor_id"],
            "ancestor_name": named["ancestor_name"],
            "node_id": named["node_id"],
            "node_name": named["node_name"],
            "level": named["level"],
        },
        f"ancestor_id {id_t.simpleString()}, ancestor_name string,"
        f" node_id {node_t.simpleString()}, node_name string, level int",
    )


def _driver_chains(
    nodes: DataFrame, edges: DataFrame, sep: str, max_iter: int, min_depth: int
) -> DataFrame | None:
    """:func:`ancestor_chain` on the driver, or None when the gate sends
    it distributed. Every step is a distributed one: ``parents`` is the
    inner ``edges ⋈ nodes`` join, each step a left outer join of the
    state on ``cursor``, a state with no parent row finishes, the
    concatenation is NULL if either name is, and ``max_iter`` raises the
    same error. The parents join and the chains count as held rows."""
    op = "ancestor_chain"
    probed = _probe(op, nodes, edges)
    if probed is None:
        return None
    node_rows, edge_rows = probed
    try:
        parents = _join(op, 0, edge_rows, "parent", node_rows, "id")
        state = pa.table({
            "node_id": node_rows["id"],
            "chain": node_rows["name"],
            "cursor": node_rows["id"],
            "depth": pa.repeat(pa.scalar(1, pa.int32()), node_rows.num_rows),
        })
        held = parents.num_rows
        done = []
        for it in range(max_iter):
            step = _join(op, held, state, "cursor", parents, "child", outer=True)
            ends = pc.is_null(step["parent"])
            done.append(step.filter(ends).select(["node_id", "chain", "depth"]))
            held += done[-1].num_rows
            ongoing = step.filter(pc.invert(ends))
            if it >= min_depth and ongoing.num_rows == 0:
                break
            state = pa.table({
                "node_id": ongoing["node_id"],
                "chain": pc.binary_join_element_wise(
                    ongoing["chain"], ongoing["name"], sep, null_handling="emit_null"
                ),
                "cursor": ongoing["parent"],
                "depth": pc.add(ongoing["depth"], pa.scalar(1, pa.int32())),
            })
        else:
            raise RuntimeError(f"chain deeper than max_iter={max_iter} (cycle?)")
    except _PastBound:
        return None
    chains = pa.concat_tables(done)
    id_t = nodes.schema["id"].dataType
    return local_frame(
        nodes.sparkSession,
        {
            "node_id": chains["node_id"],
            "chain": chains["chain"],
            "depth": chains["depth"],
        },
        f"node_id {id_t.simpleString()}, chain string, depth int",
    )
