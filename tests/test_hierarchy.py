"""Replay the reference's exact 10-employee hierarchy dataset
(sql_definitions.sql:32-42) through both recursive operators and check
the closed-form expected results of its two recursive CTE queries
(sql_definitions.sql:54-84 and :93-121).
"""

from __future__ import annotations

import pytest

from etl_dag_spark.operators.hierarchy import ancestor_chain, recursive_expand

# (EmployeeID, Name, ManagerID) — verbatim from the reference insert.
EMPLOYEES = [
    (1, "Alice (CEO)", None),
    (2, "Bob (VP of Sales)", 1),
    (3, "Carol (VP of Engineering)", 1),
    (4, "David (Sales Manager 1)", 2),
    (5, "Eve (Sales Manager 2)", 2),
    (6, "Frank (Engineering Manager 1)", 3),
    (7, "Grace (Engineering Manager 2)", 3),
    (8, "Henry (Software Engineer 1)", 6),
    (9, "Ian (Software Engineer 2)", 6),
    (10, "Jack (Software Engineer 3)", 7),
]

# depth of each employee below the CEO
DEPTH = {1: 0, 2: 1, 3: 1, 4: 2, 5: 2, 6: 2, 7: 2, 8: 3, 9: 3, 10: 3}


@pytest.fixture(scope="module")
def frames(spark):
    nodes = spark.createDataFrame(
        [(i, n) for i, n, _ in EMPLOYEES], "id int, name string"
    )
    edges = spark.createDataFrame(
        [(i, m) for i, _, m in EMPLOYEES if m is not None], "child int, parent int"
    )
    return nodes, edges


def _parent_map() -> dict[int, int | None]:
    return {i: m for i, _, m in EMPLOYEES}


def _ancestors(i: int) -> list[int]:
    out, cur = [], _parent_map()[i]
    while cur is not None:
        out.append(cur)
        cur = _parent_map()[cur]
    return out


def test_recursive_expand_matches_reference_closure(spark, frames):
    nodes, edges = frames
    got = {
        (r.ancestor_id, r.node_id, r.level)
        for r in recursive_expand(nodes.select("id"), edges).collect()
    }
    # expected transitive closure incl. self at level 0 — the same row
    # set as the reference's first recursive query (its RootEmployeeID /
    # Hierarchy_Employee roles are this closure transposed)
    expected = set()
    for i, _, _ in EMPLOYEES:
        expected.add((i, i, 0))
        for lvl, anc in enumerate(_ancestors(i), start=1):
            expected.add((anc, i, lvl))
    assert got == expected
    assert len(got) == 29  # 10 self rows + 19 proper ancestor pairs


def test_recursive_expand_levels_bounded_by_tree_height(spark, frames):
    nodes, edges = frames
    df = recursive_expand(nodes.select("id"), edges)
    assert df.groupBy().max("level").first()[0] == max(DEPTH.values())


def test_ancestor_chain_matches_reference_manager_chains(spark, frames):
    nodes, edges = frames
    rows = {r.node_id: r for r in ancestor_chain(nodes, edges, sep=" -> ").collect()}
    assert len(rows) == 10  # every chain reaches the CEO
    names = {i: n for i, n, _ in EMPLOYEES}
    for i, _, _ in EMPLOYEES:
        chain = " -> ".join([names[i]] + [names[a] for a in _ancestors(i)])
        assert rows[i].chain == chain
        assert rows[i].depth == DEPTH[i] + 1
    # the reference's displayed example: Jack's full manager hierarchy
    assert rows[10].chain == (
        "Jack (Software Engineer 3) -> Grace (Engineering Manager 2)"
        " -> Carol (VP of Engineering) -> Alice (CEO)"
    )


def test_cycle_detection_raises(spark):
    nodes = spark.createDataFrame([(1,), (2,)], "id int")
    edges = spark.createDataFrame([(1, 2), (2, 1)], "child int, parent int")
    with pytest.raises(RuntimeError, match="max_iter"):
        recursive_expand(nodes, edges, max_iter=5)


# the reference set plus the degenerate rows whose bag semantics the
# driver walk must reproduce: a duplicated parent edge (Jack's chain
# twice), an edge to a parent missing from nodes (Kim is a root), a NULL
# name (Lee's chain and Max's, which passes through Lee, are NULL), a
# NULL id (Ned finishes at once) and an edge with a NULL child
EXTRA_NODES = [(11, "Kim"), (12, None), (13, "Max"), (None, "Ned")]
EXTRA_EDGES = [(10, 7), (11, 99), (12, 1), (13, 12), (None, 1)]


@pytest.mark.parametrize("min_depth", [0, 6])
def test_ancestor_chain_driver_walk_equals_distributed_loop(spark, both_paths, min_depth):
    nodes = spark.createDataFrame(
        [(i, n) for i, n, _ in EMPLOYEES] + EXTRA_NODES, "id int, name string"
    )
    edges = spark.createDataFrame(
        [(i, m) for i, _, m in EMPLOYEES if m is not None] + EXTRA_EDGES,
        "child int, parent int",
    )

    def rows():
        got = ancestor_chain(nodes, edges, sep=" -> ", min_depth=min_depth)
        return sorted(map(tuple, got.collect()), key=repr)

    driver, distributed = both_paths(rows, ["ancestor_chain"])
    assert driver == distributed
    assert len(driver) == 15  # 10 reference chains, Jack's twice, 4 extra nodes
    assert (None, "Ned", 1) in driver and (11, "Kim", 1) in driver
    assert (13, None, 3) in driver


def test_ancestor_chain_cycle_raises_on_both_paths(spark, both_paths):
    nodes = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    edges = spark.createDataFrame([(1, 2), (2, 1)], "child int, parent int")

    def error():
        with pytest.raises(RuntimeError, match="max_iter") as exc:
            ancestor_chain(nodes, edges, max_iter=5)
        return str(exc.value)

    driver, distributed = both_paths(error, ["ancestor_chain"])
    assert driver == distributed


def test_ancestor_chain_walk_past_the_bound_falls_back(spark, frames, caplog, monkeypatch):
    """Nodes and edges pass the gate, but the walk outgrows the bound: the
    distributed loop answers, and the records show both decisions."""
    import logging

    from etl_dag_spark.operators import adaptive, hierarchy

    nodes, edges = frames
    monkeypatch.setattr(hierarchy, "_DRIVER_MAX_ROWS", 12)
    caplog.set_level(logging.DEBUG, logger=adaptive.__name__)
    got = {r.node_id: r.depth for r in ancestor_chain(nodes, edges).collect()}
    assert got == {i: DEPTH[i] + 1 for i in DEPTH}
    branches = [r.args[1] for r in caplog.records if r.name == adaptive.__name__]
    assert branches == ["driver", "driver", "distributed"]
