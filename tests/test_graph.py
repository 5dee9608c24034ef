"""PageRank (operators/graph.py) vs a literal numpy power-iteration
reference with identical damping, teleport, and dangling-mass handling
— the rows-only correctness anchor for `olap_nation_pagerank` — plus
the mass-conservation and floor invariants.
"""

from __future__ import annotations

import numpy as np
import pytest

from etl_dag_spark.operators.graph import pagerank


def _reference(edges: list[tuple], damping: float, n_iter: int) -> dict:
    """Literal single-threaded PageRank: same update rule as the
    operator (teleport + damped contributions + uniform dangling
    redistribution), numpy accumulation."""
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out_w = np.zeros(n)
    for s, d, w in edges:
        out_w[idx[s]] += w
    rank = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for s, d, w in edges:
            contrib[idx[d]] += rank[idx[s]] * (w / out_w[idx[s]])
        dangling = rank[out_w == 0].sum()
        rank = (1.0 - damping) / n + damping * dangling / n + damping * contrib
    return {v: rank[idx[v]] for v in nodes}


def _run(spark, edges: list[tuple], **kw) -> dict:
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    return {
        r.node: r.rank for r in pagerank(df, weight_col="w", **kw).collect()
    }


CASES = [
    # simple cycle: uniform ranks
    [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
    # hub-and-spoke with a dangling sink d
    [("a", "d", 1.0), ("b", "d", 1.0), ("c", "d", 1.0), ("a", "b", 2.0)],
    # weighted asymmetric diamond
    [("a", "b", 3.0), ("a", "c", 1.0), ("b", "d", 1.0), ("c", "d", 1.0), ("d", "a", 1.0)],
]


@pytest.mark.parametrize("edges", CASES)
def test_pagerank_matches_numpy_reference(spark, edges):
    got = _run(spark, edges, damping=0.85, n_iter=10)
    want = _reference(edges, damping=0.85, n_iter=10)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


@pytest.mark.parametrize("edges", CASES)
def test_pagerank_adaptive_paths_agree(spark, edges, both_paths):
    """The driver-side numpy solve and the forced distributed loop
    agree to the reduction-order tolerance the operator already carries
    (<=1e-9; rows-only registration)."""
    fast, dist = both_paths(
        lambda: _run(spark, edges, damping=0.85, n_iter=10), {"pagerank"}
    )
    assert set(fast) == set(dist)
    for v in fast:
        assert fast[v] == pytest.approx(dist[v], abs=1e-9)


def test_pagerank_parallel_edges_fold(spark):
    """Duplicate (src, dst) rows sum their weights — same result as the
    pre-folded edge."""
    a = _run(spark, [("a", "b", 1.0), ("a", "b", 2.0), ("b", "a", 1.0)], n_iter=5)
    b = _run(spark, [("a", "b", 3.0), ("b", "a", 1.0)], n_iter=5)
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12)


def test_pagerank_driver_result_ignores_partitioning(spark, caplog):
    """The driver solve sorts its collected edges, so its float sums
    accumulate in one order: the ranks are the same bits whatever order
    the folded edge list arrives in (shuffle partitions 1 vs 7)."""
    import logging

    from etl_dag_spark.operators import adaptive

    rng = np.random.default_rng(7)
    pairs = {(int(s), int(d)) for s, d in rng.integers(0, 40, size=(400, 2))}
    edges = [(f"n{s}", f"n{d}", float(w)) for (s, d), w in zip(sorted(pairs), rng.random(len(pairs)))]
    caplog.set_level(logging.DEBUG, logger=adaptive.__name__)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    runs = []
    try:
        for parts in ("1", "7"):
            spark.conf.set(key, parts)
            runs.append({v: r.hex() for v, r in _run(spark, edges, n_iter=10).items()})
    finally:
        spark.conf.set(key, prev)
    assert runs[0] == runs[1]
    branches = [r.args[:2] for r in caplog.records if r.name == adaptive.__name__]
    assert branches == [("pagerank", "driver")] * 2


def test_pagerank_empty_edges(spark):
    empty = spark.createDataFrame([], "src string, dst string, w double")
    assert pagerank(empty, weight_col="w").count() == 0


def test_driver_solved_results_are_local_relations(spark):
    """Both ops' driver-solved results (and pagerank's empty one) are
    Arrow-built local relations, so reading them runs no Python worker;
    a frame created from a list of rows is a ``Scan ExistingRDD`` of
    pickled rows."""
    from etl_dag_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(CASES[1], "src string, dst string, w double")
    sources = spark.createDataFrame([("a",)], "node string")
    results = {
        "struct<node:string,rank:double>": [
            pagerank(edges, weight_col="w"),
            pagerank(edges.limit(0), weight_col="w"),
        ],
        "struct<node:string,dist:int>": [bfs_distances(edges, sources)],
    }
    for schema, frames in results.items():
        for df in frames:
            leaf = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
            assert (leaf, df.schema.simpleString()) == ("LocalRelation", schema)


def test_nation_pagerank_invariants(spark):
    from etl_dag_spark.queries import SPARK_QUERIES

    rows = SPARK_QUERIES["olap_nation_pagerank"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 25  # every nation trades
    total = sum(r.rank for r in rows)
    assert total == pytest.approx(1.0, abs=1e-6)  # 9dp rounding slack
    floor = (1.0 - 0.85) / 25
    assert all(r.rank >= floor - 1e-9 for r in rows)


def test_bfs_distances_cycle_safe_min_hops(spark):
    """bfs_distances on a digraph with a cycle, a diamond (two routes —
    min hop wins), and an unreachable node: distances are exact BFS
    levels, the cycle terminates, and the unreachable node is absent."""
    from etl_dag_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [
            ("s", "a"), ("s", "b"),           # level 1
            ("a", "c"), ("b", "c"),           # diamond → c at 2
            ("c", "s"),                       # cycle back to the source
            ("c", "d"), ("d", "e"),           # chain → 3, 4
            ("x", "y"),                       # disconnected component
        ],
        "src string, dst string",
    )
    sources = spark.createDataFrame([("s",)], "node string")
    got = {r.node: r.dist for r in bfs_distances(edges, sources).collect()}
    assert got == {"s": 0, "a": 1, "b": 1, "c": 2, "d": 3, "e": 4}


def test_bfs_distances_adaptive_paths_equal(spark, both_paths):
    """The driver-side BFS and the forced distributed loop are
    bit-equal — hop counts are integers."""
    from etl_dag_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [("s", "a"), ("s", "b"), ("a", "c"), ("b", "c"), ("c", "s"),
         ("c", "d"), ("d", "e"), ("x", "y")],
        "src string, dst string",
    )
    sources = spark.createDataFrame([("s",)], "node string")
    fast, dist = both_paths(
        lambda: {(r.node, r.dist) for r in bfs_distances(edges, sources).collect()},
        {"bfs_distances"},
    )
    assert fast == dist


def test_bfs_distances_multi_source(spark):
    """Multi-source BFS: distance is the min over sources."""
    from etl_dag_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [("p", "m"), ("m", "n"), ("q", "n")], "src string, dst string"
    )
    sources = spark.createDataFrame([("p",), ("q",)], "node string")
    got = {r.node: r.dist for r in bfs_distances(edges, sources).collect()}
    assert got == {"p": 0, "q": 0, "m": 1, "n": 1}


def test_nation_trade_edges_fold_by_key_equals_fold_by_name(spark, tmp_path):
    """``_nation_trade_edges`` sums by nation key before the name joins;
    on a nation table where two keys share a name, one key appears twice
    and one name is NULL, it returns the rows of the fold over named
    line rows."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from etl_dag_spark.operators import star
    from etl_dag_spark.queries import _nation_trade_edges
    from etl_dag_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    for t in ("supplier", "customer", "orders", "lineitem"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    nation = pq.read_table(os.path.join(SF_DIR, "nation.parquet"))
    keys = nation["n_nationkey"].to_pylist()
    names = nation["n_name"].to_pylist()
    names[keys.index(8)] = names[keys.index(3)]  # suppliers in both
    names[keys.index(12)] = None
    nation = nation.set_column(1, "n_name", pa.array(names, nation.schema.field("n_name").type))
    nation = pa.concat_tables([nation, nation.filter(pa.compute.equal(nation["n_nationkey"], 13))])
    pq.write_table(nation, tmp_path / "nation.parquet")
    sf = str(tmp_path)

    def load(t):
        return load_table(spark, sf, t)

    n = load("nation")
    by_name = (
        load("lineitem").join(load("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(load("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(load("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src")),
              F.col("s_nationkey") == F.col("sk"))
        .join(n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst")),
              F.col("c_nationkey") == F.col("ck"))
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(star.revenue_cents()).alias("w"))
    )
    got = _nation_trade_edges(spark, sf)
    assert got.schema == by_name.schema
    rows = sorted(map(tuple, got.collect()))
    assert rows == sorted(map(tuple, by_name.collect()))
    assert not any(r[0] is None or r[1] is None or r[0] == r[1] for r in rows)
    assert any(r[0] == names[keys.index(3)] for r in rows)
    assert any(r[0] == "NATION_13" for r in rows)
