"""Distributed full-corpus Lloyd k-means vs a literal numpy replay.

The operator's arithmetic is integer end-to-end, so the distributed
result must be BIT-EQUAL to a sequential reference that replays the
same quantization, init, distance, tiebreak, and centroid-update rules
— any divergence (float drift, nondeterministic argmin, wrong floor
semantics) fails exactly, the same standard test_graph.py applies to
PageRank/BFS.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from etl_dag_spark.operators.similarity import distributed_kmeans
from etl_dag_spark.sources.tables import load_table

from tests.conftest import SF_DIR

QUANT = 1_000_000


def _hash32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _reference_kmeans(ids, vecs, k, sweeps):
    """Literal sequential replay of the operator's contract: float32 →
    double → floor(x·10⁶) int64; seeds = k smallest ('km:'-salted md5
    32-bit, vec_id) pairs; dist = Σ(x−c)²; argmin tie → smallest
    centroid id; update floor(Σ/n), emptied cluster keeps its centroid."""
    q = np.floor(np.asarray(vecs, dtype=np.float64) * QUANT).astype(np.int64)
    order = sorted(range(len(ids)), key=lambda i: (_hash32(f"km:{ids[i]}"), ids[i]))
    seeds = order[:k]
    cents = q[seeds].copy()
    assign = None
    for _ in range(sweeps):
        d = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(k):
            members = q[assign == j]
            if len(members):
                cents[j] = np.floor(members.sum(axis=0) / len(members)).astype(np.int64)
    d = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)
    dist = d[np.arange(len(assign)), assign]
    return [int(i) for i in np.asarray(ids)[seeds]], cents, assign, dist


def _planted(spark, n_per=40, k=3, dim=8):
    """Three well-separated blobs with deterministic jitter."""
    rows = []
    for c in range(k):
        base = [float(10 * (c + 1)) * ((d % 2) * 2 - 1) for d in range(dim)]
        for i in range(n_per):
            vid = c * n_per + i
            jit = [((vid * 31 + d * 7) % 13 - 6) / 10.0 for d in range(dim)]
            rows.append((vid, [b + j for b, j in zip(base, jit)], c))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_kmeans_bit_equal_planted(spark):
    df = _planted(spark)
    assigned, cents, seed_ids = distributed_kmeans(df, k=3, sweeps=4)
    got = {r["vec_id"]: (r["cluster"], r["dist_sq"]) for r in assigned.collect()}

    pdf = df.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].tolist()
    vecs = [np.asarray(v, dtype=np.float32) for v in pdf["embedding"]]
    ref_seeds, ref_cents, ref_assign, ref_dist = _reference_kmeans(ids, vecs, 3, 4)

    assert seed_ids == ref_seeds
    assert [list(c) for c in ref_cents] == cents
    for i, vid in enumerate(ids):
        assert got[vid] == (ref_assign[i], ref_dist[i]), vid


def test_kmeans_bit_equal_real_embeddings(spark):
    e = load_table(spark, SF_DIR, "embeddings")
    assigned, cents, seed_ids = distributed_kmeans(e, k=8, sweeps=5)
    got = {r["vec_id"]: (r["cluster"], r["dist_sq"]) for r in assigned.collect()}

    pdf = e.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].tolist()
    vecs = [np.asarray(v, dtype=np.float32) for v in pdf["embedding"]]
    ref_seeds, ref_cents, ref_assign, ref_dist = _reference_kmeans(ids, vecs, 8, 5)

    assert seed_ids == ref_seeds
    assert [list(c) for c in ref_cents] == cents
    mism = [v for i, v in enumerate(ids) if got[v] != (ref_assign[i], ref_dist[i])]
    assert not mism, mism[:5]


def test_kmeans_adaptive_paths_bit_equal(spark, both_paths):
    """The driver-side sweep loop (collect-once numpy iteration) and
    the forced distributed sweeps produce bit-identical seeds,
    centroids, and assignments — the arithmetic is integer end-to-end
    with the same floor(Σ/n) double division."""
    e = load_table(spark, SF_DIR, "embeddings")

    def run():
        a, c, s = distributed_kmeans(e, k=5, sweeps=3)
        return a.collect(), c, s

    (a_fast, c_fast, s_fast), (a_dist, c_dist, s_dist) = both_paths(
        run, {"distributed_kmeans"}
    )
    assert s_fast == s_dist
    assert c_fast == c_dist
    r_fast = {r["vec_id"]: (r["cluster"], r["dist_sq"]) for r in a_fast}
    r_dist = {r["vec_id"]: (r["cluster"], r["dist_sq"]) for r in a_dist}
    assert r_fast == r_dist


def test_kmeans_recovers_planted_clusters(spark):
    """Blobs separated by ~20 units vs jitter ≤0.6: every blob must map
    onto exactly one k-means cluster (purity 1.0)."""
    df = _planted(spark)
    assigned, _, _ = distributed_kmeans(df, k=3, sweeps=4)
    rows = assigned.join(df.select("vec_id", "label"), "vec_id").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], set()).add(r["cluster"])
    assert all(len(cs) == 1 for cs in by_label.values()), by_label
    assert len({next(iter(cs)) for cs in by_label.values()}) == 3


def test_kmeans_inertia_non_increasing(spark):
    """More Lloyd sweeps can only lower (or hold) total inertia —
    the classic monotone-descent property, on the real table."""
    e = load_table(spark, SF_DIR, "embeddings")
    totals = []
    for sweeps in (1, 3, 5):
        assigned, _, _ = distributed_kmeans(e, k=8, sweeps=sweeps)
        totals.append(sum(r["dist_sq"] for r in assigned.collect()))
    assert totals[0] >= totals[1] >= totals[2], totals


def test_kmeans_partition_invariance(spark):
    """Result is independent of input partitioning (shuffle layout must
    not leak into assignments — integer math is order-free)."""
    e = load_table(spark, SF_DIR, "embeddings")
    a1, c1, _ = distributed_kmeans(e, k=4, sweeps=2)
    a2, c2, _ = distributed_kmeans(e.repartition(13, "vec_id"), k=4, sweeps=2)
    assert c1 == c2
    r1 = {r["vec_id"]: r["cluster"] for r in a1.collect()}
    r2 = {r["vec_id"]: r["cluster"] for r in a2.collect()}
    assert r1 == r2
