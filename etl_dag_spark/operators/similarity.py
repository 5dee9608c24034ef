"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exactness baseline. Query set is
  broadcast (queries are few), the corpus is scanned once — at 100 TB
  this is one pass, embarrassingly parallel, no shuffle of the corpus.
- Hyperplane-LSH top-k: the scale path. Signatures bucket the corpus so
  each query only scores its bucket; recall vs brute force is measured
  in tests (IVF-style coarse quantization would slot in the same shape).
- Cosine near-dup pairs: all-pairs above a threshold (exactness
  baseline for broadcast-sized corpora); :func:`cosine_pairs_lsh` is
  the 100 TB path — hyperplane-LSH bucket equi-join candidates + exact
  cosine verify, mirroring dedup_cluster_lsh vs dedup_cluster.

Hot-path design: norms are computed once per row BEFORE the pair join
(never per pair), and the per-pair dot product is an unrolled
fixed-dimension expression (`dot_fixed`) that stays inside whole-stage
codegen — interpreted higher-order lambdas per pair are ~100× slower.
Accumulation order matches the DuckDB oracle exactly (sequential
left-to-right double adds), so values are bit-reproducible.
"""

from __future__ import annotations

import math
import random
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_dag_spark.functions.vectors import dim_of, dot_fixed, norm_fixed
from etl_dag_spark.operators.adaptive import on_driver

# Emission margin below the user threshold inside the Python worker;
# the authoritative rounded-compare happens JVM-side afterwards, so a
# float at the exact boundary can never be lost to rounding-mode skew.
_EDGE = 1e-9
# distributed_kmeans solves on the driver up to this many quantized cells
_KMEANS_DRIVER_MAX_CELLS = 2_000_000


def _seq_dot_block(c_mat: np.ndarray, q_mat: np.ndarray) -> np.ndarray:
    """(C×dim)·(Q×dim)ᵀ with strictly sequential per-pair accumulation:
    dimension i's product is added for every pair in order, so each
    pair's sum is ((0 + p₀) + p₁) + … — bit-identical to the
    Column-expression / DuckDB list_reduce fold (never BLAS GEMM, whose
    pairwise/SIMD summation order differs in the last ulp).

    Cache-tiled: a naive ``acc += np.outer(...)`` over dims sweeps the
    full C×Q float64 accumulator (plus a same-sized temporary) through
    DRAM once per dimension — 64 dims × a 256 MB accumulator is ~16 GB
    of traffic per Arrow batch and measured ~20× slower than compute
    bound. Tiles of 256×512 (1 MB accumulator + 1 MB scratch) stay in
    L2 across the dim loop; per-pair accumulation order is untouched,
    so results remain bit-identical to the untiled loop."""
    n_c, n_d = c_mat.shape
    n_q = q_mat.shape[0]
    acc = np.zeros((n_c, n_q))
    if n_c == 0 or n_q == 0:
        return acc
    tile_c, tile_q = 256, 512
    tmp = np.empty((min(tile_c, n_c), min(tile_q, n_q)))
    # contiguous per-dim rows so the inner loop reads are sequential
    c_t = np.ascontiguousarray(c_mat.T)
    q_t = np.ascontiguousarray(q_mat.T)
    for ci in range(0, n_c, tile_c):
        ce = min(ci + tile_c, n_c)
        for qi in range(0, n_q, tile_q):
            qe = min(qi + tile_q, n_q)
            a = acc[ci:ce, qi:qe]
            t = tmp[: ce - ci, : qe - qi]
            for i in range(n_d):
                np.multiply(c_t[i, ci:ce, None], q_t[i, None, qi:qe], out=t)
                a += t
    return acc


def _seq_norms(mat: np.ndarray) -> np.ndarray:
    acc = np.zeros(mat.shape[0])
    for i in range(mat.shape[1]):
        acc += mat[:, i] * mat[:, i]
    return np.sqrt(acc)


def _matrix(pdf: pd.DataFrame, id_col: str, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    if not len(pdf):
        # np.vstack raises on an empty list; keep a (0, 0) matrix so
        # empty corpora / empty query sets degrade to empty results
        return ids, np.zeros((0, 0))
    mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    return ids, mat


def _spread(df: DataFrame) -> DataFrame:
    """Small single-file tables scan as ONE partition, which would run
    the Arrow scoring pass on one core; round-robin repartition spreads
    the corpus across the cluster first (cost: one tiny shuffle)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target)


def brute_force_topk(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    sim_band: tuple[float, float] | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for rows matching ``query_filter``.

    → (query_id, neighbor_id, rank, sim); rank by (sim rounded to 6dp
    DESC, neighbor_id ASC) so ordering is reproducible under any
    physical plan.

    ``sim_band=(lo, hi)``: restrict candidates to lo ≤ sim < hi on the
    ROUNDED similarity BEFORE the local top-k — the hard-negative-mining
    contract (exclude near-duplicates above hi, keep the most confusable
    below), which post-filtering a plain top-k cannot express (it would
    drop winners instead of admitting the next candidates). Membership
    is DECIDED JVM-side on the emitted F.round value (the repo's
    rounded-compare invariant): the Python-side numpy band is only a
    pre-filter widened by a 1e-9 margin, because np.round (banker's,
    binary) and F.round (HALF_UP, decimal string) can disagree at exact
    6dp halves — a Python-final band would emit rows the oracle
    excludes.

    Shape for scale: the query set is collected and broadcast (queries
    are few — the contract of this operator); the corpus streams through
    one Arrow-batched ``mapInPandas`` pass that emits a per-partition
    local top-(k+8) per query, so executor→shuffle volume is
    O(partitions × queries × k), not O(corpus × queries). The global
    window rank over that union is exact because local and global use
    the same (sim DESC, neighbor_id ASC) order, with +8 slack absorbing
    any last-ulp local-ordering skew near rounding boundaries.
    """
    spark = embeddings.sparkSession
    q_pdf = (
        embeddings.where(query_filter).select(id_col, vec_col).toPandas()
    )
    if not len(q_pdf):
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, sim double"
        )
    q_ids, q_mat = _matrix(q_pdf, id_col, vec_col)
    q_norm = _seq_norms(q_mat)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))
    local_k = k + 8

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bq_ids, bq_mat, bq_norm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids, c_mat = _matrix(pdf, id_col, vec_col)
            sims = _seq_dot_block(c_mat, bq_mat) / np.outer(_seq_norms(c_mat), bq_norm)
            sims_r = np.round(sims, 6)
            for j in range(len(bq_ids)):
                col = sims_r[:, j]
                mask = c_ids != bq_ids[j]
                if sim_band is not None:
                    # pre-filter only; final membership re-checked on the
                    # JVM-rounded sim. Margin = one 6dp rounding quantum
                    # + epsilon: np.round is binary half-even while
                    # F.round is decimal HALF_UP, so the two can differ
                    # by a full 1e-6 on ties — a 1e-9-only margin masked
                    # candidates whose JVM-rounded sim equals the band
                    # edge. Over-admission is harmless (JVM decides).
                    mask &= (col >= sim_band[0] - 1e-6 - 1e-9) & (
                        col < sim_band[1] + 1e-6 + 1e-9
                    )
                idx = np.flatnonzero(mask)
                order = idx[np.lexsort((c_ids[idx], -col[idx]))][:local_k]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(order), bq_ids[j], dtype=np.int64),
                        "neighbor_id": c_ids[order],
                        "sim_raw": sims[order, j],
                    }
                )

    scored = _spread(embeddings.select(id_col, vec_col)).mapInPandas(
        score, "query_id long, neighbor_id long, sim_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    rounded = scored.select(
        "query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim")
    )
    if sim_band is not None:
        rounded = rounded.where(
            (F.col("sim") >= sim_band[0]) & (F.col("sim") < sim_band[1])
        )
    return (
        rounded.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_rows: int = 1_000_000,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup).

    → (vec_id_a, vec_id_b, sim), a < b. The corpus matrix is broadcast
    (this exact-all-pairs baseline is for corpora that fit in a
    broadcast — the 100 TB path replaces the candidate step with LSH
    buckets, see :func:`lsh_topk`); each corpus partition scores its
    rows against the broadcast block in one vectorized pass and emits
    only pairs above threshold, so shuffle volume is the result size.
    The final threshold compare runs JVM-side on the 6dp-rounded sim,
    identical to the oracle.

    Fail-fast contract: the corpus is pulled to the driver and
    broadcast, so ``count() > max_rows`` raises ``ValueError`` BEFORE
    the collect — the baseline cannot silently be pointed at an
    SF-scaled table (the scale path is :func:`lsh_topk` /
    :func:`semantic_dedup_pairs`). The extra count job is one
    column-pruned scan, trivial next to the collect it guards.
    """
    spark = embeddings.sparkSession
    n_rows = embeddings.count()
    if n_rows > max_rows:
        raise ValueError(
            f"cosine_pairs: corpus has {n_rows} rows > max_rows="
            f"{max_rows}; this exact all-pairs baseline broadcasts the "
            "whole corpus — use lsh_topk/semantic_dedup_pairs at scale"
        )
    all_pdf = embeddings.select(id_col, vec_col).toPandas()
    a_ids, a_mat = _matrix(all_pdf, id_col, vec_col)
    a_norm = _seq_norms(a_mat)
    bc = spark.sparkContext.broadcast((a_ids, a_mat, a_norm))
    emit_floor = threshold - _EDGE

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_mat, b_norm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids, c_mat = _matrix(pdf, id_col, vec_col)
            sims = _seq_dot_block(c_mat, b_mat) / np.outer(_seq_norms(c_mat), b_norm)
            # pair (a, b) with a < b is emitted by the partition owning b
            keep = (b_ids[None, :] < c_ids[:, None]) & (sims >= emit_floor)
            ci, bi = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "vec_id_a": b_ids[bi],
                    "vec_id_b": c_ids[ci],
                    "sim_raw": sims[ci, bi],
                }
            )

    out = _spread(embeddings.select(id_col, vec_col)).mapInPandas(
        pairs, "vec_id_a long, vec_id_b long, sim_raw double"
    )
    return (
        out.select("vec_id_a", "vec_id_b", F.round("sim_raw", 6).alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def replicate_near_dups(
    embeddings: DataFrame,
    copies: int = 16,
    noise: float = 0.1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_stride: int = 1_000_000,
) -> DataFrame:
    """Deterministically augment a corpus with planted near-duplicate
    replicas: each input row yields ``copies`` rows — the original plus
    ``copies−1`` multiplicatively-perturbed twins (replica ``r`` of row
    ``v`` gets id ``r·id_stride + v`` and dimension ``i`` scaled by
    ``1 + noise·(2·h(v,r,i)−1)`` with a splitmix-style integer hash
    ``h``). At ``noise=0.1`` same-base replicas sit at cosine ≈ 0.998
    while cross-base similarity keeps the base corpus's distribution —
    a clean near-dup regime (τ ≥ 0.95) for exercising the LSH pair
    path, which the synthetic test embeddings lack (their max pairwise
    cosine is ~0.6).

    The perturbation is a pure function of (id, replica, dim) — no RNG
    state, no partitioning dependence — so results are reproducible
    under any physical plan. One Arrow pass, fan-out ``copies``×.
    """

    def _hash01(key: np.ndarray) -> np.ndarray:
        a = key.astype(np.uint64)
        a = (a ^ (a >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
        a = (a ^ (a >> np.uint64(33))) * np.uint64(0xC4CEB9FE1A85EC53)
        a = a ^ (a >> np.uint64(33))
        return a.astype(np.float64) / 2.0**64

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dims = None
        with np.errstate(over="ignore"):
            for pdf in batches:
                if not len(pdf):
                    continue
                ids, mat = _matrix(pdf, id_col, vec_col)
                if dims is None:
                    dims = np.arange(mat.shape[1], dtype=np.uint64)
                yield pd.DataFrame(
                    {id_col: ids, vec_col: list(mat.astype(np.float32))}
                )
                for r in range(1, copies):
                    key = (
                        ids.astype(np.uint64)[:, None] * np.uint64(1_000_003)
                        + np.uint64(r) * np.uint64(7919)
                        + dims[None, :]
                    )
                    scale = 1.0 + noise * (2.0 * _hash01(key) - 1.0)
                    yield pd.DataFrame(
                        {
                            id_col: np.uint64(r) * np.uint64(id_stride) + ids.astype(np.uint64),
                            vec_col: list((mat * scale).astype(np.float32)),
                        }
                    )

    return embeddings.select(id_col, vec_col).mapInPandas(
        expand, f"{id_col} long, {vec_col} array<float>"
    )


def _hyperplanes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    # Box-Muller from the seeded PRNG → deterministic gaussian planes
    planes = []
    for _ in range(n_planes):
        plane = []
        for _ in range(dim):
            u1 = max(rng.random(), 1e-12)
            u2 = rng.random()
            plane.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2))
        planes.append(plane)
    return planes


def lsh_bucket_column(vec_col: Column | str, n_planes: int, dim: int, seed: int = 42) -> Column:
    """Random-hyperplane signature packed into one int (0..2^n_planes).

    Each plane's projection is an unrolled Σ vec[i]·lit(plane[i]) —
    constant plane coefficients folded into the expression, no array
    literals in the hot path.
    """
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    planes = _hyperplanes(n_planes, dim, seed)
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        proj = F.lit(0.0)
        for i, x in enumerate(plane):
            proj = proj + F.get(vec, i).cast("double") * F.lit(x)
        bit = F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(0)
        bucket = bucket + bit
    return bucket


def _train_sample(
    embeddings: DataFrame, id_col: str, vec_col: str, cap: int, seed: int
) -> pd.DataFrame:
    """Driver-sized training sample: ``sample(fraction).limit(cap)`` so
    the collect is bounded by ``cap`` rows no matter the corpus size —
    codebook training must never pull the full corpus to the driver."""
    total = embeddings.count()
    if total <= cap:
        return embeddings.select(id_col, vec_col).toPandas()
    # 1.2x oversample so the post-sample limit() almost surely fills cap
    frac = min(1.0, 1.2 * cap / total)
    return (
        embeddings.select(id_col, vec_col)
        .sample(fraction=frac, seed=seed)
        .limit(cap)
        .toPandas()
    )


def _kmeans_centroids(
    mat: np.ndarray, k: int, seed: int = 42, n_iter: int = 10
) -> np.ndarray:
    """Deterministic Lloyd's k-means on the (sampled, driver-sized)
    training matrix. Coarse quantization only needs rough centroids, so
    a handful of iterations on a sample is the standard IVF training
    recipe — the codebook broadcasts; assignment stays distributed."""
    rng = np.random.default_rng(seed)
    centroids = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)]
    for _ in range(n_iter):
        d = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(centroids)):
            members = mat[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    return centroids


def ivf_topk(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = None,
    scored_counter=None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means codebook
    partitions the corpus into ``n_lists`` cells; each query scores only
    the ``n_probe`` cells nearest its own vector. The coarse-quantizer
    alternative to :func:`lsh_topk` — same contract, recall measured in
    tests.

    Scale shape: the codebook trains on a ``sample().limit(train_cap)``
    subset (driver memory is bounded by the cap, never the corpus), the
    (n_lists × dim) codebook broadcasts, and the corpus streams through
    one Arrow pass where each query's dot products are computed ONLY for
    rows whose cell is among its probes — probe restriction prunes the
    compute, not just the emission. ``scored_counter`` (a Spark
    accumulator) counts scored (row, query) pairs so tests can assert
    the pruning.
    """
    spark = embeddings.sparkSession
    q_pdf = embeddings.where(query_filter).select(id_col, vec_col).toPandas()
    train_pdf = _train_sample(
        embeddings, id_col, vec_col, train_cap or max(256 * n_lists, 4096), seed
    )
    if not len(train_pdf) or not len(q_pdf):
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, sim double"
        )
    _, train_mat = _matrix(train_pdf, id_col, vec_col)
    centroids = _kmeans_centroids(train_mat, n_lists, seed=seed)

    q_ids, q_mat = _matrix(q_pdf, id_col, vec_col)
    qc = ((q_mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    probes = np.argsort(qc, axis=1)[:, :n_probe]  # queries × n_probe cells
    bc = spark.sparkContext.broadcast(
        (q_ids, q_mat, _seq_norms(q_mat), probes, centroids)
    )
    local_k = k + 8

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bq_ids, bq_mat, bq_norm, bq_probes, cents = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids, c_mat = _matrix(pdf, id_col, vec_col)
            cd = ((c_mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            c_cell = cd.argmin(axis=1)
            c_norm = _seq_norms(c_mat)
            for j in range(len(bq_ids)):
                in_probe = np.isin(c_cell, bq_probes[j])
                idx = np.flatnonzero(in_probe & (c_ids != bq_ids[j]))
                if not len(idx):
                    continue
                if scored_counter is not None:
                    scored_counter.add(int(len(idx)))
                # dot products ONLY over the probe-matched candidates
                sims = _seq_dot_block(c_mat[idx], bq_mat[j : j + 1])[:, 0] / (
                    c_norm[idx] * bq_norm[j]
                )
                order = np.lexsort((c_ids[idx], -np.round(sims, 6)))[:local_k]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(order), bq_ids[j], dtype=np.int64),
                        "neighbor_id": c_ids[idx[order]],
                        "sim_raw": sims[order],
                    }
                )

    scored = _spread(embeddings.select(id_col, vec_col)).mapInPandas(
        score, "query_id long, neighbor_id long, sim_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def lsh_topk(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    scored_counter=None,
) -> DataFrame:
    """Approximate cosine top-k: queries only score corpus rows sharing
    a hyperplane bucket in at least one of ``n_tables`` independent
    hash tables. Per table, 2^n_planes buckets shrink the candidate set
    ~2^n_planes×; multiple tables recover the recall a single table
    loses when a cluster straddles a plane (standard LSH design — at
    100 TB each table is one shuffle-key, candidates are unioned).

    The dot products are computed ONLY for bucket-matched candidates —
    the bucketing prunes compute, not just emission (corpus-side work is
    the O(corpus × n_planes × n_tables) signature pass plus candidate
    scoring). ``scored_counter`` (a Spark accumulator) counts scored
    (row, query) pairs so tests can assert the pruning.

    → (query_id, neighbor_id, rank, sim) — same contract as
    :func:`brute_force_topk`; recall is measured in tests.
    """
    spark = embeddings.sparkSession
    planes = np.array(
        [_hyperplanes(n_planes, dim, seed + 1000 * t) for t in range(n_tables)]
    )  # n_tables × n_planes × dim
    powers = (1 << np.arange(n_planes)).astype(np.int64)

    def buckets_of(mat: np.ndarray) -> np.ndarray:
        """→ (rows × n_tables) bucket ids. Plane dots accumulate
        SEQUENTIALLY (_seq_dot_block, never BLAS) so the sign decisions
        are bit-identical to the DuckDB oracle's literal-plane replay —
        a GEMM's pairwise summation can flip a near-zero sign."""
        return np.stack(
            [
                ((_seq_dot_block(mat, planes[t]) >= 0).astype(np.int64)
                 * powers[None, :]).sum(axis=1)
                for t in range(n_tables)
            ],
            axis=1,
        )

    q_pdf = embeddings.where(query_filter).select(id_col, vec_col).toPandas()
    if not len(q_pdf):
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, sim double"
        )
    q_ids, q_mat = _matrix(q_pdf, id_col, vec_col)
    bc = spark.sparkContext.broadcast(
        (q_ids, q_mat, _seq_norms(q_mat), buckets_of(q_mat))
    )
    local_k = k + 8

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bq_ids, bq_mat, bq_norm, bq_bkt = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids, c_mat = _matrix(pdf, id_col, vec_col)
            c_bkt = buckets_of(c_mat)
            c_norm = _seq_norms(c_mat)
            for j in range(len(bq_ids)):
                shared = (c_bkt == bq_bkt[j][None, :]).any(axis=1)
                idx = np.flatnonzero(shared & (c_ids != bq_ids[j]))
                if not len(idx):
                    continue
                if scored_counter is not None:
                    scored_counter.add(int(len(idx)))
                # dot products ONLY over the bucket-matched candidates
                sims = _seq_dot_block(c_mat[idx], bq_mat[j : j + 1])[:, 0] / (
                    c_norm[idx] * bq_norm[j]
                )
                order = np.lexsort((c_ids[idx], -np.round(sims, 6)))[:local_k]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(order), bq_ids[j], dtype=np.int64),
                        "neighbor_id": c_ids[idx[order]],
                        "sim_raw": sims[order],
                    }
                )

    scored = _spread(embeddings.select(id_col, vec_col)).mapInPandas(
        score, "query_id long, neighbor_id long, sim_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def hyperplane_signatures(
    embeddings: DataFrame,
    n_planes: int,
    n_tables: int,
    dim: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-table hyperplane bucket ids as ROWS: (id, table_id, bucket).

    One Arrow pass over the corpus (numpy sign projections — the
    distributed twin of :func:`lsh_bucket_column` without the unrolled
    n_planes×dim Column expression, which falls out of codegen past
    ~64KB). Output is the shuffle-key frame candidate generation joins
    on — the corpus itself never broadcasts anywhere.

    Projections accumulate with :func:`_seq_dot_block` (strictly
    sequential per-dimension adds), never BLAS GEMM: a pairwise-summed
    dot can flip the SIGN of a near-zero projection in the last ulp,
    and the sign is the bucket bit — sequential order is what makes
    the bucket ids replayable term-for-term by the DuckDB oracle's
    literal-plane expressions (r11, same contract as lsh_topk).
    """
    planes = np.array(
        [_hyperplanes(n_planes, dim, seed + 1000 * t) for t in range(n_tables)]
    )
    powers = (1 << np.arange(n_planes)).astype(np.int64)

    def sign_buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids, mat = _matrix(pdf, id_col, vec_col)
            for t in range(planes.shape[0]):
                bucket = (
                    (_seq_dot_block(mat, planes[t]) >= 0).astype(np.int64)
                    * powers[None, :]
                ).sum(axis=1)
                yield pd.DataFrame(
                    {id_col: ids, "table_id": t, "bucket": bucket}
                )

    return embeddings.select(id_col, vec_col).mapInPandas(
        sign_buckets, f"{id_col} long, table_id int, bucket long"
    )


def cosine_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 3,
    n_tables: int = 16,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH candidates + exact
    cosine verification — the scale path for :func:`cosine_pairs`, in
    the same relationship dedup_cluster_lsh has to dedup_cluster.

    → (vec_id_a, vec_id_b, sim), a < b, sim rounded to 6dp and
    bit-identical to :func:`cosine_pairs` for every pair both emit
    (same per-dimension accumulation order), so agreement is measurable
    pair-for-pair. Candidates come from a bucket equi-JOIN over the
    (id, table, bucket) signature frame: shuffle volume is
    O(corpus × n_tables) + candidate pairs; nothing broadcasts, nothing
    collects — this is the structural difference from the all-pairs
    baseline.

    Parameter note (amplification tradeoff): recall per pair at cosine s
    is 1−(1−p^n_planes)^n_tables with p = 1−acos(s)/π. Low thresholds
    (τ≈0.4, near-random pairs) need few planes and many tables — 3/16
    reaches ≥98% agreement but admits most random pairs, i.e. LSH
    cannot prune a near-random-threshold workload. The operator's
    actual domain is near-dup corpora: the registered operating point
    (τ=0.95, 12 planes / 8 tables over planted near-dups) prunes random
    pairs to ~1% candidates at ≥99% pair recall. Both operating points'
    agreement with :func:`cosine_pairs` is measured in pytest
    (tests/test_dedup_recall.py). Pathological buckets are capped like
    MinHash-LSH's.
    """
    sigs = hyperplane_signatures(
        embeddings, n_planes, n_tables, dim, seed=seed, id_col=id_col, vec_col=vec_col
    )
    w = Window.partitionBy("table_id", "bucket")
    sigs = (
        sigs.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .where(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )
    l, r = sigs.alias("l"), sigs.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.table_id") == F.col("r.table_id"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("vec_id_a"),
            F.col(f"r.{id_col}").alias("vec_id_b"),
        )
        .distinct()
    )
    emb_a = embeddings.select(
        F.col(id_col).alias("vec_id_a"), F.col(vec_col).alias("__va")
    )
    emb_b = embeddings.select(
        F.col(id_col).alias("vec_id_b"), F.col(vec_col).alias("__vb")
    )
    pairs = cand.join(emb_a, "vec_id_a").join(emb_b, "vec_id_b")
    emit_floor = threshold - _EDGE

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.vstack(pdf["__va"].to_numpy()).astype(np.float64)
            b = np.vstack(pdf["__vb"].to_numpy()).astype(np.float64)
            # per-dimension accumulation: bit-identical to cosine_pairs
            acc = np.zeros(len(pdf))
            na = np.zeros(len(pdf))
            nb = np.zeros(len(pdf))
            for i in range(a.shape[1]):
                acc += a[:, i] * b[:, i]
                na += a[:, i] * a[:, i]
                nb += b[:, i] * b[:, i]
            sims = acc / (np.sqrt(na) * np.sqrt(nb))
            keep = sims >= emit_floor
            yield pd.DataFrame(
                {
                    "vec_id_a": pdf["vec_id_a"].to_numpy()[keep],
                    "vec_id_b": pdf["vec_id_b"].to_numpy()[keep],
                    "sim_raw": sims[keep],
                }
            )

    out = pairs.mapInPandas(verify, "vec_id_a long, vec_id_b long, sim_raw double")
    return out.select(
        "vec_id_a", "vec_id_b", F.round("sim_raw", 6).alias("sim")
    ).where(F.col("sim") >= threshold)


def semantic_dedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = None,
    max_cell_size: int = 100_000,
    compared_counter=None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: a k-means codebook
    partitions the corpus into ``n_cells`` semantic cells and exact
    cosine runs ONLY within a cell — the clustering counterpart of
    hyperplane LSH (:func:`cosine_pairs_lsh`), after Abbas et al. 2023
    ("SemDeDup"), which prunes web corpora by deduplicating inside
    k-means clusters of embeddings.

    → (vec_id_a, vec_id_b, sim), a < b, sim rounded to 6dp with the
    same per-dimension accumulation as :func:`cosine_pairs`, so
    agreement with the exact twin is measurable pair-for-pair
    (tests/test_dedup_recall.py).

    Scale shape: codebook training collects only a capped sample
    (:func:`_train_sample`); the (n_cells × dim) codebook broadcasts;
    cell assignment is one Arrow pass over the corpus; the quadratic
    step is per-cell, so its cost is Σ |cell|² — the operator contract
    is that ``n_cells`` grows with the corpus to hold expected cell
    size roughly constant (SemDeDup uses ~100k clusters at web scale).
    Degenerate cells above ``max_cell_size`` are dropped like LSH's
    pathological buckets rather than detonating an executor;
    ``compared_counter`` counts compared pairs so tests can assert the
    pruning (< n²/2 vs the all-pairs baseline).
    """
    spark = embeddings.sparkSession
    train_pdf = _train_sample(
        embeddings, id_col, vec_col, train_cap or max(256 * n_cells, 4096), seed
    )
    if not len(train_pdf):
        return spark.createDataFrame([], "vec_id_a long, vec_id_b long, sim double")
    _, train_mat = _matrix(train_pdf, id_col, vec_col)
    centroids = _kmeans_centroids(train_mat, n_cells, seed=seed)
    bc = spark.sparkContext.broadcast(centroids)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids, mat = _matrix(pdf, id_col, vec_col)
            d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cell": d.argmin(axis=1).astype(np.int32),
                    "vec": list(pdf[vec_col]),
                }
            )

    assigned = _spread(embeddings.select(id_col, vec_col)).mapInPandas(
        assign, "vec_id long, cell int, vec array<double>"
    )
    emit_floor = threshold - _EDGE

    def within_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2 or m > max_cell_size:
            return pd.DataFrame({"vec_id_a": [], "vec_id_b": [], "sim_raw": []}).astype(
                {"vec_id_a": np.int64, "vec_id_b": np.int64, "sim_raw": np.float64}
            )
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
        if compared_counter is not None:
            compared_counter.add(int(m * (m - 1) // 2))
        sims = _seq_dot_block(mat, mat) / (
            _seq_norms(mat)[:, None] * _seq_norms(mat)[None, :]
        )
        ii, jj = np.where(np.triu(sims >= emit_floor, k=1))
        a, b = ids[ii], ids[jj]
        swap = a > b
        a[swap], b[swap] = b[swap], a[swap]
        return pd.DataFrame({"vec_id_a": a, "vec_id_b": b, "sim_raw": sims[ii, jj]})

    pairs = assigned.groupBy("cell").applyInPandas(
        within_cell, "vec_id_a long, vec_id_b long, sim_raw double"
    )
    return pairs.select(
        "vec_id_a", "vec_id_b", F.round("sim_raw", 6).alias("sim")
    ).where(F.col("sim") >= threshold)


# ------------------------------------------------- int8 quantization

def _quant_params(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> tuple["np.ndarray", "np.ndarray"]:
    """Per-dimension uint8 codebook (mins, scales) from one posexplode
    pass, map-side combined to ``dim`` rows — bounded by the schema,
    not the corpus."""
    stats = (
        embeddings.select(F.posexplode(vec_col).alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    dim = len(stats)
    mins = np.zeros(dim)
    scales = np.ones(dim)
    for r in stats:
        mins[r.d] = r.lo
        rng = r.hi - r.lo
        scales[r.d] = (rng / 255.0) if rng > 0 else 1.0
    return mins, scales


def _pack_codes(mat: "np.ndarray", mins: "np.ndarray", scales: "np.ndarray") -> list:
    codes = np.clip(np.round((mat - mins[None, :]) / scales[None, :]), 0, 255).astype(
        np.uint8
    )
    return [c.tobytes() for c in codes]


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, "np.ndarray", "np.ndarray"]:
    """Scalar (per-dimension) uint8 quantization of an embedding
    corpus: each dimension maps linearly onto its observed [min, max]
    range in 256 steps and every vector packs into a ``binary`` column
    of exactly ``dim`` bytes — 8× smaller than the float64 working
    representation (4× vs float32 storage), which is the difference
    between an embedding store that fits executor memory / a broadcast
    and one that doesn't. This is the standard scalar-quantization
    recipe (FAISS SQ8).

    → (quantized DataFrame (id, qvec binary), mins, scales) — mins and
    scales are dim-length numpy arrays (the codebook; broadcast-sized
    BY CONSTRUCTION since dim is a schema constant).

    Scale shape: per-dim stats are one posexplode + groupBy(dim) pass,
    map-side combined to ``dim`` rows (collected: bounded by the
    schema, not the corpus); packing is one Arrow pass; the corpus
    never shuffles.
    """
    mins, scales = _quant_params(embeddings, vec_col)
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((mins, scales))

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bmins, bscales = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids, mat = _matrix(pdf, id_col, vec_col)
            codes = np.clip(
                np.round((mat - bmins[None, :]) / bscales[None, :]), 0, 255
            ).astype(np.uint8)
            yield pd.DataFrame(
                {"vec_id": ids, "qvec": [c.tobytes() for c in codes]}
            )

    q = _spread(embeddings.select(id_col, vec_col)).mapInPandas(
        pack, "vec_id long, qvec binary"
    )
    return q, mins, scales


def quantized_topk(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prequantized=None,
) -> DataFrame:
    """Approximate cosine top-k over the uint8-quantized corpus —
    float queries (few, broadcast) scored against dequantized corpus
    codes. Same output contract and local-top-k shuffle shape as
    :func:`brute_force_topk`; the approximation error is the per-dim
    quantization step (range/255), giving recall@k ≥ 0.9 vs the exact
    float path (tests/test_dedup_recall.py) at 1/8 the corpus bytes.

    ``prequantized`` (the (q, mins, scales) triple from
    :func:`quantize_embeddings`, e.g. read back from a persisted
    store) skips the quantization pass — the build-once/query-many
    shape; omitted, it is computed inline (one extra corpus pass).
    """
    spark = embeddings.sparkSession
    q_pdf = embeddings.where(query_filter).select(id_col, vec_col).toPandas()
    if not len(q_pdf):
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, sim double"
        )
    quant, mins, scales = prequantized or quantize_embeddings(
        embeddings, id_col, vec_col
    )
    q_ids, q_mat = _matrix(q_pdf, id_col, vec_col)
    q_norm = _seq_norms(q_mat)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norm, mins, scales))
    local_k = k + 8

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bq_ids, bq_mat, bq_norm, bmins, bscales = bc.value
        dim = len(bmins)
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = np.vstack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf["qvec"]]
            ).astype(np.float64)
            c_mat = codes * bscales[None, :dim] + bmins[None, :dim]
            sims = _seq_dot_block(c_mat, bq_mat) / np.outer(_seq_norms(c_mat), bq_norm)
            sims_r = np.round(sims, 6)
            for j in range(len(bq_ids)):
                col = sims_r[:, j]
                mask = c_ids != bq_ids[j]
                idx = np.flatnonzero(mask)
                order = idx[np.lexsort((c_ids[idx], -col[idx]))][:local_k]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(order), bq_ids[j], dtype=np.int64),
                        "neighbor_id": c_ids[order],
                        "sim_raw": sims[order, j],
                    }
                )

    scored = quant.mapInPandas(
        score, "query_id long, neighbor_id long, sim_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


# --------------------------------------------- persisted IVF index

def build_ivf_index(
    embeddings: DataFrame,
    index_path: str,
    n_lists: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = None,
    quantize: bool = False,
) -> None:
    """Build a PERSISTED inverted-file ANN index: the production shape
    (build once, query many) that :func:`ivf_topk` — which retrains its
    codebook per call — grows into. Two parquet datasets under
    ``index_path``:

    - ``centroids/``: the (n_lists × dim) codebook, n_lists rows.
    - ``cells/``: every corpus vector, PARTITIONED BY its cell — so a
      query probing p cells reads exactly p partition directories and
      the rest of the corpus is never opened (partition pruning is the
      disk-level analogue of the in-memory probe restriction, pinned in
      tests via the scan's PartitionFilters).

    Same capped-sample training and Arrow assignment pass as
    :func:`semantic_dedup_pairs`; identical seed/cap therefore
    reproduces :func:`ivf_topk`'s codebook bit-for-bit, which is what
    lets the equality test demand identical output, not just recall.

    ``quantize=True`` stores each cell's vectors as uint8 SQ8 codes
    (the FAISS IVF-SQ composition): cells hold dim-byte ``qvec``
    binaries instead of float arrays — 8× smaller on disk and over the
    wire — and a third dataset ``quant/`` (dim rows: d, lo, scale)
    holds the scalar codebook. Queries dequantize per Arrow batch;
    appends quantize under the STORED params so old and new codes stay
    comparable.
    """
    import os

    spark = embeddings.sparkSession
    train_pdf = _train_sample(
        embeddings, id_col, vec_col, train_cap or max(256 * n_lists, 4096), seed
    )
    _, train_mat = _matrix(train_pdf, id_col, vec_col)
    centroids = _kmeans_centroids(train_mat, n_lists, seed=seed)
    spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(index_path, "centroids"))

    mins = scales = None
    if quantize:
        mins, scales = _quant_params(embeddings, vec_col)
        spark.createDataFrame(
            [(int(i), float(mins[i]), float(scales[i])) for i in range(len(mins))],
            "d int, lo double, scale double",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(index_path, "quant"))

    bc = spark.sparkContext.broadcast((centroids, mins, scales))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents, bmins, bscales = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids, mat = _matrix(pdf, id_col, vec_col)
            d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            cells = d.argmin(axis=1).astype(np.int32)
            if bmins is not None:
                yield pd.DataFrame(
                    {
                        "vec_id": ids,
                        "cell": cells,
                        "qvec": _pack_codes(mat, bmins, bscales),
                    }
                )
            else:
                yield pd.DataFrame(
                    {"vec_id": ids, "cell": cells, "embedding": list(pdf[vec_col])}
                )

    out_schema = (
        "vec_id long, cell int, qvec binary"
        if quantize
        else "vec_id long, cell int, embedding array<double>"
    )
    (
        _spread(embeddings.select(id_col, vec_col))
        .mapInPandas(assign, out_schema)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(index_path, "cells"))
    )


def _read_quant_params(spark, index_path: str):
    """(mins, scales) from a persisted index's ``quant/`` dataset, or
    (None, None) when the index stores float cells."""
    import os

    from pyspark.errors import AnalysisException

    try:
        qp = sorted(
            spark.read.parquet(os.path.join(index_path, "quant")).collect(),
            key=lambda r: r.d,
        )
    except AnalysisException:
        return None, None
    return (
        np.array([r.lo for r in qp], dtype=np.float64),
        np.array([r.scale for r in qp], dtype=np.float64),
    )


def ivf_index_topk(
    spark,
    index_path: str,
    queries: pd.DataFrame,
    k: int = 10,
    n_probe: int = 4,
    scored_counter=None,
):
    """Approximate top-k from a persisted IVF index — no training, no
    full-corpus scan: the probed cells' partitions are the ONLY files
    opened (`.where(cell.isin(...))` reaches the scan as a
    PartitionFilter). ``queries`` is a driver-side (vec_id, embedding)
    frame — the queries-are-few contract of the ANN family.

    Output contract matches :func:`ivf_topk`; with the same
    (n_lists, seed, train_cap) the results are IDENTICAL, because the
    stored codebook is the same k-means run.
    """
    import os

    cent_rows = sorted(
        spark.read.parquet(os.path.join(index_path, "centroids")).collect(),
        key=lambda r: r.cell,
    )
    centroids = np.array([r.centroid for r in cent_rows], dtype=np.float64)
    q_ids, q_mat = _matrix(queries, "vec_id", "embedding")
    qc = ((q_mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    probes = np.argsort(qc, axis=1)[:, :n_probe]
    probed_cells = sorted({int(c) for row in probes for c in row})

    cells = spark.read.parquet(os.path.join(index_path, "cells")).where(
        F.col("cell").isin(probed_cells)
    )
    # quantized (IVF-SQ) stores hold uint8 codes; dequantize per batch
    mins, scales = (
        _read_quant_params(spark, index_path) if "qvec" in cells.columns else (None, None)
    )
    bc = spark.sparkContext.broadcast(
        (q_ids, q_mat, _seq_norms(q_mat), probes, mins, scales)
    )
    local_k = k + 8

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bq_ids, bq_mat, bq_norm, bq_probes, bmins, bscales = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            # partition-column values come back type-inferred: normalize
            c_cell = pdf["cell"].to_numpy(dtype=np.int64)
            if bmins is not None:
                codes = np.vstack(
                    [np.frombuffer(b, dtype=np.uint8) for b in pdf["qvec"]]
                ).astype(np.float64)
                c_mat = codes * bscales[None, :] + bmins[None, :]
            else:
                c_mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            c_norm = _seq_norms(c_mat)
            for j in range(len(bq_ids)):
                in_probe = np.isin(c_cell, bq_probes[j])
                idx = np.flatnonzero(in_probe & (c_ids != bq_ids[j]))
                if not len(idx):
                    continue
                if scored_counter is not None:
                    scored_counter.add(int(len(idx)))
                sims = _seq_dot_block(c_mat[idx], bq_mat[j : j + 1])[:, 0] / (
                    c_norm[idx] * bq_norm[j]
                )
                order = np.lexsort((c_ids[idx], -np.round(sims, 6)))[:local_k]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(order), bq_ids[j], dtype=np.int64),
                        "neighbor_id": c_ids[idx[order]],
                        "sim_raw": sims[order],
                    }
                )

    scored = cells.mapInPandas(
        score, "query_id long, neighbor_id long, sim_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def append_to_ivf_index(
    new_embeddings: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign NEW vectors under the
    STORED codebook and append them to their cell partitions — the
    ingest path of a production ANN store (vectors arrive forever; the
    codebook retrains rarely and offline). Append-mode partitioned
    parquet touches only the cells the batch lands in; existing files
    are never rewritten. Queries see the union immediately, because
    scoring is against cell membership, not file boundaries —
    append(B) onto index(A) answers exactly like an index of A∪B built
    with the same codebook (pinned in tests/test_dedup_recall.py).
    """
    import os

    spark = new_embeddings.sparkSession
    cent_rows = sorted(
        spark.read.parquet(os.path.join(index_path, "centroids")).collect(),
        key=lambda r: r.cell,
    )
    centroids = np.array([r.centroid for r in cent_rows], dtype=np.float64)
    # quantized store → new vectors must encode under the STORED scalar
    # codebook (NOT batch-local ranges) so old and new codes compare
    mins, scales = _read_quant_params(spark, index_path)
    bc = spark.sparkContext.broadcast((centroids, mins, scales))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents, bmins, bscales = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids, mat = _matrix(pdf, id_col, vec_col)
            d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            cells = d.argmin(axis=1).astype(np.int32)
            if bmins is not None:
                yield pd.DataFrame(
                    {
                        "vec_id": ids,
                        "cell": cells,
                        "qvec": _pack_codes(mat, bmins, bscales),
                    }
                )
            else:
                yield pd.DataFrame(
                    {"vec_id": ids, "cell": cells, "embedding": list(pdf[vec_col])}
                )

    out_schema = (
        "vec_id long, cell int, qvec binary"
        if mins is not None
        else "vec_id long, cell int, embedding array<double>"
    )
    (
        _spread(new_embeddings.select(id_col, vec_col))
        .mapInPandas(assign, out_schema)
        .write.mode("append")
        .partitionBy("cell")
        .parquet(os.path.join(index_path, "cells"))
    )


# --------------------------------------------- distributed Lloyd k-means


def quantized_vectors(embeddings: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding", quant: int = 1_000_000) -> DataFrame:
    """(id, q) with q = array<bigint> of floor(x·quant) — the integer
    coordinate convention shared with the embedding-outlier/confusion
    operators: integer geometry is order-independent, so every
    downstream sum is bit-reproducible. Cast float32 → double BEFORE
    scaling (single-precision multiply floors differently)."""
    return embeddings.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        F.transform(
            vec_col, lambda x: F.floor(x.cast("double") * quant).cast("bigint")
        ).alias("q"),
    )


def distributed_kmeans(
    embeddings: DataFrame,
    k: int = 8,
    sweeps: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> tuple[DataFrame, list[list[int]], list[int]]:
    """Full-corpus Lloyd's k-means — the scale-out twin of the
    capped-sample codebook trainer (``_kmeans_centroids``): that one
    trains on a driver-sized sample (fine for IVF coarse cells, wrong
    when a small-but-real cluster would be missed by sampling); this
    one assigns and re-estimates over EVERY vector, with the corpus
    never leaving the executors.

    Deterministic end-to-end, so the result is drivable by the
    correctness gate: integer-quantized coordinates (floor(x·10⁶) →
    BIGINT), exact integer squared distances, argmin tie → smallest
    centroid id, centroid update floor(Σ/n) in quantized units, and
    md5-seeded initialization (the k vectors with the smallest salted
    content hash — no RNG state). tests/test_kmeans.py replays the
    identical arithmetic in numpy and requires bit-equality.

    Scale shape per sweep: ONE Arrow assignment pass over the corpus
    (centroids ride the task closure: k·dim ints), then ONE shuffle
    keyed (cluster, dim) sized k·dim rows for the update, collected to
    the driver (bounded by contract: k is an operator parameter). The
    quantized frame is persisted once and reused by all sweeps — Lloyd
    re-reads the data, never grows a lineage chain. An emptied cluster
    keeps its previous centroid (deterministic; standard Lloyd).

    Returns (assignment frame ``vec_id, cluster, dist_sq``, final
    centroids as k×dim ints, init seed vec_ids).
    """
    from pyspark import StorageLevel

    # _spread: a single-file scan would run every Arrow assignment pass
    # on ONE task (the pHash lesson) — fan out to the default parallelism
    q = _spread(quantized_vectors(embeddings, id_col, vec_col, quant)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # ADAPTIVE sweep loop (operators/adaptive.py):
    # Lloyd's ITERATION STATE is only the k×dim centroid table, but
    # each distributed sweep costs one Arrow pass + one k·dim shuffle +
    # one collect — pure scheduler overhead when the quantized corpus
    # itself fits the driver. Under the bound, collect q ONCE and
    # run the identical integer sweeps in numpy (same floor(Σ/n) double
    # division, same first-minimum argmin — the literal arithmetic
    # tests/test_kmeans.py already replays); the FINAL assignment still
    # runs executor-side over the persisted frame, so the returned
    # frame is produced by the same Arrow pass either way and results
    # are bit-equal (pinned in test_kmeans.py). Above the bound — the
    # 100 TB path — nothing changes: seeds via TakeOrdered, sweeps as
    # Arrow passes with k·dim partial-sum shuffles.
    # Cells gate (r15, VERDICT r14 #7): the driver collect is n·dim
    # int64 CELLS and the numpy sweep temporaries are n·k·dim — a row
    # bound alone under-protects at high dim (250k rows of dim-64 is
    # ~1 GB of sweep temporaries). Fold max(size(q)) into the same
    # count job (no extra action) and gate on cells, charging every row
    # at least 8 cells — which also caps the rows at 250k.
    _stat = q.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size("q")).alias("d")
    ).first()
    n_rows = int(_stat["n"])
    dim = int(_stat["d"]) if _stat["d"] is not None else 0
    driver = on_driver(
        "distributed_kmeans", n_rows * max(dim, 8), _KMEANS_DRIVER_MAX_CELLS
    )
    if driver:
        import hashlib

        pdf = q.toPandas()
        ids_l = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
        hv_l = np.asarray(
            [
                int(hashlib.md5(f"km:{int(i)}".encode()).hexdigest()[:8], 16)
                for i in ids_l
            ],
            dtype=np.int64,
        )
        order = np.lexsort((ids_l, hv_l))[:k]
        seed_ids = [int(i) for i in ids_l[order]]
        centroids = [[int(x) for x in row] for row in mat[order]] if len(order) else []
        for _ in range(sweeps if centroids else 0):
            c_mat = np.asarray(centroids, dtype=np.int64)
            diff = mat[:, None, :] - c_mat[None, :, :]
            cl = (diff * diff).sum(axis=2).argmin(axis=1)
            new_c = [list(c) for c in centroids]
            for j in range(len(centroids)):
                members = mat[cl == j]
                if len(members):
                    new_c[j] = [
                        int(x)
                        for x in np.floor(
                            members.sum(axis=0) / len(members)
                        ).astype(np.int64)
                    ]
            centroids = new_c
    else:
        hv = F.expr(
            "CAST(conv(substring(md5(concat('km:', CAST(vec_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        )
        seed_rows = (
            q.select("vec_id", "q", hv.alias("__hv"))
            .orderBy("__hv", "vec_id")
            .limit(k)
            .collect()
        )  # TakeOrderedAndProject: per-partition k-heap, no global sort
        seed_ids = [r["vec_id"] for r in seed_rows]
        centroids = [list(r["q"]) for r in seed_rows]

    def assigner(cents: list[list[int]]):
        c_mat = np.asarray(cents, dtype=np.int64)

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
                diff = mat[:, None, :] - c_mat[None, :, :]
                d = (diff * diff).sum(axis=2)  # int64-exact
                cl = d.argmin(axis=1)  # first minimum = smallest centroid id
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "q": pdf["q"],
                        "cluster": cl.astype(np.int32),
                        "dist_sq": d[np.arange(len(cl)), cl],
                    }
                )

        return assign

    def updater(cents: list[list[int]]):
        """Assignment + PARTIAL centroid sums in one Arrow pass — the
        map-side combine done in numpy: each batch emits ≤ k·dim
        (cluster, dim, Σx, n) rows instead of rows·dim posexploded
        coordinates, so the per-sweep shuffle is a constant of the
        operator, not of the corpus (measured 3.2M → ~16k rows/sweep
        at sf0.1)."""
        c_mat = np.asarray(cents, dtype=np.int64)
        k, d = c_mat.shape

        def upd(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
                diff = mat[:, None, :] - c_mat[None, :, :]
                cl = (diff * diff).sum(axis=2).argmin(axis=1)
                sums = np.zeros((k, d), dtype=np.int64)
                np.add.at(sums, cl, mat)
                cnts = np.bincount(cl, minlength=k)
                idx = np.nonzero(cnts)[0]
                yield pd.DataFrame(
                    {
                        "cluster": np.repeat(idx, d).astype(np.int32),
                        "dim": np.tile(np.arange(d, dtype=np.int32), len(idx)),
                        "s": sums[idx].ravel(),
                        "n": np.repeat(cnts[idx], d).astype(np.int64),
                    }
                )

        return upd

    if not driver:
        for _ in range(sweeps):
            upd = (
                q.mapInPandas(updater(centroids), "cluster int, dim int, s long, n long")
                .groupBy("cluster", "dim")
                .agg(
                    F.floor(F.sum("s") / F.sum("n")).cast("bigint").alias("cu")
                )
                .collect()
            )
            new_c = [list(c) for c in centroids]  # emptied cluster keeps its centroid
            for r in upd:
                new_c[r["cluster"]][r["dim"]] = r["cu"]
            centroids = new_c

    schema = "vec_id long, q array<bigint>, cluster int, dist_sq long"

    # Materialize the final assignment, then RELEASE the corpus cache:
    # q is persisted per invocation, and leaving it pinned leaks one
    # cached copy of the embeddings table per call (repeated runs in a
    # long-lived session degrade under eviction pressure). The eager
    # local checkpoint is final-sized (q dropped), and its RDD is
    # GC-cleaned with the returned frame — no caller-managed release.
    final = (
        q.mapInPandas(assigner(centroids), schema)
        .drop("q")
        .localCheckpoint(eager=True)
    )
    q.unpersist()
    return final, centroids, seed_ids


def moment_partials(q: DataFrame) -> DataFrame:
    """Integer moment partials of a ``quantized_vectors`` frame as an
    (i, j, v) cell table: one (-1, -1, n) count row, d (i, -1, Σxᵢ)
    first-moment rows, and the d·(d+1)/2 upper triangle of Σxxᵀ —
    computed per Arrow batch in numpy and folded by an additive
    groupBy, so AT MOST 1 + d + d·(d+1)/2 tiny rows shuffle per batch
    (a constant of the operator, never of the corpus). The additive
    fold is commutative + associative, which is what lets the same
    cell table serve the one-shot PCA (:func:`embedding_pca`), a
    streaming delta store (``streaming/vectors.py::stream_moments``),
    and any union of the two: summing cells IS the merge."""

    def moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            n, d = mat.shape
            iu = np.triu_indices(d)
            out_i = np.concatenate(([-1], np.arange(d), iu[0]))
            out_j = np.concatenate(([-1], np.full(d, -1), iu[1]))
            out_v = np.concatenate(
                ([n], mat.sum(axis=0), (mat.T @ mat)[iu])
            ).astype(np.int64)
            yield pd.DataFrame({"i": out_i.astype(np.int32),
                                "j": out_j.astype(np.int32), "v": out_v})

    return (
        q.mapInPandas(moments, "i int, j int, v long")
        .groupBy("i", "j")
        .agg(F.sum("v").cast("long").alias("v"))
    )


def fold_moment_rows(rows, d: int) -> tuple[int, "np.ndarray", "np.ndarray"]:
    """Collected (i, j, v) cell rows → (n, Σx as (d,), symmetric Σxxᵀ
    as (d, d)) int64 arrays. Exact integer arithmetic end-to-end."""
    n_total = 0
    s = np.zeros(d, dtype=np.int64)
    ss = np.zeros((d, d), dtype=np.int64)
    for r in rows:
        if r["i"] == -1:
            n_total = int(r["v"])
        elif r["j"] == -1:
            s[r["i"]] = r["v"]
        else:
            ss[r["i"], r["j"]] = r["v"]
            ss[r["j"], r["i"]] = r["v"]
    return n_total, s, ss


def components_from_moments(
    n_total: int,
    s: "np.ndarray",
    ss: "np.ndarray",
    quant: int,
    n_components: int,
) -> tuple["np.ndarray", "np.ndarray", "np.ndarray"]:
    """Driver-side tail of PCA: covariance from exact integer moments,
    d×d ``eigh`` (d bounded by operator contract), descending
    eigenvalue order, and the deterministic sign convention (each
    component's largest-magnitude coordinate positive — eigh's sign is
    otherwise arbitrary). Because the integer moments are
    order-independent, two callers holding the same cells — however
    the cells were accumulated — get bit-identical components.
    Returns (mu in QUANTIZED units (d,), eigenvalues desc in original
    units, components (n_components, d))."""
    # covariance in ORIGINAL units: (Σxxᵀ/n − μμᵀ) / quant²
    mu_q = s.astype(np.float64) / n_total
    cov = (ss.astype(np.float64) / n_total - np.outer(mu_q, mu_q)) / (quant * quant)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:n_components]
    evals = evals[order]
    comp = evecs[:, order].T  # (n_components, d)
    flip = np.sign(comp[np.arange(len(comp)), np.abs(comp).argmax(axis=1)])
    comp = comp * flip[:, None]
    return mu_q, evals, comp


def embedding_pca(
    embeddings: DataFrame,
    n_components: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
    extra_cols: list[str] | None = None,
) -> tuple[DataFrame, "np.ndarray", "np.ndarray"]:
    """Distributed PCA over an embedding column — the whitening /
    dimensionality-reduction front end of embedding-quality pipelines
    (SemDeDup-style clustering, outlier detection, and IVF codebooks
    all behave better in decorrelated coordinates).

    Scale shape: ONE Arrow pass over the corpus computes per-batch
    moment partials in numpy (n, Σx as d rows, Σxxᵀ as the d·(d+1)/2
    upper triangle), which shuffle as AT MOST d + d² tiny integer rows
    per batch — the moment matrix is a constant of the operator, never
    of the corpus (the ``distributed_kmeans`` update-shuffle shape).
    The d×d eigendecomposition runs on the driver (d is an operator
    parameter, bounded); the projection is a second Arrow pass with the
    component matrix riding the task closure. Nothing corpus-sized
    ever reaches the driver.

    Determinism: coordinates are integer-quantized (floor(x·quant) →
    int64) exactly like ``distributed_kmeans``, so the moment sums are
    order-independent integer arithmetic and the covariance matrix is
    bit-identical on every run; ``numpy.linalg.eigh`` on that matrix is
    deterministic in-process, and each projected row is a fixed dot
    product of its own quantized vector with the broadcast components.
    Sign convention: each eigenvector is flipped so its
    largest-magnitude coordinate is positive (eigh's sign is otherwise
    arbitrary). tests/test_pca.py replays the identical arithmetic in
    numpy and requires bit-equality.

    int64 headroom: a batch partial is ≤ rows_per_batch · quant² per
    cell (~1.6e10 per row at unit-norm embeddings with quant=1e6), and
    the global sum holds to ~5e8 rows per cell before approaching 2^63;
    beyond that scale, lower ``quant`` (the extra quantization noise is
    ~1/quant, far below embedding noise) — the plan does not change.

    Returns (projection frame ``vec_id [, extra_cols], pc array<double>``,
    eigenvalues of the covariance in descending order (float, original
    units), components as an (n_components, d) ndarray).
    """
    extra = list(extra_cols or [])
    # quantized_vectors normalizes the id column name to ``vec_id``
    q = _spread(quantized_vectors(embeddings, id_col, vec_col, quant))
    if extra:
        q = q.join(
            embeddings.select(F.col(id_col).cast("bigint").alias("vec_id"), *extra),
            "vec_id",
        )
    q = q.persist()

    mom = moment_partials(q).collect()
    d = dim_of(embeddings, vec_col)
    n_total, s, ss = fold_moment_rows(mom, d)
    mu_q, evals, comp = components_from_moments(
        n_total, s, ss, quant, n_components
    )

    c_mat, mu = comp.copy(), mu_q.copy()

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            pc = ((mat - mu) / quant) @ c_mat.T
            cols = {"vec_id": pdf["vec_id"].to_numpy()}
            for c in extra:
                cols[c] = pdf[c]
            cols["pc"] = list(pc)
            yield pd.DataFrame(cols)

    extra_schema = "".join(
        f", {c} {embeddings.schema[c].dataType.simpleString()}" for c in extra
    )
    out = q.mapInPandas(
        project, f"vec_id long{extra_schema}, pc array<double>"
    ).localCheckpoint(eager=True)
    q.unpersist()
    return out, evals, comp
