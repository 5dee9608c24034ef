"""Incremental dedup against the persisted signature store (SURVEY §2d
#79): batch-split invariance, actual dup-dropping on planted copies,
the greedy-survivor rule, and the shuffle-free store-side bucket join.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_dag_spark.operators.dedup import (
    greedy_earliest_survivors,
    incremental_minhash_dedup,
    minhash_band_buckets,
)
from etl_dag_spark.sources.tables import load_table

from tests.conftest import SF_DIR


def _drop(spark, *tables):
    """Drop catalog entries AND warehouse files: since the bootstrap
    re-registers any store files it finds (the session-restart
    contract), a leftover store from a previous pytest run would
    otherwise leak into this one."""
    import os
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path or "spark-warehouse"
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t.lower()), ignore_errors=True)


@pytest.fixture()
def corpus(spark):
    """documents plus planted near-identical copies at higher ids: copy
    of doc d gets id d + OFF and its text with one appended token (same
    3-gram shingle set up to one shingle → Jaccard ≈ 1)."""
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    off = 10_000_000
    copies = (
        d.where(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + off).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        )
    )
    return d.unionByName(copies)


def test_batch_split_invariance(spark, corpus):
    """dedup(A ∪ B) == dedup(A) then dedup(B) for an id-ordered split —
    THE property that makes the operator incremental rather than a
    batch job rerun."""
    _drop(spark, "t_incr_full", "t_incr_ab")
    mid = corpus.agg(F.max("doc_id")).first()[0] // 2
    full = incremental_minhash_dedup(corpus, "t_incr_full").collect()
    a = incremental_minhash_dedup(
        corpus.where(F.col("doc_id") <= mid), "t_incr_ab"
    ).collect()
    b = incremental_minhash_dedup(
        corpus.where(F.col("doc_id") > mid), "t_incr_ab"
    ).collect()
    one_shot = {r.doc_id: r.keep for r in full}
    incremental = {r.doc_id: r.keep for r in a + b}
    assert one_shot == incremental


def test_planted_copies_are_dropped_and_originals_kept(spark, corpus):
    _drop(spark, "t_incr_planted")
    out = {
        r.doc_id: r for r in incremental_minhash_dedup(corpus, "t_incr_planted").collect()
    }
    n_copies = sum(1 for i in out if i >= 10_000_000)
    assert n_copies > 0
    dropped_copies = sum(1 for i, r in out.items() if i >= 10_000_000 and not r.keep)
    # LSH at Jaccard ≈ 1 fires essentially always; allow a stray miss
    assert dropped_copies >= 0.95 * n_copies
    # an original is only ever dropped for a genuine in-corpus near-dup,
    # never because of its own later copy (greedy keeps the earlier id)
    for i, r in out.items():
        if i < 10_000_000 and (i + 10_000_000) in out:
            assert r.keep or any(
                j for j, s in out.items() if j < i and s.keep
            ), f"original {i} dropped without an earlier survivor"


def test_second_batch_matches_store(spark, corpus):
    """Docs in batch B that duplicate batch-A survivors are flagged
    matched_store (the store join, not the in-batch graph, caught them)."""
    _drop(spark, "t_incr_store_flag")
    originals = corpus.where(F.col("doc_id") < 10_000_000)
    copies = corpus.where(F.col("doc_id") >= 10_000_000)
    incremental_minhash_dedup(originals, "t_incr_store_flag")
    out = incremental_minhash_dedup(copies, "t_incr_store_flag")
    flagged = out.where(F.col("matched_store") & ~F.col("keep")).count()
    assert flagged >= 0.95 * copies.count()


def test_store_survives_catalog_loss(spark, corpus, tmp_path):
    """The session catalog is in-memory: a NEW session sees tableExists
    False even though the persisted store files are intact. Bootstrap
    must re-register the existing store (same bucket spec over the same
    files), never rmtree it — otherwise "unbounded cross-batch history"
    only holds within one session. Simulated here by dropping the
    external table's catalog entry (files survive) between batches."""
    loc = str(tmp_path / "store")
    _drop(spark, "t_incr_reattach")
    originals = corpus.where(F.col("doc_id") < 10_000_000)
    copies = corpus.where(F.col("doc_id") >= 10_000_000)
    incremental_minhash_dedup(originals, "t_incr_reattach", path=loc)
    # external table: DROP removes only the catalog entry, as a session
    # restart would
    spark.sql("DROP TABLE t_incr_reattach")
    out = incremental_minhash_dedup(copies, "t_incr_reattach", path=loc)
    flagged = out.where(F.col("matched_store") & ~F.col("keep")).count()
    assert flagged >= 0.95 * copies.count(), (
        "store history was lost across the simulated session restart"
    )
    _drop(spark, "t_incr_reattach")


def test_greedy_survivors_chain(spark):
    """Chain 1-2-3-4: greedy in id order keeps 1, drops 2, keeps 3
    (its only smaller match 2 did NOT survive), drops 4 — the rule that
    distinguishes sequential dedup from connected components (which
    would keep only 1)."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "u long, v long")
    nodes = spark.range(1, 5).select(F.col("id").alias("node"))
    out = {r.node: r.keep for r in greedy_earliest_survivors(edges, nodes).collect()}
    assert out == {1: True, 2: False, 3: True, 4: False}


def test_store_side_bucket_join_is_exchange_free(spark, corpus):
    """The candidate join must read the bucketed store WITHOUT an
    Exchange on the store side: only the new batch shuffles to the
    bucket layout. An un-bucketed store would add a third Exchange."""
    _drop(spark, "t_incr_plan")
    incremental_minhash_dedup(corpus, "t_incr_plan")
    store = spark.table("t_incr_plan")
    probe = minhash_band_buckets(corpus)
    # at test SF the tiny store broadcasts (also Exchange-free, and the
    # right plan when it fits); force the sort-merge regime the store is
    # bucketed FOR — a 100 TB store never broadcasts
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            probe.join(store.withColumnRenamed("doc_id", "sid"), ["band", "bucket"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SelectedBucketsCount" in plan, f"store scan is not bucketed: {plan}"
    # probe side: one Exchange for the signature groupBy, one to
    # co-partition on (band, bucket); store side: none — an un-bucketed
    # store would add a third
    assert plan.count("Exchange") <= 2, plan


def test_adaptive_fast_path_equals_forced_distributed(spark, corpus, both_paths):
    """The driver fast path (no Bloom filter on a small store, collected
    store hits + driver greedy, no result checkpoint) and the forced
    distributed shape (Bloom filter on, store hits stay a frame,
    distributed greedy, eager checkpoint before append) must produce
    identical keep/matched_store decisions batch for batch. The first
    batch reaches only the edge gate (an empty store has no hits to
    probe); the second reaches all three; the forced side also reaches
    the distributed greedy's own gate."""
    _drop(spark, "t_fast", "t_dist")
    mid = corpus.agg(F.max("doc_id")).first()[0] // 2
    halves = [
        corpus.where(F.col("doc_id") <= mid),
        corpus.where(F.col("doc_id") > mid),
    ]
    stores = iter(["t_fast", "t_dist"])

    def run():
        store = next(stores)
        return {
            (r.doc_id, r.keep, r.matched_store)
            for h in halves
            for r in incremental_minhash_dedup(h, store).collect()
        }

    gates = {f"incremental_minhash_dedup.{g}" for g in ("bloom", "hits", "edges")}
    got_f, got_d = both_paths(run, gates, gates | {"greedy_earliest_survivors"})
    assert got_f == got_d and len(got_f) > 0
    _drop(spark, "t_fast", "t_dist")
