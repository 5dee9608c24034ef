"""Entity-resolution invariants (operators/entity.py): the deletion-
neighborhood blocking guarantee (every edit-distance-1 pair shares a
candidate key — deletion, substitution, AND insertion), the multi-field
match rule, transitive closure with min-id survivorship, and the
negative cases (distance-2 names, agreeing names with disagreeing exact
fields). The engine-parity of the full pipeline is oracle-checked by
test_parity[etl_entity_resolution]."""

from __future__ import annotations

from etl_dag_spark.operators.entity import resolve_entities


def _resolve(spark, rows, **kw):
    recs = spark.createDataFrame(rows, "record_id long, name string, cents long")
    out = resolve_entities(
        recs, exact_cols=("cents",), max_name_dist=1, **kw
    ).collect()
    return {r.record_id: r for r in out}


def test_every_edit_class_links_and_distance2_does_not(spark):
    """Recall is structural for distance ≤ 1: a deletion, a
    substitution, and an insertion variant all land in the base
    record's entity; a distance-2 name does not (blocking never
    produced the pair, and the rule would reject it anyway)."""
    rows = [
        (1, "Customer#0042", 100),
        (2, "Custmer#0042", 100),   # deletion of 'o'
        (3, "Customer#0043", 100),  # substitution (no! same cents, dist 1)
        (4, "Customerr#0042", 100), # insertion of 'r'
        # ≥2 deletions away from EVERY other record (incl. record 2 —
        # "Cstmer#0042" would be distance 1 from it): stays unlinked
        (10, "Cstmr#0042", 100),
    ]
    out = _resolve(spark, rows)
    assert out[2].entity_id == 1 and out[4].entity_id == 1
    assert out[3].entity_id == 1  # substitution links too (shared i-th deletion)
    assert out[10].entity_id == 10  # distance ≥ 2: unlinked singleton
    assert out[1].is_canonical and not out[2].is_canonical
    assert out[1].n_members == 4


def test_exact_field_disagreement_blocks_the_match(spark):
    """Names within distance 1 but different cents stay separate
    entities — the multi-field rule that keeps near-miss names of
    DIFFERENT real-world entities apart (the reason clean customers
    differing in one digit don't collapse into one entity)."""
    rows = [
        (1, "Customer#0042", 100),
        (2, "Customer#0043", 999),  # name dist 1, cents differ
    ]
    out = _resolve(spark, rows)
    assert out[1].entity_id == 1 and out[2].entity_id == 2
    assert out[1].n_members == 1 and out[2].n_members == 1


def test_transitive_closure_elects_min_id_survivor(spark):
    """A~B and B~C (but A,C at distance 2) still form ONE entity via
    transitivity, surviving as min(record_id)."""
    rows = [
        (5, "abcdef", 7),
        (3, "abcdef", 7),   # == 5's name? no: same string → dist 0
        (9, "abcde", 7),    # deletion of 'f' → links to both
    ]
    out = _resolve(spark, rows)
    assert {out[k].entity_id for k in (3, 5, 9)} == {3}
    assert out[3].is_canonical and out[3].n_members == 3


def _inc(spark, rows, store, path):
    from etl_dag_spark.operators.entity import incremental_resolve

    recs = spark.createDataFrame(rows, "record_id long, name string, cents long")
    return {
        r.record_id: r
        for r in incremental_resolve(recs, store, path=path).collect()
    }


def test_incremental_resolve_equals_one_shot_after_ledger_fold(spark, tmp_path):
    """The ER ingest twin: batch A creates two distance-2 entities; a
    batch-B bridge record sits within distance 1 of BOTH — one-shot ER
    merges them, incremental ER records the merge in the ledger and
    read_resolved_entities' fold reproduces the one-shot partition
    cluster-for-cluster (id-ordered batches)."""
    import uuid

    from etl_dag_spark.operators.entity import read_resolved_entities

    store = f"er_{uuid.uuid4().hex[:10]}"
    path = str(tmp_path / "er_store")
    A = [(1, "abcdef", 7), (5, "ab00ef", 7), (3, "zzzz", 1)]
    B = [(9, "abc0ef", 7), (11, "qqqq", 2), (13, "abcdef", 7)]

    r1 = _inc(spark, A, store, path)
    assert {k: v.entity_id for k, v in r1.items()} == {1: 1, 5: 5, 3: 3}
    assert not any(v.matched_store for v in r1.values())

    r2 = _inc(spark, B, store, path)
    # 9 bridges store entities 1 and 5 (and links 13 in-batch); 11 is new
    assert r2[9].entity_id == 1 and r2[13].entity_id == 1
    assert r2[9].matched_store and r2[13].matched_store
    assert r2[11].entity_id == 11 and not r2[11].matched_store

    folded = {
        r.record_id: r.entity_id
        for r in read_resolved_entities(spark, store).collect()
    }
    recs = spark.createDataFrame(
        A + B, "record_id long, name string, cents long"
    )
    one_shot = {
        r.record_id: r.entity_id
        for r in resolve_entities(recs, exact_cols=("cents",)).collect()
    }
    assert folded == one_shot  # incl. record 5 remapped 5 → 1 by the fold


def test_incremental_resolve_ledger_chain_folds_transitively(spark, tmp_path):
    """Merge-of-a-merged-entity: batch 3's bridge matches a STALE store
    entity id (5, already merged into 1) plus a third entity (9); the
    ledger then holds the chain (5→1, 9→5) and the read-time components
    fold canonicalizes all of {1, 5, 9, …} to 1 — equal to one-shot."""
    import uuid

    from etl_dag_spark.operators.entity import read_resolved_entities

    store = f"er_{uuid.uuid4().hex[:10]}"
    path = str(tmp_path / "er_chain")
    _inc(spark, [(1, "aaaa1", 1), (5, "aa001", 1), (9, "00001", 1)], store, path)
    r2 = _inc(spark, [(13, "aaa01", 1)], store, path)  # bridges 1 and 5
    assert r2[13].entity_id == 1
    r3 = _inc(spark, [(21, "a0001", 1)], store, path)  # bridges (stale) 5 and 9
    assert r3[21].entity_id == 5  # arrival-order: least stale match
    folded = {
        r.record_id: r.entity_id
        for r in read_resolved_entities(spark, store).collect()
    }
    assert folded == {1: 1, 5: 1, 9: 1, 13: 1, 21: 1}
    recs = spark.createDataFrame(
        [(1, "aaaa1", 1), (5, "aa001", 1), (9, "00001", 1),
         (13, "aaa01", 1), (21, "a0001", 1)],
        "record_id long, name string, cents long",
    )
    one_shot = {
        r.record_id: r.entity_id
        for r in resolve_entities(recs, exact_cols=("cents",)).collect()
    }
    assert folded == one_shot


def test_hot_block_cap_drops_boilerplate_keys(spark):
    """A name repeated beyond max_block floods its candidate keys; the
    df cap suppresses those keys entirely (the stop-phrase discipline),
    so the flooded records stay singletons instead of generating a
    quadratic candidate set."""
    rows = [(i, "same name", 1) for i in range(40)] + [
        (100, "unique one", 2),
        (101, "unique on", 2),  # deletion variant of 100
    ]
    out = _resolve(spark, rows, max_block=10)
    assert all(out[i].entity_id == i for i in range(40))  # capped → unlinked
    assert out[101].entity_id == 100  # small blocks still link


def test_mega_bucket_yields_no_pair_and_ordinary_pairs_link(spark):
    """One deletion key shared by thousands of records: "mega" plus one
    distinct character each, so every two of them are at distance 1 yet
    meet only in the "mega" bucket. That bucket is over the cap, so it
    yields no pair and each record stays a singleton, while an ordinary
    near-duplicate pair still links."""
    n = 3000
    rows = [(i, "mega" + chr(0x4E00 + i), 1) for i in range(n)] + [
        (10_000, "unique one", 2),
        (10_001, "unique on", 2),
    ]
    out = _resolve(spark, rows)
    assert all(
        (out[i].entity_id, out[i].n_members) == (i, 1) for i in range(n)
    )
    assert out[10_001].entity_id == 10_000 and out[10_000].n_members == 2


def test_incremental_resolve_persists_capped_records(spark, tmp_path):
    """Records whose every candidate key is df-capped (boilerplate
    names) must still reach the store: matching degrades (no links this
    batch), but the canonical read view contains EVERY ingested record
    as its own entity — persistence is never silently lossy."""
    import uuid

    from etl_dag_spark.operators.entity import read_resolved_entities

    store = f"er_{uuid.uuid4().hex[:10]}"
    rows = [(i, "same name", 1) for i in range(40)] + [(100, "unique one", 2)]
    recs = spark.createDataFrame(rows, "record_id long, name string, cents long")
    from etl_dag_spark.operators.entity import incremental_resolve

    out = {
        r.record_id: r
        for r in incremental_resolve(
            recs, store, max_block=10, path=str(tmp_path / "er_cap")
        ).collect()
    }
    assert sorted(out) == sorted(i for i, _, _ in rows)
    folded = {
        r.record_id: r.entity_id
        for r in read_resolved_entities(spark, store).collect()
    }
    assert sorted(folded) == sorted(i for i, _, _ in rows)  # nobody vanished
    assert all(folded[i] == i for i in range(40))  # capped → unlinked singletons


def test_blocking_quality_metrics_hand_computed(spark):
    """Christen's blocking measures on a crafted scheme: 5 records,
    truth = {(1,2),(3,4)}; a blocking that admits (1,2),(1,3),(3,4),
    (4,5) → RR = 1 - 4/10, PC = 2/2, PQ = 2/4."""
    from etl_dag_spark.operators.entity import blocking_quality

    cand = spark.createDataFrame(
        # includes a reversed and a duplicate pair: canonicalization
        # must fold them
        [(1, 2), (3, 1), (3, 4), (5, 4), (2, 1)],
        "doc_id_a long, doc_id_b long",
    )
    truth = spark.createDataFrame([(2, 1), (3, 4)], "doc_id_a long, doc_id_b long")
    row = blocking_quality(cand, truth, n_records=5).collect()[0]
    assert row.n_possible_pairs == 10
    assert row.n_candidates == 4 and row.n_truth == 2 and row.n_matched == 2
    assert row.reduction_ratio == 1.0 - 4 / 10.0
    assert row.pairs_completeness == 1.0
    assert row.pairs_quality == 0.5


def test_blocking_quality_on_deletion_neighborhood_scheme(spark):
    """The repo's own ER candidate generator evaluated by the metric:
    1-edit name variants are structurally complete (PC = 1.0) while the
    blocking prunes most of the pair space."""
    from etl_dag_spark.operators.entity import (
        blocking_quality,
        deletion_neighborhood_keys,
    )

    from pyspark.sql import functions as F

    rows = [(i, f"customer_{i:03d}") for i in range(100)]
    rows += [(100 + i, f"customer_{i:03d}x") for i in range(10)]  # 1 edit
    recs = spark.createDataFrame(rows, "record_id long, name string")
    keys = deletion_neighborhood_keys(recs, name_col="name")
    a = keys.select(F.col("__k"), F.col("record_id").alias("doc_id_a"))
    b = keys.select(F.col("__k"), F.col("record_id").alias("doc_id_b"))
    cand = (
        a.join(b, "__k")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )
    truth = spark.createDataFrame(
        [(i, 100 + i) for i in range(10)], "doc_id_a long, doc_id_b long"
    )
    row = blocking_quality(cand, truth, n_records=110).collect()[0]
    assert row.pairs_completeness == 1.0  # structural recall for ≤1 edit
    # near-identical "customer_0NN" names collide heavily on 1-deletion
    # keys, yet the blocking still prunes most of the quadratic space
    assert row.reduction_ratio > 0.5
    assert row.n_candidates < row.n_possible_pairs
