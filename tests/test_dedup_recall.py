"""Recall/behavior tests for the approximate dedup and ANN operators
against exact ground truth computed in-test (SURVEY §5.3).

The synthetic corpus plants known near-duplicates (one appended token →
3-gram Jaccard ≈ n/(n+1) ≥ 0.9) among seeded-random filler docs, so the
exact pair set is known and the LSH variants' recall is measurable.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from pyspark.sql import functions as F

from etl_dag_spark.operators import dedup as dd
from etl_dag_spark.operators import similarity as sim

VOCAB = [f"w{i:03d}" for i in range(400)]


def _corpus():
    rng = random.Random(7)
    docs, planted = [], []
    doc_id = 0
    # 200-token docs: long enough that SimHash bit-sums have real margin
    # (a one-token change flips ~1-2 of 64 bits) while one appended token
    # keeps 3-gram Jaccard ≈ 198/201 ≈ 0.985 — a planted near-dup for
    # every operator under test.
    for _ in range(30):  # 30 planted near-dup pairs
        base = " ".join(rng.choice(VOCAB) for _ in range(200))
        docs.append((doc_id, base))
        docs.append((doc_id + 1, base + " " + rng.choice(VOCAB)))
        planted.append((doc_id, doc_id + 1))
        doc_id += 2
    for _ in range(40):  # unrelated filler
        docs.append((doc_id, " ".join(rng.choice(VOCAB) for _ in range(200))))
        doc_id += 1
    return docs, planted


@pytest.fixture(scope="module")
def corpus(spark):
    docs, planted = _corpus()
    return spark.createDataFrame(docs, "doc_id long, text string"), planted


def test_exact_jaccard_finds_planted_pairs(spark, corpus):
    documents, planted = corpus
    got = {
        (r.doc_id_a, r.doc_id_b)
        for r in dd.ngram_jaccard_pairs(documents, n=3, threshold=0.8).collect()
    }
    assert set(planted) <= got


def test_prefix_jaccard_equals_uncapped_exact(spark, corpus):
    """Prefix filtering (AllPairs/PPJoin) is LOSSLESS: the result must
    equal the uncapped quadratic inverted-index join pair-for-pair and
    value-for-value — while indexing strictly fewer shingle rows."""
    documents, planted = corpus
    exact = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 12))
        for r in dd.ngram_jaccard_pairs(documents, n=3, threshold=0.8).collect()
    }
    pref = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 12))
        for r in dd.prefix_jaccard_pairs(documents, n=3, threshold=(4, 5)).collect()
    }
    assert pref == exact
    assert {(a, b) for a, b, _ in pref} >= set(planted)


def test_prefix_index_is_a_strict_subsample(spark, corpus):
    """The indexed prefix keeps m−⌈0.8m⌉+1 of each doc's m shingles —
    ~20% — so candidate volume shrinks quadratically vs the full
    inverted index. Pin the pruning (the reason the operator exists)."""
    from etl_dag_spark.functions.text import shingle_rows

    documents, _ = corpus
    full = shingle_rows(documents, n=3).count()
    # re-derive the prefix size exactly as the operator does
    sh = shingle_rows(documents, n=3)
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    from pyspark.sql import Window

    w_rank = Window.partitionBy("doc_id").orderBy(F.col("__df"), F.col("s"))
    w_all = Window.partitionBy("doc_id")
    ranked = sh.join(dfreq, "s").select(
        "doc_id",
        F.row_number().over(w_rank).alias("__r"),
        F.count(F.lit(1)).over(w_all).alias("__m"),
    )
    prefix_rows = ranked.where(
        F.col("__r") <= F.col("__m") - F.expr("(4 * __m + 4) DIV 5") + 1
    ).count()
    # 200-token docs: prefix ≈ 0.2·m + 1 ⇒ well under 30% of the index
    assert prefix_rows < 0.3 * full


import pytest


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_minhash_lsh_recall_vs_exact(spark, corpus, hash_fn):
    # both hash modes must clear the same recall bar: xxhash64 is the
    # library default, md5 the oracle-registered engine-portable mode
    documents, _ = corpus
    exact = {
        (r.doc_id_a, r.doc_id_b)
        for r in dd.ngram_jaccard_pairs(documents, n=3, threshold=0.8).collect()
    }
    approx = {
        (r.doc_id_a, r.doc_id_b)
        for r in dd.minhash_lsh_pairs(
            documents, n=3, threshold=0.8, hash_fn=hash_fn
        ).collect()
    }
    # verification step makes precision exact; banding controls recall
    assert approx <= exact
    assert len(approx & exact) / len(exact) >= 0.9
    # every verified pair really is >= the threshold
    for r in dd.minhash_lsh_pairs(
        documents, n=3, threshold=0.8, hash_fn=hash_fn
    ).collect():
        assert r.jaccard >= 0.8


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_simhash_finds_planted_pairs_and_no_random_ones(spark, corpus, hash_fn):
    documents, planted = corpus
    got = {
        (r.doc_id_a, r.doc_id_b)
        for r in dd.simhash_pairs(
            documents, max_hamming=3, hash_fn=hash_fn
        ).collect()
    }
    found = sum(1 for p in planted if p in got)
    assert found / len(planted) >= 0.8  # one appended token ⇒ tiny hamming
    # unrelated random docs should essentially never collide at hamming<=3
    planted_set = set(planted)
    false_pairs = [p for p in got if p not in planted_set]
    assert len(false_pairs) <= 2


def test_exact_dedup_counts(spark):
    documents = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "bb"), (4, "aa")], "doc_id long, text string"
    )
    rows = {r.doc_id: r.n_copies for r in dd.exact_dedup(documents).collect()}
    assert rows == {1: 3, 3: 1}


@pytest.fixture(scope="module")
def clustered_embeddings(spark):
    """20 tight clusters × 25 points: true neighbors are same-cluster,
    so hyperplane-LSH recall is meaningfully measurable."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(20, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vec_id = 0
    for c in centers:
        for _ in range(25):
            v = c + rng.normal(scale=0.02, size=64)
            rows.append((vec_id, [float(x) for x in v]))
            vec_id += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ann_lsh_recall_vs_bruteforce(spark, clustered_embeddings):
    emb = clustered_embeddings
    qf = F.col("vec_id") % 25 == 0  # one query per cluster
    truth = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, qf, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.lsh_topk(emb, qf, k=10, n_planes=8, dim=64, n_tables=4).collect()
    }
    assert len(truth) == 20 * 10
    assert len(approx & truth) / len(truth) >= 0.9
    # single-table recall is structurally worse — the n_tables knob is
    # what buys recall at scale
    single = {
        (r.query_id, r.neighbor_id)
        for r in sim.lsh_topk(emb, qf, k=10, n_planes=8, dim=64, n_tables=1).collect()
    }
    assert len(single & truth) <= len(approx & truth)


def test_bruteforce_topk_is_exact_topk(spark, clustered_embeddings):
    """Independent ground truth: numpy cosine on the collected matrix."""
    emb = clustered_embeddings
    pdf = emb.toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat_n @ mat_n.T
    got = sim.brute_force_topk(emb, F.col("vec_id") == 0, k=5).collect()
    got_ids = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)]
    q = int(np.flatnonzero(ids == 0)[0])
    order = np.lexsort((ids, -np.round(sims[q], 6)))
    expect = [int(ids[i]) for i in order if ids[i] != 0][:5]
    assert got_ids == expect


def test_approx_cardinality_within_tolerance(spark):
    """HLL sketch (rsd=0.02) must track the exact distinct count within
    a loose 10% band on the real documents table."""
    from etl_dag_spark.queries import SPARK_QUERIES

    rows = SPARK_QUERIES["dedup_approx_cardinality"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert abs(r.approx_distinct_texts - r.exact_distinct_texts) <= max(
            2, 0.1 * r.exact_distinct_texts
        )


def test_ann_ivf_recall_vs_bruteforce(spark, clustered_embeddings):
    emb = clustered_embeddings
    qf = F.col("vec_id") % 25 == 0
    truth = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, qf, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(emb, qf, k=10, n_lists=16, n_probe=4).collect()
    }
    assert len(approx & truth) / len(truth) >= 0.9


def test_cluster_pairs_components(spark):
    """Known topology: chain 1-2-3 (one component), pair 10-11, and
    isolated 20 → min-label clusters with canonical = min id."""
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_id_a long, doc_id_b long"
    )
    got = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dd.cluster_pairs(pairs, docs).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        10: (10, True), 11: (10, False),
        20: (20, True),
    }


def test_cluster_pairs_adaptive_paths_equal(spark, both_paths):
    """The adaptive driver-solve (union-find over collected edges) and
    the forced distributed min-label fixpoint produce IDENTICAL clusters — including a
    long chain (propagation depth > 1 round) and ids arriving in
    arbitrary edge order."""
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 16)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        # chain 7-6-5-4-3-2-1 written high-to-low (worst case for one
        # propagation round), a triangle 9-10-11, a pair (14, 8), iso 12
        [(6, 7), (5, 6), (4, 5), (3, 4), (2, 3), (1, 2),
         (9, 10), (10, 11), (9, 11), (8, 14)],
        "doc_id_a long, doc_id_b long",
    )
    fast, dist = both_paths(
        lambda: {
            (r.doc_id, r.cluster_id, r.is_canonical)
            for r in dd.cluster_pairs(pairs, docs).collect()
        },
        {"cluster_pairs"},
    )
    assert fast == dist
    assert (1, 1, True) in fast and (7, 1, False) in fast


def test_operators_degrade_on_empty_inputs(spark):
    """Empty corpora / empty query sets → empty results, not crashes."""
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    some_emb = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [0.5] * 8)], "vec_id long, embedding array<float>"
    )
    assert dd.exact_dedup(empty_docs).count() == 0
    assert dd.ngram_jaccard_pairs(empty_docs).count() == 0
    assert dd.minhash_lsh_pairs(empty_docs).count() == 0
    assert dd.simhash_pairs(empty_docs).count() == 0
    assert dd.cluster_pairs(
        spark.createDataFrame([], "doc_id_a long, doc_id_b long"), empty_docs
    ).count() == 0
    assert sim.cosine_pairs(empty_emb, dim=8).count() == 0
    # no rows match the query filter → empty top-k, not a crash
    assert sim.brute_force_topk(some_emb, F.col("vec_id") > 99, dim=8).count() == 0
    assert sim.lsh_topk(some_emb, F.col("vec_id") > 99, n_planes=4, dim=8).count() == 0
    assert sim.ivf_topk(some_emb, F.col("vec_id") > 99, n_lists=2).count() == 0
    assert sim.ivf_topk(empty_emb, F.col("vec_id") > 99, n_lists=2).count() == 0


def test_cosine_pairs_lsh_agreement_low_threshold(spark):
    """Docstring claim: at the near-random τ=0.4 regime, 3 planes / 16
    tables reach ≥98% pair agreement with exact all-pairs cosine (on
    the real test embeddings, whose pairwise sims top out ~0.5)."""
    from etl_dag_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r.vec_id_a, r.vec_id_b): r.sim
        for r in sim.cosine_pairs(emb, threshold=0.4).collect()
    }
    lsh = {
        (r.vec_id_a, r.vec_id_b): r.sim
        for r in sim.cosine_pairs_lsh(
            emb, threshold=0.4, n_planes=3, n_tables=16, dim=64
        ).collect()
    }
    # exact verification step ⇒ no false positives, bit-identical sims
    assert set(lsh) <= set(exact)
    for p, s in lsh.items():
        assert s == exact[p]
    assert len(lsh) / len(exact) >= 0.98


def test_cosine_pairs_lsh_agreement_near_dup_regime(spark):
    """The registered operating point: τ=0.95 over the planted near-dup
    corpus, 12 planes / 8 tables — ≥98% pair agreement with the exact
    twin, no false positives, bit-identical sims."""
    from etl_dag_spark.sources.tables import load_table

    emb = sim.replicate_near_dups(
        load_table(spark, "/root/testdata/sf0.001", "embeddings"),
        copies=4,  # 2000 vectors: enough planted structure, test-speed sized
        noise=0.1,
    )
    exact = {
        (r.vec_id_a, r.vec_id_b): r.sim
        for r in sim.cosine_pairs(emb, threshold=0.95).collect()
    }
    lsh = {
        (r.vec_id_a, r.vec_id_b): r.sim
        for r in sim.cosine_pairs_lsh(
            emb, threshold=0.95, n_planes=12, n_tables=8, dim=64
        ).collect()
    }
    assert len(exact) >= 500 * 6  # every base spawns C(4,2) planted pairs
    assert set(lsh) <= set(exact)
    for p, s in lsh.items():
        assert s == exact[p]
    assert len(lsh) / len(exact) >= 0.98


def test_replicate_near_dups_plants_near_dup_structure(spark):
    """The planted corpus really is a near-dup regime: same-base
    replicas at cosine ≥ 0.99, and the fan-out/id scheme is exact."""
    from etl_dag_spark.sources.tables import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    emb = sim.replicate_near_dups(base, copies=3, noise=0.1)
    n_base = base.count()
    assert emb.count() == 3 * n_base
    pdf = emb.toPandas()
    by_id = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64) for _, r in pdf.iterrows()}
    for v in list(by_id)[:20]:
        if v >= 1_000_000:
            continue
        for r in (1, 2):
            w = by_id[r * 1_000_000 + v]
            x = by_id[v]
            cos = x @ w / (np.linalg.norm(x) * np.linalg.norm(w))
            assert cos >= 0.99


def test_lsh_and_ivf_topk_prune_scored_pairs(spark, clustered_embeddings):
    """The bucketing/probing must prune COMPUTE, not just emission:
    scored (row, query) pairs — counted by the scored_counter
    accumulator inside the Arrow pass — stay far below the brute-force
    corpus × queries total while recall stays ≥0.9 (asserted in the
    recall tests above on identical parameters)."""
    emb = clustered_embeddings
    qf = F.col("vec_id") % 25 == 0
    n_corpus, n_queries = 500, 20
    brute_pairs = n_queries * (n_corpus - 1)

    acc_lsh = spark.sparkContext.accumulator(0)
    sim.lsh_topk(
        emb, qf, k=10, n_planes=8, dim=64, n_tables=4, scored_counter=acc_lsh
    ).count()
    assert 0 < acc_lsh.value <= 0.3 * brute_pairs, (
        f"LSH scored {acc_lsh.value} of {brute_pairs} brute-force pairs"
    )

    acc_ivf = spark.sparkContext.accumulator(0)
    sim.ivf_topk(
        emb, qf, k=10, n_lists=16, n_probe=4, scored_counter=acc_ivf
    ).count()
    assert 0 < acc_ivf.value <= 0.6 * brute_pairs, (
        f"IVF scored {acc_ivf.value} of {brute_pairs} brute-force pairs"
    )


def test_lsh_clustering_agrees_with_exact(spark, corpus):
    """Scale-path clustering (LSH candidates) must reproduce the exact
    inverted-index clustering on the planted corpus (banding recall is
    ~1 at jaccard ≥ 0.9, so components come out identical here)."""
    documents, _ = corpus
    exact = dd.cluster_pairs(
        dd.ngram_jaccard_pairs(documents, n=3, threshold=0.8), documents
    )
    approx = dd.cluster_pairs(
        dd.minhash_lsh_pairs(documents, n=3, threshold=0.8), documents
    )
    exact_map = {r.doc_id: r.cluster_id for r in exact.collect()}
    approx_map = {r.doc_id: r.cluster_id for r in approx.collect()}
    agree = sum(1 for d in exact_map if approx_map[d] == exact_map[d])
    assert agree / len(exact_map) >= 0.98


def test_semantic_dedup_agreement_and_pruning(spark):
    """SemDeDup cells: every emitted pair is in the exact all-pairs set
    with a bit-identical sim (within-cell scoring IS exact cosine),
    planted-pair recall ≥90% (a near-dup pair almost always shares its
    nearest centroid), and the compared-pairs accumulator proves the
    quadratic work was pruned below all-pairs."""
    from etl_dag_spark.sources.tables import load_table

    emb = sim.replicate_near_dups(
        load_table(spark, "/root/testdata/sf0.001", "embeddings"),
        copies=4,
        noise=0.1,
    ).persist()
    n = emb.count()
    exact = {
        (r.vec_id_a, r.vec_id_b): r.sim
        for r in sim.cosine_pairs(emb, threshold=0.95).collect()
    }
    counter = spark.sparkContext.accumulator(0)
    sem = {
        (r.vec_id_a, r.vec_id_b): r.sim
        for r in sim.semantic_dedup_pairs(
            emb, threshold=0.95, n_cells=16, compared_counter=counter
        ).collect()
    }
    emb.unpersist()
    assert set(sem) <= set(exact)
    for p, s in sem.items():
        assert s == exact[p]
    assert len(sem) / len(exact) >= 0.90
    assert counter.value < n * (n - 1) // 2, "no pruning vs all-pairs"


def test_semantic_dedup_empty_input(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert sim.semantic_dedup_pairs(empty, threshold=0.95).count() == 0


def test_quantized_topk_recall_vs_exact(spark):
    """uint8 scalar quantization: recall@10 vs the exact float top-k
    ≥0.9 averaged over queries, and every emitted sim within the
    worst-case dequantization error of the true sim."""
    from etl_dag_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").persist()
    flt = F.col("vec_id") % 10 == 0
    exact = sim.brute_force_topk(emb, flt, k=10).collect()
    quant = sim.quantized_topk(emb, flt, k=10).collect()
    emb.unpersist()
    ex = {}
    for r in exact:
        ex.setdefault(r.query_id, set()).add(r.neighbor_id)
    qt = {}
    sims = {}
    for r in quant:
        qt.setdefault(r.query_id, set()).add(r.neighbor_id)
        sims[(r.query_id, r.neighbor_id)] = r.sim
    assert set(qt) == set(ex)
    recalls = [len(ex[q] & qt[q]) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.9, sum(recalls) / len(recalls)
    # spot-check the sim distortion on the pairs both paths ranked
    ex_sims = {(r.query_id, r.neighbor_id): r.sim for r in exact}
    common = set(sims) & set(ex_sims)
    assert common
    assert all(abs(sims[p] - ex_sims[p]) < 0.02 for p in common)


def test_quantize_embeddings_roundtrip_error_bound(spark):
    """Every dequantized coordinate is within half a quantization step
    (range/255/2 + float slack) of the original."""
    import numpy as np

    from etl_dag_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    quant, mins, scales = sim.quantize_embeddings(emb)
    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    for r in quant.collect():
        codes = np.frombuffer(r.qvec, dtype=np.uint8).astype(np.float64)
        deq = codes * scales + mins
        err = np.abs(deq - orig[r.vec_id])
        assert (err <= scales / 2 + 1e-9).all()


def test_ivf_index_build_once_query_many(spark, tmp_path):
    """Persisted IVF index: (a) with the same (n_lists, seed) the
    stored-index query returns EXACTLY ivf_topk's output (same k-means
    codebook, same probes, same candidates); (b) the cells read carry a
    PartitionFilter on `cell` — the probed partitions are the only
    files opened; (c) a second query against the store needs no
    retraining and scores fewer rows than the corpus (pruning
    accumulator)."""
    from etl_dag_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").persist()
    n = emb.count()
    idx = str(tmp_path / "ivf_index")
    sim.build_ivf_index(emb, idx, n_lists=16, seed=42)

    flt = F.col("vec_id") % 10 == 0
    want = {
        (r.query_id, r.neighbor_id): (r.rank, r.sim)
        for r in sim.ivf_topk(emb, flt, k=10, n_lists=16, n_probe=4, seed=42).collect()
    }
    q_pdf = emb.where(flt).select("vec_id", "embedding").toPandas()
    emb.unpersist()
    counter = spark.sparkContext.accumulator(0)
    got_df = sim.ivf_index_topk(
        spark, idx, q_pdf, k=10, n_probe=4, scored_counter=counter
    )
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan or "cell#" in plan.split("PartitionFilters")[1][:80]
    got = {
        (r.query_id, r.neighbor_id): (r.rank, r.sim) for r in got_df.collect()
    }
    assert got == want
    n_queries = len(q_pdf)
    assert counter.value < n * n_queries  # probe restriction pruned scoring
    # query-many: second call, no rebuild, same answer
    got2 = {
        (r.query_id, r.neighbor_id): (r.rank, r.sim)
        for r in sim.ivf_index_topk(spark, idx, q_pdf, k=10, n_probe=4).collect()
    }
    assert got2 == want


def test_ivf_index_incremental_append_equals_union_build(spark, tmp_path):
    """append(B) onto index(A) answers queries exactly like an index
    whose cells hold A∪B under the SAME codebook: build on half the
    corpus, append the other half, and compare against an index built
    by assigning the full corpus with the stored centroids (codebook
    identity guaranteed by copying the centroids dataset)."""
    import shutil

    from etl_dag_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").persist()
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)

    idx_inc = str(tmp_path / "idx_inc")
    sim.build_ivf_index(half_a, idx_inc, n_lists=16, seed=42)
    sim.append_to_ivf_index(half_b, idx_inc)

    # reference: same codebook, cells assigned from the full corpus in
    # one shot — copy centroids, then append everything to empty cells
    idx_ref = str(tmp_path / "idx_ref")
    shutil.copytree(f"{idx_inc}/centroids", f"{idx_ref}/centroids")
    sim.append_to_ivf_index(emb, idx_ref)

    flt = F.col("vec_id") % 10 == 0
    q_pdf = emb.where(flt).select("vec_id", "embedding").toPandas()
    emb.unpersist()
    got = {
        (r.query_id, r.neighbor_id): (r.rank, r.sim)
        for r in sim.ivf_index_topk(spark, idx_inc, q_pdf, k=10, n_probe=4).collect()
    }
    want = {
        (r.query_id, r.neighbor_id): (r.rank, r.sim)
        for r in sim.ivf_index_topk(spark, idx_ref, q_pdf, k=10, n_probe=4).collect()
    }
    assert got == want
    # and the union actually matters: neighbors come from BOTH halves
    parities = {nid % 2 for (_, nid) in got}
    assert parities == {0, 1}


def test_quantized_topk_prequantized_reuse(spark):
    """Passing the quantize_embeddings triple skips the inline pass and
    returns the identical result — the build-once/query-many shape."""
    from etl_dag_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").persist()
    flt = F.col("vec_id") % 10 == 0
    triple = sim.quantize_embeddings(emb)
    q, mins, scales = triple
    q = q.localCheckpoint()  # stands in for a persisted qvec store
    a = {(r.query_id, r.neighbor_id, r.rank, r.sim)
         for r in sim.quantized_topk(emb, flt, k=10).collect()}
    b = {(r.query_id, r.neighbor_id, r.rank, r.sim)
         for r in sim.quantized_topk(emb, flt, k=10, prequantized=(q, mins, scales)).collect()}
    emb.unpersist()
    assert a == b


def test_quantized_store_parquet_roundtrip(spark, tmp_path):
    """The quantized corpus persists as real parquet (binary qvec +
    codebook) and a query against the read-back store equals the inline
    path — the dim-bytes-per-vector store is durable, not an in-memory
    artifact."""
    import json

    from etl_dag_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").persist()
    flt = F.col("vec_id") % 10 == 0
    q, mins, scales = sim.quantize_embeddings(emb)
    store = str(tmp_path / "qstore")
    q.write.mode("overwrite").parquet(store)
    (tmp_path / "codebook.json").write_text(
        json.dumps({"mins": list(mins), "scales": list(scales)})
    )
    cb = json.loads((tmp_path / "codebook.json").read_text())
    import numpy as np

    loaded = (
        spark.read.parquet(store),
        np.array(cb["mins"]),
        np.array(cb["scales"]),
    )
    a = {(r.query_id, r.neighbor_id, r.rank, r.sim)
         for r in sim.quantized_topk(emb, flt, k=10).collect()}
    b = {(r.query_id, r.neighbor_id, r.rank, r.sim)
         for r in sim.quantized_topk(emb, flt, k=10, prequantized=loaded).collect()}
    emb.unpersist()
    assert a == b


def _dir_bytes(path):
    import os

    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def test_ivf_sq8_index_quantized_cells(spark, tmp_path):
    """IVF-SQ composition (quantize=True): cells hold dim-byte uint8
    codes — materially smaller on disk than the float index — queries
    still ride partition pruning, and recall@10 vs the float persisted
    index stays ≥0.9 (the scalar-quantization error budget)."""
    from etl_dag_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").persist()
    idx_f = str(tmp_path / "ivf_float")
    idx_q = str(tmp_path / "ivf_sq8")
    sim.build_ivf_index(emb, idx_f, n_lists=16, seed=42)
    sim.build_ivf_index(emb, idx_q, n_lists=16, seed=42, quantize=True)

    cells = spark.read.parquet(f"{idx_q}/cells")
    assert "qvec" in cells.columns and "embedding" not in cells.columns
    # 8 doubles → 1 byte per dim; parquet overhead eats some of the 8×,
    # but the quantized cells must still be well under half the size
    assert _dir_bytes(f"{idx_q}/cells") < 0.5 * _dir_bytes(f"{idx_f}/cells")

    flt = F.col("vec_id") % 10 == 0
    q_pdf = emb.where(flt).select("vec_id", "embedding").toPandas()
    emb.unpersist()
    got_df = sim.ivf_index_topk(spark, idx_q, q_pdf, k=10, n_probe=4)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    got = {(r.query_id, r.neighbor_id) for r in got_df.collect()}
    want = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_index_topk(spark, idx_f, q_pdf, k=10, n_probe=4).collect()
    }
    assert len(got & want) / len(want) >= 0.9


def test_ivf_sq8_append_uses_stored_codebook(spark, tmp_path):
    """Appending to a quantized index encodes new vectors under the
    STORED scalar codebook, so append(B) onto quantized index(A)
    answers exactly like assigning A∪B under the same centroids+quant
    params (bit-identical, not just recall)."""
    import shutil

    from etl_dag_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").persist()
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)

    idx_inc = str(tmp_path / "sq_inc")
    sim.build_ivf_index(half_a, idx_inc, n_lists=16, seed=42, quantize=True)
    sim.append_to_ivf_index(half_b, idx_inc)
    assert "qvec" in spark.read.parquet(f"{idx_inc}/cells").columns

    idx_ref = str(tmp_path / "sq_ref")
    shutil.copytree(f"{idx_inc}/centroids", f"{idx_ref}/centroids")
    shutil.copytree(f"{idx_inc}/quant", f"{idx_ref}/quant")
    sim.append_to_ivf_index(emb, idx_ref)

    flt = F.col("vec_id") % 10 == 0
    q_pdf = emb.where(flt).select("vec_id", "embedding").toPandas()
    emb.unpersist()
    got = {
        (r.query_id, r.neighbor_id): (r.rank, r.sim)
        for r in sim.ivf_index_topk(spark, idx_inc, q_pdf, k=10, n_probe=4).collect()
    }
    want = {
        (r.query_id, r.neighbor_id): (r.rank, r.sim)
        for r in sim.ivf_index_topk(spark, idx_ref, q_pdf, k=10, n_probe=4).collect()
    }
    assert got == want
    assert {nid % 2 for (_, nid) in got} == {0, 1}


def test_cosine_pairs_row_cap_fails_fast(spark):
    """The exact all-pairs baseline broadcasts the corpus: pointing it
    at more rows than max_rows must raise before collecting anything
    (VERDICT r8 #3 driver-memory contract)."""
    import pytest

    from etl_dag_spark.operators import similarity as sim

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=1) for _ in range(4)]).alias("embedding"),
    )
    with pytest.raises(ValueError, match="max_rows"):
        sim.cosine_pairs(emb, max_rows=10)


def test_edit_verified_rejects_reshuffled_docs(spark):
    """The point of the verify stage: a token-reshuffled document has
    near-identical shingle-free... well, identical unigram content and
    can clear a loose bag-of-ngrams bound, but its edit distance is
    large; a genuinely near-identical doc passes both stages."""
    import hashlib

    # high-entropy tokens: char-level distance between different
    # tokens is ~token length, so a block swap costs ~half the text
    toks = [hashlib.md5(str(i).encode()).hexdigest()[:8] for i in range(40)]
    base = " ".join(toks)
    near = base.replace(toks[7], "zq9x7w2k")  # one-token edit
    # reverse block order: same vocabulary, very different sequence
    words = base.split()
    shuffled = " ".join(words[20:] + words[:20])
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, shuffled)], "doc_id long, text string"
    )
    got = {
        (r.doc_id_a, r.doc_id_b)
        for r in dd.edit_verified_pairs(
            df, candidate_threshold=0.3, max_shingle_freq=None
        ).collect()
    }
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_replicated_corpus_replays_bit_exact_in_duckdb(spark):
    """r11 (VERDICT r10 #3): the planted near-dup corpus is a pure
    function of (id, replica, dim), so the DuckDB oracle can rebuild
    it EXACTLY — every float32 of the splitmix-perturbed replicas must
    be bit-equal between replicate_near_dups (numpy uint64 wraparound)
    and the oracle's HUGEINT mod-2^64 replay. This is the foundation
    the dedup_embedding_cosine_lsh value-exact oracle stands on."""
    import duckdb

    from etl_dag_spark.queries import _M64, _splitmix_sql

    rng = np.random.default_rng(11)
    base = [
        (int(i), rng.standard_normal(64).astype(np.float32).tolist())
        for i in range(40)
    ]
    df = spark.createDataFrame(base, "vec_id long, embedding array<float>")
    got_spark = {
        int(r.vec_id): np.array(r.embedding, dtype=np.float32)
        for r in sim.replicate_near_dups(df, copies=8, noise=0.1).collect()
    }

    con = duckdb.connect()
    con.register(
        "base_emb",
        __import__("pandas").DataFrame(
            {"vec_id": [i for i, _ in base], "embedding": [v for _, v in base]}
        ),
    )
    h = _splitmix_sql("CAST(e.vec_id*1000003 + r.r*7919 + i.i AS HUGEINT)")
    rows = con.execute(
        f"""
        WITH pert AS (
          SELECT e.vec_id, r.r, i.i,
                 CASE WHEN r.r = 0 THEN CAST(e.embedding[i.i + 1] AS REAL)
                      ELSE CAST(CAST(e.embedding[i.i + 1] AS DOUBLE) * (CAST(1.0 AS DOUBLE)
                           + CAST(1.00000000000000006e-01 AS DOUBLE) * (CAST(2.0 AS DOUBLE)
                             * (CAST({h} AS DOUBLE) / {_M64}) - CAST(1.0 AS DOUBLE))) AS REAL)
                 END AS val
          FROM base_emb e, range(8) r(r), range(64) i(i)
        )
        SELECT r*1000000 + vec_id AS cid, list(val ORDER BY i) AS emb
        FROM pert GROUP BY vec_id, r
        """
    ).fetchall()
    got_duck = {int(cid): np.array(emb, dtype=np.float32) for cid, emb in rows}
    assert set(got_duck) == set(got_spark)
    for cid, vec in got_spark.items():
        assert np.array_equal(got_duck[cid], vec), cid
