"""Count-min sketch properties (operators/sketch.py): the estimate
never underestimates, cell mass is conserved per hash row, and sketches
of corpus halves merge cell-wise into the sketch of the union — the
three invariants that make the CMS a safe distributed/streaming
frequency summary. The engine-portable hash (and therefore the exact
cell values) is oracle-checked end-to-end by
test_parity[text_countmin_hitters]; these tests pin the algebra.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_dag_spark.operators import sketch as sk

DEPTH, WIDTH = 4, 64  # narrow width so collisions actually occur


def _counted(spark, items: dict[str, int]):
    return spark.createDataFrame(
        [(k, v) for k, v in items.items()], "key string, c long"
    )


def _zipf_corpus() -> dict[str, int]:
    return {f"tok{i}": max(1, 3000 // (i + 1)) for i in range(300)}


def test_estimate_never_underestimates_and_is_tight_for_hitters(spark):
    items = _zipf_corpus()
    cnt = _counted(spark, items)
    cms = sk.countmin_build(cnt, depth=DEPTH, width=WIDTH)
    est = {
        r.key: r.cms_estimate
        for r in sk.countmin_estimate(cms, cnt.select("key"), depth=DEPTH, width=WIDTH).collect()
    }
    assert set(est) == set(items)
    n_total = sum(items.values())
    for k, true_c in items.items():
        assert est[k] >= true_c, f"{k}: CMS underestimated {est[k]} < {true_c}"
        # classic bound: overestimate ≤ (e/width)·N w.h.p.; depth=4
        # independent rows make a miss on all four vanishingly unlikely
        assert est[k] - true_c <= (2.72 / WIDTH) * n_total * 4


def test_cell_mass_conserved_per_row(spark):
    items = _zipf_corpus()
    cms = sk.countmin_build(_counted(spark, items), depth=DEPTH, width=WIDTH)
    per_row = {r.row: r.total for r in cms.groupBy("row").agg(F.sum("cell").alias("total")).collect()}
    n_total = sum(items.values())
    assert sorted(per_row) == list(range(DEPTH))
    assert all(v == n_total for v in per_row.values())


def test_merge_of_halves_equals_sketch_of_union(spark):
    items = _zipf_corpus()
    half_a = {k: v for i, (k, v) in enumerate(items.items()) if i % 2 == 0}
    half_b = {k: v for i, (k, v) in enumerate(items.items()) if i % 2 == 1}
    merged = sk.countmin_merge(
        sk.countmin_build(_counted(spark, half_a), depth=DEPTH, width=WIDTH),
        sk.countmin_build(_counted(spark, half_b), depth=DEPTH, width=WIDTH),
    )
    whole = sk.countmin_build(_counted(spark, items), depth=DEPTH, width=WIDTH)
    m = {(r.row, r.pos): r.cell for r in merged.collect()}
    w = {(r.row, r.pos): r.cell for r in whole.collect()}
    assert m == w


def test_duplicate_count_rows_fold_like_a_raw_stream(spark):
    # the sketch of pre-aggregated counts equals the sketch of the raw
    # stream: feeding the same key twice with split counts is identical
    split = spark.createDataFrame(
        [("a", 3), ("a", 4), ("b", 5)], "key string, c long"
    )
    folded = spark.createDataFrame([("a", 7), ("b", 5)], "key string, c long")
    s1 = {(r.row, r.pos): r.cell for r in sk.countmin_build(split, depth=DEPTH, width=WIDTH).collect()}
    s2 = {(r.row, r.pos): r.cell for r in sk.countmin_build(folded, depth=DEPTH, width=WIDTH).collect()}
    assert s1 == s2


def test_join_size_estimate_bounds(spark):
    """CMS inner product: always >= the exact equi-join size, and with
    depth=4 rows the min-estimate lands within the classic additive
    bound e/width * |A| * |B|."""
    import random

    rng = random.Random(7)
    a_items = {f"k{i}": rng.randint(1, 20) for i in range(120)}
    b_items = {f"k{i}": rng.randint(1, 20) for i in range(60, 180)}
    exact = sum(a_items[k] * b_items[k] for k in a_items.keys() & b_items.keys())
    cms_a = sk.countmin_build(_counted(spark, a_items), depth=DEPTH, width=WIDTH)
    cms_b = sk.countmin_build(_counted(spark, b_items), depth=DEPTH, width=WIDTH)
    est = sk.countmin_join_size(cms_a, cms_b, depth=DEPTH).collect()[0].est
    assert est >= exact
    na = sum(a_items.values())
    nb = sum(b_items.values())
    assert est - exact <= (2.72 / WIDTH) * na * nb


def test_join_size_estimate_disjoint_keys_small(spark):
    """Disjoint key sets: the true join is empty; the estimate is pure
    collision noise, far below any overlapping configuration."""
    a_items = {f"a{i}": 10 for i in range(100)}
    b_items = {f"b{i}": 10 for i in range(100)}
    cms_a = sk.countmin_build(_counted(spark, a_items), depth=DEPTH, width=WIDTH)
    cms_b = sk.countmin_build(_counted(spark, b_items), depth=DEPTH, width=WIDTH)
    est = sk.countmin_join_size(cms_a, cms_b, depth=DEPTH).collect()[0].est
    na, nb = 1000, 1000
    assert 0 <= est <= (2.72 / WIDTH) * na * nb


def test_join_size_estimate_query_on_empty_tables_matches_oracle(spark, tmp_path):
    """olap_join_size_estimate over an empty orders and lineitem returns
    ONE row with est, exact, error_bound and within_bound all NULL — the
    DuckDB oracle's scalar CTEs give the same row, compared the way the
    driver compares (tools/driver_sim.py)."""
    import os

    import duckdb
    import pyarrow.parquet as pq

    from etl_dag_spark.queries import ORACLES, SPARK_QUERIES
    from tests.conftest import SF_DIR
    from tools.driver_sim import normalize, values_equal

    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        path = str(tmp_path / f"{t}.parquet")
        pq.write_table(pq.read_schema(os.path.join(SF_DIR, f"{t}.parquet")).empty_table(), path)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    name = "olap_join_size_estimate"
    got = normalize(SPARK_QUERIES[name](spark, str(tmp_path)).toPandas())
    want = normalize(con.execute(ORACLES[name]).fetchdf())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) == 1
    for c in got.columns:
        assert values_equal(got[c][0], want[c][0]), (c, got[c][0], want[c][0])
        assert values_equal(got[c][0], None), (c, got[c][0])


# ------------------------------------------------------- HyperLogLog


def _keys(spark, n: int, salt: str = "k"):
    return spark.createDataFrame(
        [(f"{salt}{i}",) for i in range(n)], "key string"
    )


def test_hll_estimate_within_theoretical_band(spark):
    """p=8 ⇒ relative standard error 1.04/√256 ≈ 6.5%; a 3σ band of
    20% must hold across cardinalities spanning the linear-counting
    and raw-estimator regimes."""
    for n in (50, 500, 5000):
        regs = sk.hll_registers(_keys(spark, n), p=8)
        est = sk.hll_estimate(regs, p=8)
        assert abs(est - n) / n < 0.20, f"n={n}: est={est:.0f}"


def test_hll_merge_of_halves_equals_registers_of_union(spark):
    both = _keys(spark, 2000)
    a = both.where(F.expr("CAST(substr(key, 2) AS INT) % 2 = 0"))
    b = both.where(F.expr("CAST(substr(key, 2) AS INT) % 2 = 1"))
    whole = {
        (r.register, r.max_rho) for r in sk.hll_registers(both, p=8).collect()
    }
    merged = {
        (r.register, r.max_rho)
        for r in sk.hll_merge(
            sk.hll_registers(a, p=8), sk.hll_registers(b, p=8)
        ).collect()
    }
    assert merged == whole


def test_hll_merge_is_idempotent_under_replay(spark):
    """MAX-fold absorbs duplicate delivery: merge(S, S) == S — the
    property that lets the streaming store tolerate batch replays
    without exactly-once sinks (unlike the additive CMS fold)."""
    regs = sk.hll_registers(_keys(spark, 1000), p=8)
    replayed = {
        (r.register, r.max_rho) for r in sk.hll_merge(regs, regs).collect()
    }
    assert replayed == {(r.register, r.max_rho) for r in regs.collect()}


def test_hll_duplicate_keys_do_not_move_registers(spark):
    """Distinct-count semantics: feeding every key 5× yields the
    identical register table (rho depends only on the key's hash)."""
    ks = _keys(spark, 300)
    dup = ks.union(ks).union(ks).union(ks).union(ks)
    a = {(r.register, r.max_rho) for r in sk.hll_registers(ks, p=8).collect()}
    b = {(r.register, r.max_rho) for r in sk.hll_registers(dup, p=8).collect()}
    assert a == b


def test_kmv_merge_of_halves_equals_sketch_of_union(spark):
    """bottom-k(bottom-k(A) ∪ bottom-k(B)) == bottom-k(A ∪ B) — the
    composability that makes KMV sketches mergeable per partition /
    per batch without ever rescanning the sets."""
    both = _keys(spark, 3000)
    a = both.where(F.expr("CAST(substr(key, 2) AS INT) % 2 = 0"))
    b = both.where(F.expr("CAST(substr(key, 2) AS INT) % 3 = 0"))  # overlaps a
    union = a.union(b)
    whole = [r.hv for r in sk.kmv_sketch(union, k=64).collect()]
    merged = [
        r.hv
        for r in sk.kmv_merge(
            sk.kmv_sketch(a, k=64), sk.kmv_sketch(b, k=64), k=64
        ).collect()
    ]
    assert sorted(merged) == sorted(whole)
    assert len(set(whole)) == 64


def test_kmv_estimate_within_band_and_exact_below_k(spark):
    """Relative standard error ≈ 1/√(k−2); a 4σ band must hold across
    cardinalities. Below k distinct keys the sketch holds ALL hashes
    and the estimate is exactly the distinct count."""
    for n in (1000, 8000):
        est = sk.kmv_estimate(sk.kmv_sketch(_keys(spark, n), k=256), k=256).collect()[0]
        assert est.m == 256
        assert abs(est.est - n) / n < 4.0 / (254 ** 0.5), f"n={n}: {est.est:.0f}"
    small = sk.kmv_estimate(sk.kmv_sketch(_keys(spark, 100), k=256), k=256).collect()[0]
    assert small.m == 100 and small.est == 100.0


def test_kmv_duplicate_keys_do_not_move_the_sketch(spark):
    ks = _keys(spark, 500)
    dup = ks.union(ks).union(ks)
    a = sorted(r.hv for r in sk.kmv_sketch(ks, k=64).collect())
    b = sorted(r.hv for r in sk.kmv_sketch(dup, k=64).collect())
    assert a == b


def test_kmv_jaccard_estimate_on_known_overlap(spark):
    """Sets with |A|=|B|=2000, |A∩B|=1000 ⇒ J=1/3: the union-sketch
    membership estimator (|L ∩ S_A ∩ S_B| / |L|) lands within the
    binomial band, and the derived intersection estimate tracks 1000."""
    a = _keys(spark, 2000)  # k0..k1999
    b = spark.createDataFrame(
        [(f"k{i}",) for i in range(1000, 3000)], "key string"
    )
    k = 256
    ka, kb = sk.kmv_sketch(a, k=k), sk.kmv_sketch(b, k=k)
    lu = sk.kmv_merge(ka, kb, k=k)
    matches = (
        lu.join(ka, "hv", "left_semi").join(kb, "hv", "left_semi").count()
    )
    j = matches / k
    assert abs(j - 1 / 3) < 4.0 * ((1 / 3) * (2 / 3) / k) ** 0.5
    u_est = sk.kmv_estimate(lu, k=k).collect()[0].est
    inter_est = j * u_est
    assert abs(inter_est - 1000) / 1000 < 0.25


def test_hll_grouped_registers_estimate_per_group(spark):
    """GROUP BY form: per-group register tables match per-group builds,
    group-union merge (per-register MAX across groups) estimates the
    distinct union, and every estimate sits in the error band."""
    rows = [("a", f"u{i}") for i in range(800)] + [
        ("b", f"u{i}") for i in range(600, 1400)
    ]
    df = spark.createDataFrame(rows, "grp string, key string")
    regs = sk.hll_registers(df, p=8, group_cols=["grp"])
    ests = sk.hll_estimate_by_group(regs, ["grp"], p=8)
    assert abs(ests[("a",)] - 800) / 800 < 0.2
    assert abs(ests[("b",)] - 800) / 800 < 0.2
    # merging the two groups' registers estimates |A ∪ B| = 1400
    union = regs.groupBy("register").agg(F.max("max_rho").alias("max_rho"))
    u = sk.hll_estimate(union, p=8)
    assert abs(u - 1400) / 1400 < 0.2
    # grouped build == independent per-group builds
    only_a = {
        (r.register, r.max_rho)
        for r in sk.hll_registers(
            df.where(F.col("grp") == "a"), p=8
        ).collect()
    }
    grouped_a = {
        (r.register, r.max_rho)
        for r in regs.where(F.col("grp") == "a").select("register", "max_rho").collect()
    }
    assert grouped_a == only_a


# --------------------------------------------- quantile sample sketch


def _qsk_source(spark, n=4000, groups=("A", "B")):
    """Deterministic skewed values: group g's value at i is (i*i) % 7919
    — a fixed non-uniform distribution with known exact quantiles."""
    rows = [
        (g, (i * i) % 7919, f"{g}{i}") for g in groups for i in range(n)
    ]
    return spark.createDataFrame(rows, "g string, v long, key string")


def test_quantile_sketch_merge_of_halves_equals_sketch_of_union(spark):
    src = _qsk_source(spark)
    a = sk.quantile_sample_sketch(
        src.where(F.length("key") % 2 == 0), "g", "v", "key", k=64
    )
    b = sk.quantile_sample_sketch(
        src.where(F.length("key") % 2 == 1), "g", "v", "key", k=64
    )
    whole = sk.quantile_sample_sketch(src, "g", "v", "key", k=64)
    merged = sk.quantile_sample_merge(a, b, k=64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_quantile_sketch_estimates_within_rank_error(spark):
    """k=256 gives rank error O(1/sqrt(k)) ~ 6%: every estimated
    quantile must sit between the exact (q-0.1) and (q+0.1) quantiles."""
    src = _qsk_source(spark)
    est = {
        r["g"]: r
        for r in sk.quantile_sample_estimate(
            sk.quantile_sample_sketch(src, "g", "v", "key", k=256)
        ).collect()
    }
    vals = sorted(r.v for r in src.where(F.col("g") == "A").collect())
    n = len(vals)

    def exact(q):
        return vals[max(0, min(n - 1, int(q * n) - 1))]

    for q, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        got = est["A"][name]
        lo, hi = exact(max(0.0, q - 0.1)), exact(min(1.0, q + 0.1))
        assert lo <= got <= hi, (name, lo, got, hi)
    assert est["A"]["n_sample"] == 256


def test_quantile_sketch_small_group_is_exact(spark):
    """A group smaller than k is fully retained: estimates are the
    EXACT order statistics."""
    rows = [("s", v, f"k{v}") for v in [10, 20, 30, 40, 50]]
    src = spark.createDataFrame(rows, "g string, v long, key string")
    r = sk.quantile_sample_estimate(
        sk.quantile_sample_sketch(src, "g", "v", "key", k=256)
    ).collect()[0]
    assert (r["n_sample"], r["p50"], r["p90"], r["p99"]) == (5, 30, 50, 50)
