"""Distributed Bloom filter (operators/bloom.py): no false negatives,
predicted false-positive rate, map-side probe plan, and end-to-end
equivalence of incremental dedup with the prefilter on vs off.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_dag_spark.operators.bloom import bloom_filter_words, bloom_prefilter


def test_no_false_negatives_and_bounded_false_positives(spark):
    n, m, k = 1000, 1 << 13, 5
    keys = spark.range(n).select((F.col("id") * 7 + 3).alias("v"))
    words = bloom_filter_words(keys, ["v"], num_bits=m, k=k)
    # every inserted key must survive
    present = bloom_prefilter(keys, words, ["v"], num_bits=m, k=k)
    assert present.count() == n
    # absent keys survive at ~ the textbook rate (1 - e^(-kn/m))^k
    absent = spark.range(20_000).select((F.col("id") * 7 + 4).alias("v"))
    fp = bloom_prefilter(absent, words, ["v"], num_bits=m, k=k).count()
    expected = (1 - math.exp(-k * n / m)) ** k
    assert fp / 20_000 < 3 * expected, f"fp rate {fp/20_000} vs expected {expected}"
    # and the words table is bounded by construction
    assert words.count() <= m // 64


def test_probe_plan_is_map_side_only(spark):
    """The probe must be k broadcast hash joins with NO Exchange on the
    probe side — the whole point is that definitely-new keys die
    without shuffling."""
    keys = spark.range(100).select(F.col("id").alias("v"))
    words = bloom_filter_words(keys, ["v"], k=4).localCheckpoint(eager=True)
    probe = spark.range(1000).select(F.col("id").alias("v"))
    plan = (
        bloom_prefilter(probe, words, ["v"], k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_bloom_pruned_join_query_plan_and_equality(spark):
    """The registered olap_bloom_pruned_join: (a) the Bloom pass is k
    broadcast probes (the default k=5) feeding the exact join, (b) the
    result is bit-identical to the unpruned plain join — the prefilter
    is a pure runtime filter with no semantic effect."""
    from etl_dag_spark.queries import SPARK_QUERIES

    from tests.conftest import SF_DIR

    q = SPARK_QUERIES["olap_bloom_pruned_join"](spark, SF_DIR)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 5, plan

    from etl_dag_spark.sources.tables import load_table

    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer").where(F.col("c_acctbal") < 0)
    n = load_table(spark, SF_DIR, "nation")
    plain = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")) / 100.0).alias(
                "debt_revenue"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )
    got = {r.nation: (r.debt_revenue, r.n_orders) for r in q.collect()}
    want = {r.nation: (r.debt_revenue, r.n_orders) for r in plain.collect()}
    assert got == want
    assert len(got) > 0


def test_empty_words_table_drops_everything(spark):
    empty = spark.range(0).select(F.col("id").alias("v"))
    words = bloom_filter_words(empty, ["v"])
    probe = spark.range(50).select(F.col("id").alias("v"))
    assert bloom_prefilter(probe, words, ["v"]).count() == 0


def test_incremental_dedup_identical_with_and_without_bloom(spark, tmp_path, both_paths):
    """The prefilter may only remove definitely-absent probes, so the
    dedup decisions must be bit-identical either way. The store is far
    below the Bloom size gate, so the filter engages only when the
    gates are forced distributed."""
    from etl_dag_spark.operators.dedup import incremental_minhash_dedup
    from etl_dag_spark.sources.tables import load_table

    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    off = 10_000_000
    copies = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + off).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    labels = iter(["nobloom", "bloom"])

    def run():
        label = next(labels)
        spark.sql(f"DROP TABLE IF EXISTS t_bloom_{label}")
        path = str(tmp_path / label)
        incremental_minhash_dedup(d, f"t_bloom_{label}", path=path)
        res = incremental_minhash_dedup(copies, f"t_bloom_{label}", path=path)
        out = {r.doc_id: (r.keep, r.matched_store) for r in res.collect()}
        spark.sql(f"DROP TABLE IF EXISTS t_bloom_{label}")
        return out

    gates = {f"incremental_minhash_dedup.{g}" for g in ("bloom", "hits", "edges")}
    outs = both_paths(run, gates, gates | {"greedy_earliest_survivors"})
    assert outs[0] == outs[1]
    assert any(ms for _, ms in outs[0].values())  # the store actually matched
