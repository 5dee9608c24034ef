"""Physical-plan audits: the properties that make these queries scale
(SURVEY §6) are asserted on the actual executed plans so a regression
in join strategy, pushdown, or Python placement fails CI — not just a
benchmark eyeball.
"""

from __future__ import annotations

import pytest

from etl_dag_spark.queries import SPARK_QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return SPARK_QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(SPARK_QUERIES))
def test_no_cartesian_product_and_no_rowwise_python(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    # Python is allowed only Arrow-batched (mapInPandas / pandas_udf),
    # never row-at-a-time
    assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF in plan"


def test_revenue_by_category_is_broadcast_pruned_partial(spark):
    plan = _plan(spark, "bi_revenue_by_category")
    assert "BroadcastHashJoin" in plan  # part dim broadcast
    assert "partial_sum" in plan        # map-side combine before shuffle
    # lineitem scan pruned to the 3 needed columns
    scan = next(l for l in plan.splitlines() if "Scan parquet" in l and "l_partkey" in l)
    assert "l_extendedprice" in scan and "l_discount" in scan
    assert "l_comment" not in scan and "l_quantity" not in scan


def test_shipping_priority_pushes_dim_filter_to_scan(spark):
    plan = _plan(spark, "olap_shipping_priority")
    scan = next(l for l in plan.splitlines() if "Scan parquet" in l and "c_mktsegment" in l)
    assert "BUILDING" in scan  # selective predicate reaches the file scan


def test_star_fact_prunes_order_columns(spark):
    plan = _plan(spark, "etl_star_fact")
    scan = next(l for l in plan.splitlines() if "Scan parquet" in l and "o_orderkey" in l)
    assert "o_orderpriority" not in scan and "o_orderstatus" not in scan


def test_anti_join_is_broadcast(spark):
    plan = _plan(spark, "bi_customers_no_purchase")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_pricing_summary_is_single_scan_partial_agg(spark):
    plan = _plan(spark, "olap_pricing_summary")
    assert plan.count("Scan parquet") == 1
    assert "partial_sum" in plan


def test_local_supplier_volume_broadcasts_all_dims(spark):
    """TPC-H Q5-class plan: exactly one shuffle-side join (the fact⋈fact
    on orderkey under AQE); every dim join broadcasts."""
    plan = _plan(spark, "olap_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3  # customer, supplier, nation
    assert "CartesianProduct" not in plan


def _walk(node):
    yield node
    for i in range(node.children().size()):
        yield from _walk(node.children().apply(i))


# leaves that never scale with data volume
_UNSCALED_LEAVES = {"LocalRelation", "Range", "OneRowRelation"}
# operators whose output cardinality is ≤ the product of their
# children's (single-child ones are ≤ the child's): boundedness
# propagates THROUGH them, they never create it
_CARD_PRESERVING = {
    "Project", "SubqueryAlias", "Sort", "RepartitionByExpression",
    "Repartition", "Window", "Filter", "Deduplicate", "Distinct",
    "ResolvedHint", "Join",
}


def _bounded_output(node) -> bool:
    """True iff the subtree's OUTPUT cardinality is provably independent
    of scale factor. This is the round-7 tightening of the hint audit:
    round 6 exempted a hint if a bounding node appeared ANYWHERE in its
    subtree, which admitted (a) an aggregate whose group keys are
    corpus-scaled (a token vocabulary grows with the corpus — Heaps'
    law) and (b) a subtree whose inner aggregate merely FILTERS a
    corpus-scaled stream. Here the bound must hold for the hinted
    side's own output:

    - LIMIT → bounded by the literal.
    - scalar aggregate (no group keys) → 1 row.
    - aggregate grouped only by SPARK_PARTITION_ID → ≤ #partitions
      (the distributed prefix-sum offset frames).
    - nation/region scans and literal relations → fixed-size inputs.
    - cardinality-preserving ops (project/filter/window/sort/dedup/
      join/…) → bounded iff EVERY child is bounded.
    - anything else (grouped aggregate over scaled keys, Generate,
      scaled scans) → NOT bounded.
    """
    sn = node.getClass().getSimpleName()
    if sn in ("GlobalLimit", "LocalLimit"):
        return True
    if sn in _UNSCALED_LEAVES:
        return True
    if sn == "LogicalRelation":
        head = node.toString().splitlines()[0]
        return "n_nationkey" in head or "r_regionkey" in head
    if sn == "Aggregate":
        ge = node.groupingExpressions()
        if ge.size() == 0:
            return True
        exprs = [ge.apply(i).toString() for i in range(ge.size())]
        tree = node.treeString()
        if all("__pid" in e for e in exprs) and (
            "SPARK_PARTITION_ID() AS __pid" in tree
        ):
            return True
        # Same prefix-sum offset frame AFTER windows._ranged_row_number's
        # determinism checkpoint (the lazy localCheckpoint that pins the
        # range placement truncates the lineage to a LogicalRDD, hiding
        # the SPARK_PARTITION_ID marker): the reserved column pair
        # (__pid, __lrn) only ever comes from that helper, whose __pid
        # cardinality is ≤ #partitions by construction.
        if all("__pid" in e for e in exprs) and any(
            "LogicalRDD" in ln and "__pid" in ln and "__lrn" in ln
            for ln in tree.splitlines()
        ):
            return True
        # Bloom word table: grouped by pmod(hash, CONSTANT) DIV 64 — at
        # most num_bits/64 groups regardless of input size
        if all(e.split("#")[0] == "__w" for e in exprs) and "pmod(xxhash64" in tree:
            return True
        # CMS cell table (operators/sketch.py): grouped by an exploded
        # literal-sequence row id × pmod(md5-hash, CONSTANT width) — at
        # most depth×width groups regardless of input size, the
        # by-construction constant bound that makes the sketch the one
        # provably broadcast-safe aggregate of a corpus-scaled stream
        names = sorted(e.split("#")[0] for e in exprs)
        if (
            names in (["cast(row", "pos"], ["pos", "row"])
            and "pmod(cast(conv(substring(md5" in tree
            and "explode(sequence(" in tree
        ):
            return True
        return False
    if sn in _CARD_PRESERVING:
        n = node.children().size()
        return n > 0 and all(
            _bounded_output(node.children().apply(i)) for i in range(n)
        )
    return False


@pytest.mark.parametrize("name", sorted(SPARK_QUERIES))
def test_no_broadcast_hint_on_scaled_tables(spark, name):
    """An explicit broadcast hint bypasses Spark's size check, so a hint
    on a side that grows with scale factor (part/customer/supplier/
    fact-derived key sets, token vocabularies, corpus slices) is an
    executor OOM at 100 TB, not a plan degradation. Every ResolvedHint's
    own subtree must have provably SF-independent output cardinality
    (see _bounded_output). Frames that are small only by an
    order-statistic argument (rank-filter survivors, ties-vs-global-max)
    must stay UNHINTED and rely on AQE's runtime-size broadcast."""
    plan = SPARK_QUERIES[name](spark, SF)._jdf.queryExecution().analyzed()
    for node in _walk(plan):
        if node.getClass().getSimpleName() != "ResolvedHint":
            continue
        assert _bounded_output(node), (
            f"{name}: broadcast hint whose side's output cardinality is "
            f"not provably bounded:\n{node.treeString()[:800]}"
        )


def test_bounded_output_rejects_round6_offender_shapes(spark):
    """Regression pin for the round-6 audit loophole: the two shapes
    that slipped through must be REJECTED by the prover — (a) an
    aggregate grouped by a corpus-scaled key (text_rarity_score's token
    vocabulary), (b) a corpus-scaled stream merely FILTERED by a join
    against a bounded aggregate (dedup_contamination's eval slice under
    the hot-shingle cap) — and (c) a frame built from a list of rows,
    whose LogicalRDD leaf looks the same as a checkpointed SF-scaled
    frame (driver-built bounded frames are Arrow local relations,
    operators/adaptive.py::local_frame)."""
    from etl_dag_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    from pyspark.sql import functions as F

    # (a) vocabulary-keyed aggregate
    tk = d.select(F.explode(F.split("text", " ")).alias("t"))
    vocab = tk.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    plan_a = F.broadcast(vocab).join(tk, "t")._jdf.queryExecution().analyzed()
    # (b) corpus slice filtered through a bounded-aggregate join
    ok = d.groupBy("lang").agg(F.count(F.lit(1)).alias("df")).select("lang")
    ev = d.where(F.col("doc_id") % 20 == 0).join(ok, "lang")
    plan_b = d.join(F.broadcast(ev), "doc_id")._jdf.queryExecution().analyzed()
    # (c) row-built frame
    rows = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    plan_c = d.join(F.broadcast(rows), "doc_id")._jdf.queryExecution().analyzed()
    for label, plan in (
        ("vocab-agg", plan_a), ("filtered-slice", plan_b), ("row-built", plan_c)
    ):
        hints = [
            n for n in _walk(plan)
            if n.getClass().getSimpleName() == "ResolvedHint"
        ]
        assert hints, f"{label}: test setup lost its hint"
        assert not any(_bounded_output(h) for h in hints), (
            f"{label}: the prover accepted a corpus-scaled broadcast side"
        )


def test_disjunctive_predicate_pushes_to_both_scans(spark):
    """Q19-class: the 3-arm (brand, size, quantity) disjunction must be
    OR-factored into per-table predicates and pushed into BOTH parquet
    scans — a cast or un-factorable expression would silently turn the
    lineitem side into a full scan."""
    df = SPARK_QUERIES["olap_disjunctive_revenue"](spark, SF)
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l and "Or(" in l for l in pushed), pushed
    assert any("p_brand" in l and "Or(" in l for l in pushed), pushed


def test_ntile_quartiles_has_no_unpartitioned_window(spark):
    """olap_ntile_quartiles must never plan a global-sort window: every
    Window node carries a partition spec (the exact_ntile rewrite ranks
    inside range partitions), and no Sort is global."""
    plan = _plan(spark, "olap_ntile_quartiles")
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            # an unpartitioned window spec starts the spec with the
            # order column directly; ours must lead with __pid
            assert "__pid" in line, f"unpartitioned window: {line.strip()[:160]}"
    assert "Sort [pc" not in plan  # no global sort over the agg frame


def test_ranged_row_number_raw_plan_is_distributed(spark):
    """The structural guarantees of windows._ranged_row_number, pinned
    on the PRE-checkpoint lineage (the determinism localCheckpoint that
    fixed the nondeterministic range-boundary corruption also hides the
    helper's internals from every downstream explain(), so the query-
    level snapshots can no longer show them): the row-number window
    ranks inside __pid partitions, the data moves through a
    rangepartitioning Exchange, and nothing sorts a single partition
    globally."""
    from pyspark.sql import functions as F

    from etl_dag_spark.operators.windows import _ranged_row_number
    from etl_dag_spark.sources.tables import load_table

    df = load_table(spark, SF, "orders").select("o_custkey", "o_totalprice")
    local, _counts = _ranged_row_number(
        df, [F.col("o_totalprice").desc(), F.col("o_custkey")], pin=False
    )
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = local._jdf.queryExecution().explainString(mode)
    assert "rangepartitioning" in plan, plan[:800]
    saw_window = False
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            saw_window = True
            assert "__pid" in line, f"unpartitioned window: {line.strip()[:160]}"
    assert saw_window
    assert "SinglePartition" not in plan
