"""Entity resolution (record linkage): deletion-neighborhood blocking +
multi-field verification + connected-components survivorship.

Generalizes the reference's fuzzy reference-data matching
(ETL_DAG.py:144-151 — pycountry ``search_fuzzy`` over country names)
from "resolve against a small dictionary" to "resolve records against
EACH OTHER": find records that denote the same real-world entity despite
typos, link them, and elect a canonical survivor per entity.

Blocking is the whole scale story. A naive ER compares all pairs
(quadratic); blocking restricts comparisons to records sharing a
candidate key. The key set used here is the SymSpell / deletion-
neighborhood scheme (Garbe 2012, FastSS — Bocek et al. 2007): each
record emits its normalized name plus every single-character deletion of
it. Two strings within edit distance 1 ALWAYS share such a key
(deletion: B equals a deletion of A; substitution at position i: both
sides' i-th deletions coincide; insertion is deletion mirrored), so
recall for distance ≤ 1 is structural, not probabilistic — while the
fan-out is bounded by the name length (a constant of the schema, not a
data statistic). Hot keys (shared boilerplate names) are df-capped like
every candidate generator in this repo; the cap is mirrored verbatim in
the DuckDB oracle.

Verification then applies the real match rule — name edit distance
within threshold AND exact agreement on discriminating fields — and
transitive closure over verified pairs is the existing
``dedup.cluster_pairs`` min-label propagation (no driver graph state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_dag_spark.operators.dedup import _ensure_bucketed_store, cluster_pairs


def deletion_neighborhood_keys(
    records: DataFrame,
    name_col: str = "name",
    max_block: int | None = 100,
) -> DataFrame:
    """records → one row per (record, candidate key): the name itself
    plus each of its 1-character deletions, df-capped (pass
    ``max_block=None`` for the raw, uncapped key set — used when the
    keys are PERSISTED rather than joined, where completeness matters
    and hot keys are re-capped at read time). NULL names normalize to
    '' so every record emits at least its identity key.

    Scale shape: the explode fans out length(name)+1 rows per record —
    bounded by the schema's name length; the df table is
    key-vocabulary-sized and grows with the data, so its join back is
    UNHINTED (the text_rarity_score lesson)."""
    nm = F.coalesce(F.col(name_col), F.lit(""))
    keys = (
        records.withColumn(name_col, nm)
        .select(
            "*", F.explode(F.sequence(F.lit(0), F.length(name_col))).alias("__i")
        )
        .select(
            "*",
            F.when(F.col("__i") == 0, F.col(name_col))
            .otherwise(
                F.expr(
                    f"concat(substring({name_col}, 1, __i - 1),"
                    f" substring({name_col}, __i + 1, 100))"
                )
            )
            .alias("__k"),
        )
        .drop("__i")
    )
    if max_block is None:
        return keys
    ok = (
        keys.groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= max_block)
    )
    return keys.join(ok.select("__k"), "__k")


def resolve_entities(
    records: DataFrame,
    id_col: str = "record_id",
    name_col: str = "name",
    exact_cols: tuple[str, ...] = (),
    max_name_dist: int = 1,
    max_block: int = 100,
) -> DataFrame:
    """Full ER pipeline → (record_id, entity_id, is_canonical,
    n_members). entity_id is the component's min record id (the
    survivor a MERGE would keep); n_members is the entity's record
    count.

    Candidates come from :func:`deletion_neighborhood_keys` (recall
    for name edits ≤ 1 is structural); the match rule verified on each
    candidate pair is ``levenshtein(name_a, name_b) <= max_name_dist``
    AND equality on every ``exact_cols`` field.

    Shape: ONE shuffle on the deletion key. A windowed row count per
    key (the ``HAVING count(*) <= max_block`` df cap) drops over-cap
    keys BEFORE assembly, so a hot key's bucket is never built in one
    aggregation buffer; a ``collect_list`` aggregate, reusing the
    window's partitioning, then folds each capped bucket into a sorted
    struct array, and in-bucket i<j pairs are emitted map-side with
    posexplode + slice (codegen). The pair distinct and the verify are
    unchanged, so the candidate SET (and the replayed DuckDB oracle) is
    identical.
    """
    keep = [id_col, name_col, *exact_cols]
    keys = deletion_neighborhood_keys(
        records.select(*keep), name_col=name_col, max_block=None
    )
    item = F.struct(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_nm"),
        *[F.col(c).alias(f"_x_{c}") for c in exact_cols],
    )
    # struct sort orders by _id first (unique), so slice(j > i) emits
    # ascending-id pairs; duplicate (record, key) rows from character
    # runs become equal adjacent structs, removed by the _id < _id
    # filter — exactly what the old join's doc_id_a < doc_id_b did
    buckets = (
        keys.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("__k")))
        .where(F.col("__df") <= max_block)
        .groupBy("__k")
        .agg(F.sort_array(F.collect_list(item)).alias("its"))
    )
    cand = (
        buckets.select("its", F.posexplode("its").alias("i", "a"))
        .select(
            "a",
            F.explode(F.expr("slice(its, i + 2, size(its) - i - 1)")).alias("b"),
        )
        .where(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("doc_id_a"),
            F.col("b._id").alias("doc_id_b"),
            F.col("a._nm").alias("__na"),
            F.col("b._nm").alias("__nb"),
            *[F.col(f"a._x_{c}").alias(f"__a_{c}") for c in exact_cols],
            *[F.col(f"b._x_{c}").alias(f"__b_{c}") for c in exact_cols],
        )
        .distinct()
    )
    cond = F.levenshtein(F.col("__na"), F.col("__nb")) <= max_name_dist
    for c in exact_cols:
        cond = cond & (F.col(f"__a_{c}") == F.col(f"__b_{c}"))
    pairs = cand.where(cond).select("doc_id_a", "doc_id_b")
    comp = cluster_pairs(pairs, records.select(id_col), id_col=id_col)
    sizes = comp.groupBy(F.col("cluster_id").alias("__cid")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return (
        comp.join(sizes, comp["cluster_id"] == sizes["__cid"])
        .select(
            F.col("doc_id").alias("record_id"),
            F.col("cluster_id").alias("entity_id"),
            "is_canonical",
            "n_members",
        )
    )


# ------------------------------------------- incremental ER w/ store


def incremental_resolve(
    new_records: DataFrame,
    store_table: str,
    max_name_dist: int = 1,
    max_block: int = 100,
    n_store_buckets: int = 16,
    append: bool = True,
    path: str | None = None,
) -> DataFrame:
    """Resolve a NEW batch of (record_id, name, cents) records against
    a persisted entity store — the production ingest shape for record
    linkage (the ER twin of ``dedup.incremental_minhash_dedup``):
    records arrive in batches forever, and re-resolving the full
    history per batch is not an option at 100 TB.

    The store is a bucketed parquet table of the stored records'
    deletion-neighborhood KEY rows (kk, record_id, name, cents,
    entity_id), ``bucketBy(n_store_buckets, kk)`` — so the batch-vs-
    store candidate join reads the store WITHOUT an Exchange on the
    store side; only the new batch shuffles to the bucket layout. Both
    sides are df-capped per key (batch: emitted keys; store: keys
    whose accumulated row count exceeds the cap are skipped this
    batch) — the hot-name discipline at ingest scale. The cap governs
    MATCHING only: persistence writes each record's UNCAPPED key set,
    so boilerplate-named records still reach the store (and the
    canonical read view) as unlinked entities rather than vanishing.

    Semantics are ARRIVAL-ORDER (like streaming/corpus.py's line
    store): each batch component gets
    ``entity = least(min matched store entity, min batch record id)``;
    when one component bridges SEVERAL store entities — the case that
    forces one-shot ER to merge — the store rows are NOT rewritten;
    instead (from_entity → into_entity) rows append to the
    ``{store_table}_merges`` ledger, and :func:`read_resolved_entities`
    folds the ledger at read time (components over the bounded merge
    graph). For id-ordered batches the folded view equals one-shot
    :func:`resolve_entities` cluster-for-cluster (pinned in
    tests/test_entity.py).

    → (record_id, entity_id, matched_store) — matched_store marks
    components linked to at least one stored entity.
    """
    spark = new_records.sparkSession
    recs = new_records.select("record_id", "name", "cents")
    # the UNCAPPED key set is what persists (completeness: every record
    # must reach the store even when its name is boilerplate — hot keys
    # are re-capped at read time by store_ok below); the capped subset
    # drives this batch's candidate matching
    keys_all = deletion_neighborhood_keys(
        recs, name_col="name", max_block=None
    ).localCheckpoint(eager=False)
    ok = (
        keys_all.groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= max_block)
        .select("__k")
    )
    keys = keys_all.join(ok, "__k")

    _ensure_bucketed_store(
        spark,
        store_table,
        "kk STRING, record_id BIGINT, name STRING, cents BIGINT, entity_id BIGINT",
        ["kk"],
        n_store_buckets,
        path,
    )
    store = spark.table(store_table)
    # store-side hot-key cap: key cardinalities grow with the corpus
    # (vocabulary-sized frame → unhinted join-back)
    store_ok = (
        store.groupBy("kk")
        .agg(F.count(F.lit(1)).alias("__sdf"))
        .where(F.col("__sdf") <= max_block)
        .select("kk")
    )
    s = store.join(store_ok, "kk").select(
        F.col("kk").alias("__k"),
        F.col("name").alias("__sn"),
        F.col("cents").alias("__sc"),
        F.col("entity_id").alias("__se"),
    )
    rm = (
        keys.join(s, "__k")
        .where(
            (F.levenshtein(F.col("name"), F.col("__sn")) <= max_name_dist)
            & (F.col("cents") == F.col("__sc"))
        )
        .select(F.col("record_id"), F.col("__se").alias("ment"))
        .distinct()
    )

    a = keys.select(
        "__k",
        F.col("record_id").alias("doc_id_a"),
        F.col("name").alias("__na"),
        F.col("cents").alias("__ca"),
    )
    b = keys.select(
        "__k",
        F.col("record_id").alias("doc_id_b"),
        F.col("name").alias("__nb"),
        F.col("cents").alias("__cb"),
    )
    batch_pairs = (
        a.join(b, "__k")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .drop("__k")
        .distinct()
        .where(
            (F.levenshtein(F.col("__na"), F.col("__nb")) <= max_name_dist)
            & (F.col("__ca") == F.col("__cb"))
        )
        .select("doc_id_a", "doc_id_b")
    )
    comp = cluster_pairs(batch_pairs, recs.select("record_id"), id_col="record_id")

    cm = comp.select("doc_id", "cluster_id").join(
        rm.withColumnRenamed("record_id", "doc_id"), "doc_id", "left"
    )
    ce = cm.groupBy("cluster_id").agg(F.min("ment").alias("__mse"))
    ent = ce.select(
        "cluster_id",
        F.least(F.col("cluster_id"), F.coalesce(F.col("__mse"), F.col("cluster_id")))
        .cast("bigint")
        .alias("entity_id"),
        F.col("__mse").isNotNull().alias("matched_store"),
    )
    assignment = (
        comp.select("doc_id", "cluster_id")
        .join(ent, "cluster_id")
        .select(
            F.col("doc_id").alias("record_id"), "entity_id", "matched_store"
        )
    )
    ledger = (
        cm.join(ent, "cluster_id")
        .where(F.col("ment").isNotNull() & (F.col("ment") != F.col("entity_id")))
        .select(
            F.col("ment").alias("from_entity"),
            F.col("entity_id").alias("into_entity"),
        )
        .distinct()
    )

    if append:
        # materialize BEFORE appending: both plans read the store table
        assignment = assignment.localCheckpoint(eager=True)
        ledger = ledger.localCheckpoint(eager=True)
        new_rows = keys_all.join(
            assignment.select("record_id", "entity_id"), "record_id"
        ).select(
            F.col("__k").alias("kk"), "record_id", "name", "cents", "entity_id"
        )
        new_rows.write.mode("append").bucketBy(
            n_store_buckets, "kk"
        ).format("parquet").saveAsTable(store_table)
        _ensure_bucketed_store(
            spark,
            f"{store_table}_merges",
            "from_entity BIGINT, into_entity BIGINT",
            ["from_entity"],
            4,
            f"{path}_merges" if path is not None else None,
        )
        ledger.write.mode("append").bucketBy(4, "from_entity").format(
            "parquet"
        ).saveAsTable(f"{store_table}_merges")
    return assignment


def read_resolved_entities(spark: SparkSession, store_table: str) -> DataFrame:
    """Canonical (record_id, entity_id) view of an
    :func:`incremental_resolve` store: fold the merge ledger onto the
    stored assignments — entities bridged by later batches remap to
    their component's min id via the same min-label components
    fixpoint, run over the MERGE GRAPH only (bounded by the number of
    merge events, not the record count)."""
    store = spark.table(store_table).select("record_id", "entity_id").distinct()
    merges_tbl = f"{store_table}_merges"
    if not spark.catalog.tableExists(merges_tbl):
        return store
    ledger = spark.table(merges_tbl).select(
        F.col("from_entity").alias("doc_id_a"),
        F.col("into_entity").alias("doc_id_b"),
    )
    ents = store.select(F.col("entity_id")).distinct()
    canon = cluster_pairs(ledger, ents, id_col="entity_id")
    return store.join(
        canon.select(F.col("doc_id").alias("entity_id"), "cluster_id"),
        "entity_id",
    ).select("record_id", F.col("cluster_id").alias("entity_id"))


def blocking_quality(
    candidates: DataFrame,
    truth: DataFrame,
    n_records: int,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
) -> DataFrame:
    """Blocking-scheme evaluation (Christen 2012's record-linkage
    measures, r12): given the CANDIDATE pairs a blocking scheme admits
    and the labeled TRUE match pairs, one row of

    - ``reduction_ratio``  = 1 − |candidates| / C(n_records, 2) — how
      much of the quadratic comparison space the blocking avoided;
    - ``pairs_completeness`` = |candidates ∩ truth| / |truth| — the
      recall ceiling the blocking imposes on ANY downstream matcher;
    - ``pairs_quality``     = |candidates ∩ truth| / |candidates| —
      how dense the admitted pairs are in true matches.

    The tuning readout for every candidate generator in this repo
    (deletion-neighborhood keys, MinHash bands, prefix filters, LSH
    buckets): a scheme is production-ready when reduction ratio ≈ 1 at
    pairs completeness ≈ 1. Pairs are canonicalized (min, max) and
    deduplicated on both sides; all three ratios are single divisions
    of exact BIGINT counts (1-row aggregates — driver-safe at any
    scale)."""

    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        ).distinct()

    c, t = canon(candidates), canon(truth)
    nc = c.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    nt = t.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    nm = (
        c.join(t, ["a", "b"])
        .groupBy()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
    )
    total = n_records * (n_records - 1) // 2
    return (
        nc.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nm))
        .select(
            F.lit(int(n_records)).cast("bigint").alias("n_records"),
            F.lit(int(total)).cast("bigint").alias("n_possible_pairs"),
            "n_candidates",
            "n_truth",
            "n_matched",
            (
                F.lit(1.0)
                - F.col("n_candidates").cast("double") / F.lit(float(total))
            ).alias("reduction_ratio"),
            (
                F.col("n_matched").cast("double")
                / F.col("n_truth").cast("double")
            ).alias("pairs_completeness"),
            (
                F.col("n_matched").cast("double")
                / F.col("n_candidates").cast("double")
            ).alias("pairs_quality"),
        )
    )
