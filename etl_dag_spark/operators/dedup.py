"""Document deduplication operators: exact, n-gram Jaccard (exact
near-dup), MinHash+LSH and SimHash (approximate near-dup).

These extend the reference's surface for LLM-training-data pipelines.
Scale design notes:

- Exact dedup is a hash-groupBy on a 128-bit fingerprint — one shuffle
  of (hash, id), never the document bodies.
- N-gram Jaccard generates candidates from an inverted shingle index
  (explode → self-join on shingle). Exact, but candidate volume is
  quadratic in per-shingle document frequency, so hot shingles can be
  capped (``max_shingle_freq``) — at web scale you ALWAYS cap.
- MinHash/LSH bounds candidate volume by banding signatures: shuffle is
  linear in docs × bands, and verification joins only within buckets.
  This is the 100 TB path; n-gram Jaccard is its exactness oracle.
- Everything is built-in Column expressions (xxhash64, zip_with,
  aggregate) — no Python UDFs anywhere.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_dag_spark.functions.text import (
    md5_fingerprint_column,
    shingle_rows,
    tokens_column,
)
from etl_dag_spark.operators.adaptive import collect_if_small, local_frame, on_driver

# driver-solve bounds (operators/adaptive.py): match edges and store hits
# up to these row counts are decided on the driver
_DRIVER_MAX_EDGES = 500_000
_DRIVER_MAX_HITS = 500_000
# incremental dedup's Bloom store prefilter: bits, and the on-disk store
# size above which it engages
_BLOOM_BITS = 1 << 20
_BLOOM_STORE_BYTES = 64 * 1024 * 1024

# ------------------------------------------------------------ exact dedup


def exact_dedup(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text: (fingerprint, doc_id=min id, n_copies).

    Reference analogy: the truncate-and-load dedup a warehouse would do
    on a natural key; here the key is the content fingerprint.
    """
    return (
        documents.groupBy(md5_fingerprint_column(text_col).alias("fingerprint"))
        .agg(
            F.min(id_col).cast("bigint").alias(id_col),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
    )


# ---------------------------------------------------- exact n-gram Jaccard


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via an inverted shingle index.

    → (doc_id_a, doc_id_b, jaccard) with doc_id_a < doc_id_b and
    jaccard ≥ threshold. Jaccard is |∩| / (|A|+|B|−|∩|) over DISTINCT
    word n-grams — a single integer division, so the value is
    bit-identical across engines.
    """
    sh = shingle_rows(documents, n=n, id_col=id_col, text_col=text_col)
    if max_shingle_freq is not None:
        freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
        sh = sh.join(freq.where(F.col("__df") <= max_shingle_freq).select("s"), "s")
    # the inverted index feeds three consumers (sizes + both join sides):
    # materialize it once instead of recomputing the shingle subtree per
    # branch (at cluster scale: persist/stage-cache the index)
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def weighted_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    num: int = 4,
    den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = 50,
) -> DataFrame:
    """df-WEIGHTED (soft) Jaccard near-dup pairs (r12): each distinct
    word n-gram carries the integer rarity weight ``w(s) = D − df(s) +
    1`` (D = corpus document count), so two docs agreeing on RARE
    shingles score far higher than two sharing boilerplate — the
    weighted-set-similarity refinement of :func:`ngram_jaccard_pairs`
    (Chaudhuri et al. 2006 generalize the prefix filter to exactly this
    weighted form). similarity = Σ_{s∈A∩B} w(s) / Σ_{s∈A∪B} w(s), both
    sums exact BIGINTs, the union sum via inclusion-exclusion; the
    threshold gate is the integer cross-multiplication ``den·w∩ ≥
    num·w∪`` (no float-boundary rows), and the emitted DOUBLE is one
    division.

    Same inverted-index scale shape as the unweighted form: candidates
    only from shared shingles, hot shingles df-capped (the weighting
    makes the cap principled — the capped stop-shingles are exactly
    the weight-≈0 ones). → (doc_id_a, doc_id_b, weighted_jaccard)."""
    # the corpus total D folds in as a broadcast 1-row aggregate (the
    # etl_token_budget_select recipe) — no eager count() job at
    # plan-build time, and no extra corpus scan beyond the plan's own
    total = documents.agg(F.count(F.lit(1)).cast("bigint").alias("__D"))
    sh = shingle_rows(documents, n=n, id_col=id_col, text_col=text_col)
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    if max_shingle_freq is not None:
        freq = freq.where(F.col("__df") <= max_shingle_freq)
    weights = freq.crossJoin(F.broadcast(total)).select(
        "s",
        (F.col("__D") - F.col("__df") + F.lit(1)).cast("bigint").alias("__w"),
    )
    # weighted inverted index feeds three consumers (sizes + both join
    # sides): pin once. persist, NOT localCheckpoint — a lazy local
    # checkpoint still materializes every upstream AQE stage at BUILD
    # time (toRdd forces the query stages), while persist launches
    # nothing until the consumer's own action; every consumer here is
    # an order-insensitive aggregate, so a cache-eviction recompute
    # cannot change the answer
    shw = sh.join(weights, "s").persist()
    sizes = shw.groupBy("doc_id").agg(
        F.sum("__w").cast("bigint").alias("w_tot")
    )
    a, b = shw.alias("a"), shw.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.sum(F.col("a.__w")).cast("bigint").alias("w_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("w_tot").alias("w_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("w_tot").alias("w_b"))
    w_union = F.col("w_a") + F.col("w_b") - F.col("w_common")
    return (
        common.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .where(F.lit(den) * F.col("w_common") >= F.lit(num) * w_union)
        .select(
            "doc_id_a",
            "doc_id_b",
            (F.col("w_common").cast("double") / w_union).alias(
                "weighted_jaccard"
            ),
        )
    )


def edit_verified_pairs(
    documents: DataFrame,
    n: int = 3,
    candidate_threshold: float = 0.5,
    max_shingle_freq: int | None = 50,
    num: int = 1,
    den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Two-stage near-dup detection: CANDIDATES from the inverted
    shingle index at a loose Jaccard bound, then VERIFICATION by full
    edit distance — the candidate→verify pipeline production dedup
    runs (bag-of-shingles recall first, an order-sensitive exact
    measure as the decider: shingle Jaccard cannot distinguish a
    reshuffled document from a near-identical one; Levenshtein can).

    Keeps pairs with ``lev(text_a, text_b) · den ≤ max(len_a, len_b) ·
    num`` (default: edit distance within 20% of the longer text) —
    an INTEGER cross-multiplication gate, no float-threshold boundary
    rows. → (doc_id_a, doc_id_b, lev_dist BIGINT), a < b.

    Scale shape: stage 1 is :func:`ngram_jaccard_pairs` (df-capped
    index — candidate volume bounded); stage 2 joins the candidate
    pairs back to both texts (two SF-scaled equi-joins, unhinted) and
    runs Levenshtein JVM-side ONLY on candidates — verification cost
    is candidates × O(len²), never corpus²."""
    cands = ngram_jaccard_pairs(
        documents,
        n=n,
        threshold=candidate_threshold,
        id_col=id_col,
        text_col=text_col,
        max_shingle_freq=max_shingle_freq,
    ).select("doc_id_a", "doc_id_b")
    docs = documents.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.col(text_col).alias("__t"),
    )
    j = cands.join(
        docs.select(F.col("doc_id").alias("doc_id_a"), F.col("__t").alias("__ta")),
        "doc_id_a",
    ).join(
        docs.select(F.col("doc_id").alias("doc_id_b"), F.col("__t").alias("__tb")),
        "doc_id_b",
    )
    return (
        j.withColumn("lev_dist", F.levenshtein("__ta", "__tb").cast("bigint"))
        .where(
            F.col("lev_dist") * den
            <= F.greatest(F.length("__ta"), F.length("__tb")).cast("bigint") * num
        )
        .select("doc_id_a", "doc_id_b", "lev_dist")
    )


# ------------------------------------------ prefix-filtered exact Jaccard


def prefix_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: tuple[int, int] = (4, 5),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact Jaccard-similar pairs via AllPairs/PPJoin-style PREFIX
    filtering (Chaudhuri et al. SSJoin 2006; Bayardo et al. WWW 2007) —
    the LOSSLESS candidate pruner, where ``ngram_jaccard_pairs``'s
    df-cap is lossy.

    → (doc_id_a, doc_id_b, jaccard), doc_id_a < doc_id_b, jaccard ≥
    num/den over DISTINCT word n-grams of the FULL (uncapped) sets.

    Why this is exact: order the shingle universe globally (ascending
    document frequency, shingle string tie-break). For a doc with
    ``m`` distinct shingles, Jaccard ≥ t against ANY partner forces
    |A∩B| ≥ ⌈t·m⌉, so the minimum common shingle under the global
    order has ≥ ⌈t·m⌉−1 intersection elements above it — its rank
    within the doc is ≤ m−⌈t·m⌉+1. Index ONLY those first
    m−⌈t·m⌉+1 shingles per doc (the "prefix"); every qualifying
    pair is guaranteed to collide on some prefix shingle of BOTH
    docs. A second lossless cut — den·min(m_a,m_b) ≥ num·max — drops
    size-incompatible collisions before dedup. Survivors are verified
    with an exact intersection count over the full sets.

    Scale shape: the global order puts RARE shingles first, so prefix
    posting lists are short by construction — stop-phrase shingles
    (huge df) sort last and almost never enter a prefix, which is the
    structural fix for the quadratic hot-shingle blowup that forces
    the df-cap in the plain inverted index. Candidate volume ≈
    Σ_s df_prefix(s)², verification is candidates × doc size. The
    threshold is a rational num/den: ⌈t·m⌉ = (num·m+den−1) DIV den
    stays in integers (0.8 is not exact in binary — float ceil would
    misdecide boundary sizes), and the final filter is the integer
    cross-multiplication den·|∩| ≥ num·|∪|.
    """
    num, den = threshold
    sh = shingle_rows(documents, n=n, id_col=id_col, text_col=text_col)
    # the shingle stream feeds the df count, the prefix index, and the
    # verify join — materialize once
    sh = sh.localCheckpoint(eager=False)
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    # unhinted: the frequency table is vocabulary-sized (grows with the
    # corpus); AQE broadcasts it only while statistics say it fits
    ordered = sh.join(dfreq, "s")
    w_rank = Window.partitionBy(id_col).orderBy(F.col("__df"), F.col("s"))
    w_all = Window.partitionBy(id_col)
    ranked = ordered.select(
        F.col(id_col),
        "s",
        F.row_number().over(w_rank).alias("__r"),
        F.count(F.lit(1)).over(w_all).alias("__m"),
    )
    # prefix length m − ⌈t·m⌉ + 1, all-integer
    alpha = F.expr(f"({num} * __m + {den} - 1) DIV {den}")
    prefix = ranked.where(F.col("__r") <= F.col("__m") - alpha + 1)
    prefix = prefix.localCheckpoint(eager=False)  # both sides of the self-join
    pa = prefix.select(
        F.col(id_col).alias("doc_id_a"), "s", F.col("__m").alias("n_a")
    )
    pb = prefix.select(
        F.col(id_col).alias("doc_id_b"), "s", F.col("__m").alias("n_b")
    )
    cand = (
        pa.join(pb, "s")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        # lossless length filter: J ≤ min/max, so J ≥ num/den needs
        # den·min ≥ num·max
        .where(
            F.expr(f"{den} * least(n_a, n_b) >= {num} * greatest(n_a, n_b)")
        )
        .select("doc_id_a", "doc_id_b", "n_a", "n_b")
        .distinct()
    )
    fa = sh.select(F.col(id_col).alias("doc_id_a"), "s")
    fb = sh.select(F.col(id_col).alias("doc_id_b"), "s")
    common = (
        cand.join(fa, "doc_id_a")
        .join(fb, ["doc_id_b", "s"])
        .groupBy("doc_id_a", "doc_id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    union_sz = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return (
        common.where(F.col("n_common") * den >= F.lit(num) * union_sz)
        .select(
            "doc_id_a",
            "doc_id_b",
            (F.col("n_common").cast("double") / union_sz).alias("jaccard"),
        )
    )


# ----------------------------------------------- persisted store plumbing


def _ensure_bucketed_store(
    spark,
    store_table: str,
    schema_sql: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Create-or-reattach a persisted bucketed parquet store.

    The session catalog is in-memory: a table written by a PRIOR
    session is invisible to tableExists, but its files still sit at the
    table location. That store IS accumulated history ("the corpus
    arrives in batches forever"), so never destroy it: re-register the
    existing files with the same bucket spec — the bucket layout is a
    deterministic function of (hash, n_buckets), so a CREATE TABLE ...
    CLUSTERED BY over them restores both the history and the
    Exchange-free store-side read. Only a location with no parquet
    store in it (stale partial junk) is cleared and bootstrapped empty.
    ``path`` makes the store an external table (location independent of
    the session's warehouse dir / cwd writability)."""
    if spark.catalog.tableExists(store_table):
        return
    import shutil
    from urllib.parse import urlparse

    loc = path or os.path.join(
        urlparse(spark.conf.get("spark.sql.warehouse.dir")).path or "spark-warehouse",
        store_table.lower(),
    )
    has_prior_store = os.path.isdir(loc) and any(
        f.startswith("part-") and f.endswith(".parquet") for f in os.listdir(loc)
    )
    if not has_prior_store:
        # no parquet store here: clear stale partial junk; the DDL
        # below then registers an EMPTY external bucketed table —
        # catalog-only, no Spark job (bootstrapping by writing an empty
        # bucketed frame cost a full 16-task write per fresh store,
        # ~2 s of the dedup_incremental bench entry — r12)
        shutil.rmtree(loc, ignore_errors=True)
    spark.sql(
        f"CREATE TABLE {store_table} ({schema_sql}) "
        f"USING parquet CLUSTERED BY ({', '.join(bucket_cols)}) "
        f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
    )


# ------------------------------------------- line-level boilerplate (CCNet)


def suppress_boilerplate_lines(
    lines: DataFrame,
    max_df: int | None = None,
    rel_df_denominator: int = 100,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style line-level boilerplate removal: drop every line whose
    corpus-wide occurrence count exceeds a threshold (navigation bars,
    cookie banners, license headers — the text that repeats verbatim
    across millions of pages), then reassemble each document from its
    surviving lines in order.

    Input is a (doc_id, line_id, line) frame from
    ``functions/text.py::split_lines`` (real newline corpora) or
    ``chunk_token_lines`` (pseudo-lines). Threshold: ``max_df`` if
    given, else ``greatest(2, n_docs DIV rel_df_denominator)`` computed
    from the data — corpus-relative, so the semantics are stable across
    scale factors.

    Scale shape: one shuffle keys lines by content hash for the
    frequency count (map-side combined); the frequency join back is
    unhinted — the df table is line-vocabulary-sized and grows with the
    corpus (the text_rarity_score lesson), so AQE picks the strategy.
    The exploded lines frame feeds both the frequency count and the
    flagged stream, so it is materialized once (§6b-4) instead of
    re-running the explode per consumer; passing ``corpus`` (one row
    per document) lets the relative threshold come from a plain count
    instead of a third pass over the lines. Reassembly is ONE per-doc
    aggregation: counts and the ordered text concat ride the same
    groupBy (collect_list skips the NULLs the keep CASE produces), so
    there is no second pass over the lines and no join-back.
    → (doc_id, clean_text, n_lines_kept, n_lines_dropped).
    """
    lines = lines.localCheckpoint(eager=False)
    freq = lines.groupBy("line").agg(F.count(F.lit(1)).alias("__df"))
    flagged = lines.join(freq, "line")
    if max_df is not None:
        flagged = flagged.withColumn("__thr", F.lit(int(max_df)).cast("bigint"))
    else:
        base = corpus.select(F.lit(1)) if corpus is not None else (
            lines.select("doc_id").distinct()
        )
        thr = base.agg(
            F.expr(
                f"greatest(CAST(2 AS BIGINT), "
                f"count(1) DIV {int(rel_df_denominator)}) AS __thr"
            )
        )
        # scalar aggregate → structurally bounded broadcast
        flagged = flagged.join(F.broadcast(thr))
    flagged = flagged.withColumn("__keep", F.col("__df") <= F.col("__thr"))
    return reassemble_kept_lines(flagged)


def dedup_intradoc_lines(lines: DataFrame) -> DataFrame:
    """WITHIN-document repeated-line removal — the intra-doc twin of
    :func:`suppress_boilerplate_lines` (Lee et al. 2022 note repeated
    paragraphs inside a single page are their own duplication class:
    templated lists, scraper stutter, chat transcripts echoing):
    keep only the FIRST occurrence of each distinct line inside a
    document, preserve order, reassemble.

    Scale shape: zero corpus-wide state — the keep flag is a
    row_number window over (doc_id, line) and the reassembly groups by
    doc_id, and BOTH distributions are satisfied by the line frame's
    existing hash(doc_id) partitioning (Spark's subset rule: a
    hash(doc_id) partitioning clusters any (doc_id, …) key), so the
    whole operator adds NO Exchange after the line split — pinned in
    tests/test_corpus_ops.py. → (doc_id, clean_text, n_lines_kept,
    n_lines_dropped).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id", "line").orderBy("line_id")
    flagged = lines.withColumn("__keep", F.row_number().over(w) == 1)
    return reassemble_kept_lines(flagged)


def reassemble_kept_lines(flagged: DataFrame) -> DataFrame:
    """(doc_id, line_id, line, __keep) → (doc_id, clean_text,
    n_lines_kept, n_lines_dropped): counts and the ordered text concat
    ride ONE groupBy (collect_list skips the NULLs the keep CASE
    produces). Shared by the batch operator and the streaming twin.

    The transform/array_sort lambdas are interpreted and re-evaluate
    their input per element, but they run over the per-doc COLLECTED
    array (tens of lines), never over a corpus-sized structure — the
    64-permutation trap (§6b-1) does not apply at this cardinality."""
    return flagged.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "CASE WHEN __keep THEN struct(line_id, line) END)), "
            "x -> x.line), ' ')"
        ).alias("clean_text"),
        F.sum(F.col("__keep").cast("bigint")).alias("n_lines_kept"),
        F.sum((~F.col("__keep")).cast("bigint")).alias("n_lines_dropped"),
    )


def remove_duplicated_spans(documents: DataFrame, n: int = 5) -> DataFrame:
    """Exact-substring dedup actually APPLIED (Lee et al. 2022): delete
    every token covered by a corpus-duplicated ``n``-token shingle
    (occurring ≥2 times anywhere — cross- or within-doc) and rebuild
    each document from the survivors. The removal twin of the
    dup-span STATS operator (queries.py::text_dup_span_stats): stats
    inform a keep/drop policy; this one excises the copied spans while
    keeping the unique remainder — what production substring dedup does
    to boilerplate-wrapped pages.

    Coverage semantics: token at position t is removed iff SOME
    duplicated shingle starts in [t−n+1, t] — computed as a doc-
    partitioned MAX over an n-row window on the per-token frame (every
    position has a row, so ROWS BETWEEN is exact).

    Scale shape: one posexplode+lead window builds tokens AND shingle
    starts together (functions/text.py::token_rows_with_shingle); the
    occurrence count is a map-side-combined groupBy to shingle
    vocabulary; its join-back is UNHINTED (Heaps' law); the coverage
    window and the reassembly group by doc_id. → (doc_id, clean_text,
    n_tokens_kept, n_tokens_removed).
    """
    from etl_dag_spark.functions.text import token_rows_with_shingle

    toks = token_rows_with_shingle(documents, n=n).localCheckpoint(eager=False)
    occ = (
        toks.where(F.col("s").isNotNull())
        .groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__occ"))
    )
    fl = toks.join(occ, "s", "left").select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(F.col("__occ") >= 2, F.lit(False)).cast("int").alias("__dup"),
    )
    wcov = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(n - 1), 0)
    covered = fl.select(
        "doc_id", "pos", "tok", (F.max("__dup").over(wcov) == 1).alias("__cov")
    )
    return covered.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "CASE WHEN NOT __cov THEN struct(pos, tok) END)), "
            "x -> x.tok), ' ')"
        ).alias("clean_text"),
        F.sum((~F.col("__cov")).cast("bigint")).alias("n_tokens_kept"),
        F.sum(F.col("__cov").cast("bigint")).alias("n_tokens_removed"),
    )


def _lcp_col(a: Column, b: Column) -> Column:
    """Token-level longest-common-prefix length of two (non-null-element)
    string arrays, 0 when either side is NULL — pure Column algebra.
    The zip_with lambda runs interpreted, but over ≤cap-element arrays
    (bounded per row), not a corpus-sized structure — the §6b-1
    interpreted-HOF trap does not apply at this cardinality."""
    mn = F.least(F.size(a), F.size(b))
    neq = F.zip_with(F.slice(a, 1, mn), F.slice(b, 1, mn), lambda x, y: x != y)
    p = F.array_position(neq, F.lit(True))  # 0 = no mismatch in min-prefix
    return (
        F.when(a.isNull() | b.isNull(), F.lit(0))
        .otherwise(F.when(p == 0, mn).otherwise(p - 1))
        .cast("int")
    )


def _py_lcp(a, b) -> int:
    m = min(len(a), len(b))
    i = 0
    while i < m and a[i] == b[i]:
        i += 1
    return i


def suffix_dup_spans(
    documents: DataFrame,
    cap: int = 16,
    min_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT duplicated-span profile by distributed suffix sorting —
    Lee et al. 2022's exact-substring algorithm (suffix array over the
    corpus; arXiv:2107.06499 §4.1) re-expressed as a Spark range
    shuffle, complementing the hashed-shingle approximation of
    :func:`remove_duplicated_spans` (hash collisions can over-mark
    there; here actual token strings are compared, so there are no
    false positives by construction).

    Per document: ``max_dup_span`` — the length (in tokens, capped at
    ``cap``) of the longest token span that occurs ≥2 times anywhere in
    the corpus (any doc, including itself) — and ``n_dup_starts`` — how
    many token positions start a duplicated span of length ≥
    ``min_len``. → (doc_id, max_dup_span INT, n_dup_starts BIGINT),
    one row per document.

    Algorithm: each token position contributes its ``cap``-token
    truncated suffix (one collect_list window pass); suffixes are
    RANGE-partitioned and sorted on the token-array key (Spark orders
    array<string> lexicographically — exactly suffix order); by the
    suffix-array adjacency property, a suffix's max LCP with ANY other
    suffix equals the max of its LCPs with its two sorted neighbors —
    one lag + one lead in a __pid-local window, LCP as bounded Column
    algebra (:func:`_lcp_col`). The ≤2 rows per partition edge whose
    neighbor lives across the boundary are collected (2·P rows, P =
    partitions — bounded driver state) and their cross-partition LCP
    resolved driver-side, the same two-phase global-order discipline as
    ``windows._ranged_row_number``, including its PIN rule: the ranged
    frame is consumed by two jobs (edge collect + main aggregate), and
    repartitionByRange samples its boundaries, so the frame is
    localCheckpoint-pinned before the first consumer.

    Scale shape: ONE range shuffle of cap-token suffix keys (~cap× the
    token bytes — vs the cap×-row explode AND cap×-string shuffle of
    the shingle-ladder formulation the oracle uses), two window passes
    that share one sort, a bounded driver exchange, and a final
    map-side-combined groupBy(doc_id). No Python row stage; the only
    Python is the ≤2·P boundary LCPs."""
    spark = documents.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    toks = documents.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.posexplode(tokens_column(text_col)).alias("pos", "tok"),
    )
    wl = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, cap - 1)
    # Pin the suffix frame BEFORE ranging: repartitionByRange runs a
    # sampling job over its child, which would otherwise re-evaluate
    # the collect_list window a second time (measured 2× the stage
    # cost), and a pinned child also makes the sampled boundaries
    # stable across the two downstream jobs.
    suf = toks.select(
        "doc_id", F.collect_list("tok").over(wl).alias("sfx")
    ).localCheckpoint(eager=False)
    ranged = suf.repartitionByRange(n_parts, F.col("sfx")).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy("sfx")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # ONE interpreted-LCP evaluation per row: lcp-with-next(i) equals
    # lcp-with-prev(i+1), so the lag-side LCP is computed once and
    # shifted with lead() in a second projection over the SAME sort
    # (no exchange between them → identical physical row order, so the
    # shifted pairing is consistent even among tied suffix keys).
    s1 = ranged.select(
        "doc_id",
        "__pid",
        "sfx",
        F.row_number().over(w).alias("__lrn"),
        F.count(F.lit(1)).over(wall).alias("__cnt"),
        _lcp_col(F.col("sfx"), F.lag("sfx").over(w)).alias("__lp"),
    )
    is_first, is_last = F.col("__lrn") == 1, F.col("__lrn") == F.col("__cnt")
    scored = s1.select(
        "doc_id",
        "__pid",
        "__lrn",
        # greatest() skips the NULL a partition-tail lead() produces
        F.greatest(F.col("__lp"), F.lead("__lp").over(w)).alias("lcp"),
        is_first.alias("__first"),
        is_last.alias("__last"),
        # suffix kept ONLY for partition-edge rows (driver needs it)
        F.when(is_first | is_last, F.col("sfx")).alias("__esfx"),
    ).localCheckpoint(eager=False)  # pinned: read by edge-collect AND main agg
    edge_rows = (
        scored.where(F.col("__first") | F.col("__last"))
        .select("__pid", "__lrn", "doc_id", "lcp", "__esfx")
        .collect()
    )
    by_pid: dict[int, dict[int, object]] = {}
    for r in edge_rows:
        by_pid.setdefault(r["__pid"], {})[r["__lrn"]] = r
    pids = sorted(by_pid)
    boundary: dict[tuple[int, int], int] = {}
    for i in range(len(pids) - 1):
        p, q = pids[i], pids[i + 1]
        last_r = by_pid[p][max(by_pid[p])]
        first_r = by_pid[q][min(by_pid[q])]
        b = _py_lcp(last_r["__esfx"], first_r["__esfx"])
        for key in ((p, last_r["__lrn"]), (q, first_r["__lrn"])):
            boundary[key] = max(boundary.get(key, 0), b)
    corr = [
        (r["doc_id"], max(r["lcp"], boundary.get((r["__pid"], r["__lrn"]), 0)))
        for r in edge_rows
    ]
    per_pos = scored.where(~F.col("__first") & ~F.col("__last")).select(
        "doc_id", "lcp"
    )
    if corr:
        per_pos = per_pos.unionByName(
            spark.createDataFrame(corr, "doc_id long, lcp int")
        )
    return per_pos.groupBy("doc_id").agg(
        F.max("lcp").cast("int").alias("max_dup_span"),
        F.sum((F.col("lcp") >= min_len).cast("bigint")).alias("n_dup_starts"),
    )


# --------------------------------------------------- contamination check


def contamination_pairs(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 4,
    min_common: int = 2,
    max_shingle_freq: int | None = 50,
    eval_bounded: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination detection: (train_doc_id, eval_doc_id,
    n_common) for every train document sharing ≥ ``min_common``
    distinct word-``n``-grams with an eval document.

    The join is a shingle-hash equi-join of the (huge) train side
    against the eval side; the df-cap (``max_shingle_freq``, computed
    over the union so stop-phrase grams never go quadratic) bounds
    candidate volume at eval-shingles × cap.

    ``eval_bounded=True`` is the caller's DECLARATION that the eval set
    is a fixed benchmark suite (a few thousand docs regardless of
    corpus size) — only then is the eval shingle set broadcast-hinted.
    An eval side that scales with the corpus (e.g. a percentage slice)
    must stay unhinted so AQE can degrade to a shuffled hash join.
    """
    sh_t = shingle_rows(train_docs, n=n, id_col=id_col, text_col=text_col, distinct=True)
    sh_e = shingle_rows(eval_docs, n=n, id_col=id_col, text_col=text_col, distinct=True)
    if max_shingle_freq is not None:
        union = sh_t.select("s").unionAll(sh_e.select("s"))
        ok = (
            union.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_shingle_freq)
            .select("s")
        )
        sh_t = sh_t.join(ok, "s")
        sh_e = sh_e.join(ok, "s")
    train = sh_t.select(F.col(id_col).alias("train_doc_id"), "s")
    ev = sh_e.select(F.col(id_col).alias("eval_doc_id"), "s")
    if eval_bounded:
        ev = F.broadcast(ev)
    return (
        train.join(ev, "s")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


# ------------------------------------------------------------ MinHash/LSH

_MERSENNE_P = (1 << 61) - 1
_HASH_SPACE = 1 << 31


def _perm_coeffs(k: int, seed: int) -> tuple[list[int], list[int]]:
    rng = random.Random(seed)
    return (
        [rng.randrange(1, _HASH_SPACE) for _ in range(k)],
        [rng.randrange(0, _HASH_SPACE) for _ in range(k)],
    )


def minhash_signatures(
    documents: DataFrame,
    n: int = 3,
    k: int = 64,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """k-permutation MinHash signatures as ``k`` long columns h0..h{k-1}.

    Shape: explode distinct word n-gram shingles → base hash reduced to
    31 bits → ``groupBy(doc_id)`` with k ``min()`` aggregates, one per
    permutation (a·x+b) mod 2^61−1 (all within int64, ANSI-safe:
    a, x < 2^31 so a·x+b < 2^63).

    ``hash_fn``: ``"xxhash64"`` (JVM-native, fastest — the library
    default) or ``"md5"`` — the engine-portable 32-bit-digest-slice
    bridge (CLAUDE.md scheme) that lets a DuckDB oracle replay the
    signatures bit-for-bit; the permutation algebra is pure int64
    arithmetic either way.

    Everything is whole-stage-codegen (hash + min aggregates) — no
    interpreted lambda per permutation. At scale the map-side partial
    aggregation collapses each doc's shingles to k longs locally, so
    the shuffle volume is O(docs × k), the same as the signatures
    themselves. Docs with fewer than ``n`` tokens have no shingles and
    drop out (they cannot be near-dups under this measure).
    """
    a_coef, b_coef = _perm_coeffs(k, seed)
    if hash_fn == "md5":
        base = F.expr("CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)")
    else:
        base = F.xxhash64("s")
    sh_rows = shingle_rows(
        documents, n=n, id_col=id_col, text_col=text_col, distinct=False
    ).select("doc_id", F.pmod(base, F.lit(_HASH_SPACE)).alias("h"))
    mins = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(_MERSENNE_P))).alias(f"h{j}")
        for j, (a, b) in enumerate(zip(a_coef, b_coef))
    ]
    return sh_rows.groupBy("doc_id").agg(*mins)


def minhash_band_buckets(
    documents: DataFrame,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH band buckets as rows: (doc_id, band, bucket) — ``bands``
    rows per document, where ``bucket`` identifies the band's slice of
    the MinHash signature. The banded layout is both the candidate-join
    key and the natural bucketed-storage layout for a persistent
    signature store (:func:`incremental_minhash_dedup`).

    In ``hash_fn="xxhash64"`` mode (default) the bucket is the 64-bit
    hash of the slice (compact shuffle key). In ``"md5"`` mode the
    bucket is the slice's comma-joined VALUE STRING — collision-free
    and exactly replayable by a DuckDB oracle (the hash is a shuffle
    optimization, not semantics); the heavier key is acceptable on the
    oracle-registered path."""
    rows_per_band = k // bands
    sig = minhash_signatures(
        documents, n=n, k=k, seed=seed, id_col=id_col, text_col=text_col,
        hash_fn=hash_fn,
    )

    def slice_key(i: int):
        joined = F.concat_ws(
            ",",
            *[
                F.col(f"h{j}").cast("string")
                for j in range(i * rows_per_band, (i + 1) * rows_per_band)
            ],
        )
        return joined if hash_fn == "md5" else F.xxhash64(joined)

    band_structs = [
        F.struct(F.lit(i).alias("band"), slice_key(i).alias("bucket"))
        for i in range(bands)
    ]
    return sig.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH candidate generation + exact Jaccard verification.

    → (doc_id_a, doc_id_b, jaccard) — same contract as
    :func:`ngram_jaccard_pairs`, but candidates come from LSH band
    buckets, so the shuffle is O(docs × bands) instead of the inverted
    index's O(docs × shingles). With k=64, bands=16 (r=4) the collision
    probability at jaccard 0.8 is ≈ 1−(1−0.8⁴)¹⁶ ≈ 0.9997.
    ``hash_fn="md5"`` makes the whole pipeline engine-portable (see
    :func:`minhash_signatures` / :func:`minhash_band_buckets`).
    """
    banded = minhash_band_buckets(
        documents, n=n, k=k, bands=bands, seed=seed, id_col=id_col,
        text_col=text_col, hash_fn=hash_fn,
    )

    # cap pathological buckets (stop-phrase storms) — required at scale
    w = Window.partitionBy("band", "bucket")
    banded = banded.withColumn("__bsz", F.count(F.lit(1)).over(w)).where(
        F.col("__bsz") <= max_bucket_size
    ).drop("__bsz")
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_id_a"), F.col("r.doc_id").alias("doc_id_b"))
        .distinct()
    )

    sh_arrays = (
        shingle_rows(documents, n=n, id_col=id_col, text_col=text_col, distinct=False)
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("sh"))  # collect_set dedupes itself
    )
    sh_a = sh_arrays.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh_arrays.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sh_a, "doc_id_a")
        .join(sh_b, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified


# ------------------------------------------------- near-dup clustering


def cluster_pairs(
    pairs: DataFrame,
    documents: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over near-dup ``pairs`` → one cluster id per
    document (the min doc_id in its component) and a keep flag for the
    canonical representative — the step that turns pairwise similarity
    into an actual deduplicated corpus.

    CONTRACT: both endpoints of every pair must come from
    ``documents[id_col]`` — true for every caller in this repo (pairs
    are derived from the same frame). On contract-violating input the
    two physical paths differ in how a stray endpoint's edges merge
    components: the distributed fixpoint leaves a stray endpoint inert
    (it has no label row), while the driver union-find merges through
    it, and its id can become a cluster_id.

    ADAPTIVE physical strategy (``operators/adaptive.py``): only nodes
    that appear in some pair can change label — the matched subgraph,
    typically a tiny fraction of a mostly-unique corpus. When the
    (deduplicated) edge count is at most ``_DRIVER_MAX_EDGES`` (one
    ``limit`` probe of the already-checkpointed edge frame), min-label
    components are solved DRIVER-SIDE with one union-find pass over the
    collected edges — replacing the fixpoint's per-round Spark jobs
    (join + scalar-aggregate per round) whose scheduler overhead
    dominates at small candidate volumes. Above the bound, the
    distributed min-label fixpoint below runs over the TOUCHED subgraph
    only (untouched docs are their own cluster by construction and never
    enter the iteration) — the 100 TB path never collects a
    corpus-scaled frame. The two strategies are equal by
    construction (union-by-min keeps each tree's root at the component
    minimum) and pinned equal in tests/test_dedup_recall.py.

    Distributed path: iterative min-label propagation — each round
    every touched node adopts the smallest label among itself and its
    neighbors; fixpoint in O(component diameter) rounds (near-dup
    components are tiny — chains of copies — so this is 2-3 rounds in
    practice). Labels live in a (node, label) frame shuffled by node;
    edges are symmetrized once. Driver state is one scalar per round.

    → (doc_id, cluster_id, is_canonical)
    """
    spark = documents.sparkSession
    half = (
        pairs.select(
            F.col("doc_id_a").cast("bigint").alias("u"),
            F.col("doc_id_b").cast("bigint").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    all_nodes = documents.select(F.col(id_col).cast("bigint").alias("node"))

    # union-by-min is insensitive to edge order (the component min is
    # the min under any union order)
    small = collect_if_small("cluster_pairs", half, _DRIVER_MAX_EDGES)
    if small is not None:
        parent: dict[int, int] = {}

        def _find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for u, v in zip(small["u"].to_pylist(), small["v"].to_pylist()):
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = _find(u), _find(v)
            if ru != rv:
                # union by MIN label: the root of every tree is its
                # component's minimum id, so find() IS the cluster id
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        nodes = sorted(parent)
        decided = local_frame(
            spark,
            {"node": nodes, "__lbl": [_find(x) for x in nodes]},
            "node bigint, __lbl bigint",
        )
        # single-scan assembly (r15): the decided map is a broadcast
        # LocalRelation, so ONE pass over the corpus id column labels
        # every node — replacing the labels semi-join + untouched
        # anti-join + union (two corpus scans and two joins) of the
        # distributed path. A stray decided id (endpoint not in
        # documents) simply never matches the left join.
        return all_nodes.join(F.broadcast(decided), "node", "left").select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("__lbl"), F.col("node")).alias("cluster_id"),
            (F.col("node") == F.coalesce(F.col("__lbl"), F.col("node"))).alias(
                "is_canonical"
            ),
        )

    edges = (
        half.unionByName(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=False)
    )
    touched = edges.select(F.col("u").alias("node")).distinct()
    labels = (
        all_nodes.join(touched, "node", "left_semi")
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    prev_sum = None
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # labels only ever decrease, so the label sum is a strictly
        # monotone convergence witness: one scalar aggregate per round
        # (carried in a driver variable) instead of an old-vs-new join
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(f"components did not converge in {max_iter} rounds")
    untouched = all_nodes.join(labels.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("label")
    )
    return labels.unionByName(untouched).select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


# ------------------------------------------- incremental dedup w/ store


def _greedy_keep_from_edges(edges: pa.Table) -> dict[int, bool]:
    """Sequential-greedy keep decisions over collected (u, v) match
    edges (u < v): ascending id order, a node is DROPPED iff it matches
    some earlier node that itself SURVIVED. Returns the decision for
    every TOUCHED node (nodes with no edge are KEEP by definition and
    absent here). Shared by :func:`greedy_earliest_survivors`'s driver
    branch and :func:`incremental_minhash_dedup`'s fast path, so the
    two can never drift."""
    smaller: dict[int, list[int]] = {}
    for u, v in zip(edges["u"].to_pylist(), edges["v"].to_pylist()):
        smaller.setdefault(v, []).append(u)
    keep: dict[int, bool] = {}
    for node in sorted(set(smaller) | {u for us in smaller.values() for u in us}):
        keep[node] = not any(keep.get(u, True) for u in smaller.get(node, []))
    return keep


def greedy_earliest_survivors(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 30,
) -> DataFrame:
    """Deterministic sequential-greedy dedup decision, distributed:
    processing nodes in ascending id order, a node is DROPPED iff it
    matches some earlier node that itself SURVIVED — the lexicographic
    greedy maximal independent set of the match graph. This is the rule
    that makes incremental dedup split-invariant: the survivor set of
    ``A ∪ B`` (ids of A below B) equals survivors(A) followed by
    survivors(B given survivors(A)'s store).

    ``edges``: (u, v) matches with u < v and BOTH endpoints in
    ``nodes`` (the callers prune to the undecided set first).
    ``nodes``: one ``node`` column. → (node, keep).

    ADAPTIVE physical strategy (``operators/adaptive.py``): only nodes
    that appear in some edge need any decision logic — the matched
    subgraph, typically a small fraction of a mostly-unique batch. When
    its edge count is at most ``_DRIVER_MAX_EDGES`` (one ``limit`` probe
    of the already-checkpointed edge frame), the exact sequential greedy
    runs DRIVER-SIDE in one pass over the collected edges — replacing
    the fixpoint's per-round Spark jobs (count + join per round) whose
    scheduler overhead dominates at small sizes (measured 3.6 s → ~0.3 s per ingest batch
    at sf0.1). Above the bound, the distributed fixpoint below runs
    unchanged — the 100 TB path never collects a corpus-scaled frame;
    the two strategies are equal by construction and pinned equal in
    tests/test_properties.py.

    Fixed-point iteration (no driver graph state): a node becomes KEEP
    when every smaller-id neighbor is DROP (or it has none), DROP when
    any smaller-id neighbor is KEEP; rounds needed = longest dependency
    chain (near-dup chains are short — 2-3 in practice). Frontier
    frames stay lazily checkpointed so each round's plan is flat, not a
    replay of every prior join (the round-1 hierarchy lesson).
    """
    # state: 0 = undecided, 1 = keep, -1 = drop
    e = edges.select(F.col("u").cast("bigint").alias("u"), F.col("v").cast("bigint").alias("v"))
    e = e.localCheckpoint(eager=False)
    all_nodes = nodes.select(F.col("node").cast("bigint").alias("node"))
    # only nodes that appear in some edge need the fixpoint; everything
    # else is KEEP immediately — the iteration frames stay sized to the
    # matched subgraph (tiny), not the batch
    touched = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    untouched = all_nodes.join(touched, "node", "left_anti").withColumn(
        "state", F.lit(1)
    )
    # the greedy keep map sorts nodes itself, so collect order is
    # irrelevant
    small = collect_if_small("greedy_earliest_survivors", e, _DRIVER_MAX_EDGES)
    if small is not None:
        keep = _greedy_keep_from_edges(small)
        decided = local_frame(
            edges.sparkSession,
            {"node": list(keep), "state": [1 if k else -1 for k in keep.values()]},
            "node bigint, state int",
        )
        return decided.unionByName(untouched).select(
            "node", (F.col("state") == 1).alias("keep")
        )
    states = all_nodes.join(touched, "node", "left_semi").withColumn(
        "state", F.lit(0)
    ).localCheckpoint(eager=False)
    for _ in range(max_iter):
        n_undec = states.where(F.col("state") == 0).count()
        if n_undec == 0:
            break
        pred = (
            e.join(states.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(
                F.max((F.col("state") == 1).cast("int")).alias("any_keep"),
                F.max((F.col("state") == 0).cast("int")).alias("any_undec"),
            )
        )
        states = (
            states.join(pred, "node", "left")
            .select(
                "node",
                F.when(F.col("state") != 0, F.col("state"))
                .when(F.coalesce(F.col("any_keep"), F.lit(0)) == 1, F.lit(-1))
                .when(F.coalesce(F.col("any_undec"), F.lit(0)) == 0, F.lit(1))
                .otherwise(F.lit(0))
                .alias("state"),
            )
            .localCheckpoint(eager=False)
        )
    else:
        raise RuntimeError(f"greedy survivor fixpoint not reached in {max_iter} rounds")
    return states.unionByName(untouched).select(
        "node", (F.col("state") == 1).alias("keep")
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    store_table: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    min_band_matches: int = 3,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_store_buckets: int = 16,
    append: bool = True,
    path: str | None = None,
) -> DataFrame:
    """Deduplicate a NEW batch of documents against a persisted MinHash
    signature store, then append the survivors' signatures — the
    production LLM-ingest shape: the corpus arrives in batches forever,
    and full-corpus re-deduplication at 100 TB is not an option.

    The store (``store_table``) is a bucketed parquet table of LSH band
    buckets (doc_id, band, bucket), ``bucketBy(n_store_buckets, band,
    bucket)`` via the same mechanism as
    :func:`sources.sinks.overwrite_bucketed_table` — so the
    candidate-generation join reads the store WITHOUT an Exchange on
    the store side (asserted in tests/test_incremental_dedup.py); only
    the (small) new batch shuffles to the bucket layout.

    Match rule: two docs match when ≥ ``min_band_matches`` of their
    ``bands`` band buckets collide — a pure signature-store decision
    (no shingle re-verification, so the store never keeps text).
    Expected collisions at Jaccard J are bands·J^(k/bands); defaults
    (16 bands × 4 rows, ≥3) fire w.h.p. above J≈0.75 and almost never
    below J≈0.5. Integer-exact, so engine- and order-deterministic.

    Decision rule within and across batches is the sequential greedy of
    :func:`greedy_earliest_survivors` — matching a store doc drops the
    new doc outright (store docs are survivors by construction, i.e.
    already KEEP); in-batch matches resolve in ascending id order.
    Batch-split invariance — dedup(A∪B) == dedup(A) then dedup(B) for
    id-ordered splits — is proven in the test module.

    Returns (doc_id, keep, matched_store); survivors' band buckets are
    appended to the store when ``append``.

    Three size gates (``operators/adaptive.py``) pick the physical
    plan; results are bit-identical on every branch
    (tests/test_incremental_dedup.py, tests/test_bloom.py):

    - the Bloom prefilter engages only once the store's on-disk size
      exceeds ``_BLOOM_STORE_BYTES`` — below it the plain bucket
      join is already trivial and the filter build is pure overhead;
    - store hits up to ``_DRIVER_MAX_HITS`` rows and pruned batch match
      edges up to ``_DRIVER_MAX_EDGES`` rows are decided on the driver
      (see the inline note on the fast path).
    """
    spark = new_docs.sparkSession
    nb = minhash_band_buckets(
        new_docs, n=n, k=k, bands=bands, seed=seed, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=False)

    _ensure_bucketed_store(
        spark, store_table, "doc_id BIGINT, band INT, bucket BIGINT",
        ["band", "bucket"], n_store_buckets, path,
    )
    store = spark.table(store_table)

    # bootstrap fast path: a store with no data files (first batch of a
    # fresh ingest) can match nothing — skip the Bloom build AND the
    # store-probe join outright instead of executing them against zero
    # rows (driver-side file listing, no job; identical results — r12)
    store_files = store.inputFiles()
    if not store_files:
        store_hits = local_frame(spark, {"doc_id": []}, "doc_id bigint")
    else:
        # Bloom pre-filter on the store probe: a fresh crawl's buckets
        # mostly MISS the store at scale, and the words table (≤ bits/64
        # rows by construction) turns those misses into a map-only drop
        # before the sort-merge store join. No false negatives, so
        # results are bit-identical with the filter off (pinned in
        # tests/test_bloom.py); only the hits path uses the filtered
        # frame.
        #
        # SIZE-GATED: the filter build (one store scan + a words
        # aggregate + k probe joins) measured ~2-3 s/batch at bench SF.
        # The gate reads the store's on-disk bytes from the bootstrap
        # check's driver-side listing, stopping past the bound.
        nb_probe = nb
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        jvm = spark.sparkContext._jvm
        total = 0
        fs = None
        for f in store_files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            if fs is None:  # one FileSystem handle for the listing
                fs = p.getFileSystem(hconf)
            # a file unlinked between inputFiles() and the stat
            # (concurrent compaction/vacuum) counts as size 0 — the
            # gate is a heuristic, never worth failing a batch
            try:
                total += fs.getFileStatus(p).getLen()
            except Exception:
                continue
            if total > _BLOOM_STORE_BYTES:
                break
        if not on_driver(
            "incremental_minhash_dedup.bloom", total, _BLOOM_STORE_BYTES
        ):
            from etl_dag_spark.operators.bloom import (
                bloom_filter_words,
                bloom_prefilter,
            )

            # materialize the words table ONCE: each of the k broadcast
            # joins otherwise re-executes the whole build subplan (store
            # scan + explode + bit_or) per broadcast exchange
            words = bloom_filter_words(
                store, ["band", "bucket"], num_bits=_BLOOM_BITS
            ).localCheckpoint(eager=False)
            nb_probe = bloom_prefilter(
                nb, words, ["band", "bucket"], num_bits=_BLOOM_BITS
            )

        store_hits = (
            nb_probe.join(
                store.select(
                    F.col("band"), F.col("bucket"), F.col("doc_id").alias("__sid")
                ),
                ["band", "bucket"],
            )
            .groupBy("doc_id", "__sid")
            .agg(F.count(F.lit(1)).alias("nb_match"))
            .where(F.col("nb_match") >= min_band_matches)
            .select("doc_id")
            .distinct()
            # pinned: store_hits feeds BOTH the greedy's undecided set
            # and the final result projection — unpinned, the result
            # job re-runs the Bloom prefilter + store join a second
            # time (r14; ~1.5 s/batch of pure recompute at sf0.1).
            # persist(), not localCheckpoint: consumers are
            # order-insensitive (a set of ids) and a lazy
            # localCheckpoint would force every upstream AQE stage at
            # PLAN BUILD time (the weighted_jaccard_pairs lesson,
            # SURVEY §6b-7). The frame is matched-doc-ids-sized.
            .persist()
        )

    l, r = nb.alias("l"), nb.alias("r")
    batch_edges = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(F.col("l.doc_id").alias("u"), F.col("r.doc_id").alias("v"))
        .agg(F.count(F.lit(1)).alias("nb_match"))
        .where(F.col("nb_match") >= min_band_matches)
        .select("u", "v")
    )

    ids = new_docs.select(F.col(id_col).cast("bigint").alias("node")).distinct()

    # ADAPTIVE fast path (r15, VERDICT r14 #2): when the store-hit set
    # and the in-batch match edges BOTH fit the driver bounds (one
    # limit probe each over already-pinned frames), every decision input
    # becomes a DRIVER value — store hits a collected id set, greedy
    # keep decisions the shared :func:`_greedy_keep_from_edges` map —
    # and the returned result frame is one scan of the batch plus two
    # broadcast joins of LocalRelations. That removes the eager result
    # checkpoint (8-9 scheduler jobs and ~1-1.8 s per batch at sf0.1)
    # outright, with a STRONGER post-append correctness argument than
    # the checkpoint gave: the fast-path result plan contains no store
    # read at all (the hit ids are literal values), so re-evaluating it
    # after this batch's append cannot see the batch's own survivors
    # as store matches. Above either bound the r14 shape runs
    # unchanged — distributed greedy, eager checkpoint before append.
    hit_ids: set[int] | None = set()
    if store_files:
        hits = collect_if_small(
            "incremental_minhash_dedup.hits", store_hits, _DRIVER_MAX_HITS
        )
        hit_ids = None if hits is None else set(hits["doc_id"].to_pylist())

    keep_map: dict[int, bool] | None = None
    if hit_ids is not None:
        dropped_df = local_frame(spark, {"node": sorted(hit_ids)}, "node bigint")
        if hit_ids:
            # edge endpoints are ⊆ batch ids by construction (the nb
            # self-join), so pruning edges to undecided×undecided is
            # exactly an anti-join against the dropped set — broadcast
            # of a LocalRelation, no extra shuffle
            pruned = (
                batch_edges.withColumnRenamed("u", "node")
                .join(F.broadcast(dropped_df), "node", "left_anti")
                .withColumnRenamed("node", "u")
                .withColumnRenamed("v", "node")
                .join(F.broadcast(dropped_df), "node", "left_anti")
                .withColumnRenamed("node", "v")
            )
        else:
            pruned = batch_edges
        e_small = pruned.select(
            F.col("u").cast("bigint"), F.col("v").cast("bigint")
        ).localCheckpoint(eager=False)
        small = collect_if_small(
            "incremental_minhash_dedup.edges", e_small, _DRIVER_MAX_EDGES
        )
        if small is not None:
            keep_map = _greedy_keep_from_edges(small)

    if keep_map is not None:
        if store_files:
            store_hits.unpersist()  # hit set captured as literal values
        hits_df = dropped_df.withColumn("__sd", F.lit(True))
        keep_df = local_frame(
            spark,
            {"node": list(keep_map), "__gk": list(keep_map.values())},
            "node bigint, __gk boolean",
        )
        result = (
            ids.join(F.broadcast(hits_df), "node", "left")
            .join(F.broadcast(keep_df), "node", "left")
            .select(
                F.col("node").alias("doc_id"),
                F.when(F.col("__sd"), F.lit(False))
                .otherwise(F.coalesce(F.col("__gk"), F.lit(True)))
                .alias("keep"),
                F.coalesce(F.col("__sd"), F.lit(False)).alias("matched_store"),
            )
        )
        if append:
            # survivors = batch ids minus (store hits ∪ greedy drops):
            # an anti-join of nb against the driver-known non-survivor
            # set — nb's doc_ids are ⊆ batch ids, and docs without
            # signature rows have nothing to append either way
            non_surv = sorted(
                hit_ids | {n for n, k in keep_map.items() if not k}
            )
            ns_df = local_frame(spark, {"doc_id": non_surv}, "doc_id bigint")
            nb.join(F.broadcast(ns_df), "doc_id", "left_anti").write.mode(
                "append"
            ).bucketBy(n_store_buckets, "band", "bucket").format(
                "parquet"
            ).saveAsTable(store_table)
        return result

    # distributed path (store hits or match edges above the driver
    # bounds): the r14 shape, unchanged
    store_dropped = store_hits.select(F.col("doc_id").alias("node"))
    undecided = ids.join(store_dropped, "node", "left_anti")
    # edges between two store-dropped docs are irrelevant; edges FROM a
    # store-dropped doc must not drop its in-batch successors (the
    # earlier doc did not survive), so prune edges to undecided×undecided
    batch_edges = (
        batch_edges.join(undecided.withColumnRenamed("node", "u"), "u")
        .join(undecided.withColumnRenamed("node", "v"), "v")
    )
    decided = greedy_earliest_survivors(batch_edges, undecided)

    result = (
        ids.join(store_dropped.withColumn("__sd", F.lit(True)), "node", "left")
        .join(decided.withColumnRenamed("keep", "__gk"), "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("__gk"), F.lit(False)).alias("keep"),
            F.coalesce(F.col("__sd"), F.lit(False)).alias("matched_store"),
        )
    )

    if append:
        # materialize BEFORE appending: the result plan reads the store
        # table, and a lazy consumer executing after the append would
        # otherwise see this batch's own survivors as store matches
        result = result.localCheckpoint(eager=True)
        survivors = result.where(F.col("keep")).select("doc_id")
        nb.join(survivors, "doc_id").write.mode("append").bucketBy(
            n_store_buckets, "band", "bucket"
        ).format("parquet").saveAsTable(store_table)
    return result


def simhash_signatures(
    documents: DataFrame,
    bands: int = 4,
    bits_per_band: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash as ``bands`` long columns b0..b{bands-1}, each holding a
    ``bits_per_band``-bit slice of the hash.

    Bit i of the hash is the sign of Σ_tokens (2·bit_i(hash(tok))−1).
    Shape: explode tokens → 64 ``sum()`` bit-counter aggregates per doc
    (codegen hash-agg, map-side partial — shuffle is O(docs × bits)) →
    assemble band ints with plain arithmetic. Banding into multiple ints
    (instead of one 64-bit int) avoids int64 sign-bit overflow under
    ANSI mode and is the layout LSH needs anyway. Tokenization always
    yields ≥1 token (empty text → one empty-string token), so no doc
    drops out of the groupBy.

    ``hash_fn``: ``"xxhash64"`` (JVM-native, fastest) or ``"md5"`` —
    the engine-portable bridge (CLAUDE.md hash scheme: 32-bit slices of
    the hex digest) that a DuckDB oracle can replay bit-for-bit; one
    digest per token feeds up to 128 bits via codegen subexpression
    elimination, so the cost delta is one md5 per token.
    """
    total_bits = bands * bits_per_band
    ids = documents.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.explode(tokens_column(text_col)).alias("t"),
    )
    if hash_fn == "md5":
        if total_bits > 128:
            raise ValueError("md5 bridge provides at most 128 bits")
        n_slices = (total_bits + 31) // 32
        tok_rows = ids.select(
            "doc_id",
            *[
                F.expr(
                    f"CAST(conv(substring(md5(concat('sh:', t)),"
                    f" {1 + 8 * j}, 8), 16, 10) AS BIGINT)"
                ).alias(f"h{j}")
                for j in range(n_slices)
            ],
        )
        sums = [
            F.sum(
                (F.bit_get(F.col(f"h{i // 32}"), F.lit(i % 32)) * 2 - 1).cast("long")
            ).alias(f"s{i}")
            for i in range(total_bits)
        ]
    else:
        tok_rows = ids.select("doc_id", F.xxhash64("t").alias("h"))
        sums = [
            F.sum((F.bit_get(F.col("h"), F.lit(i)) * 2 - 1).cast("long")).alias(f"s{i}")
            for i in range(total_bits)
        ]
    bitsums = tok_rows.groupBy("doc_id").agg(*sums)
    band_cols = []
    for b in range(bands):
        band = F.lit(0).cast("long")
        for i in range(bits_per_band):
            band = band + F.when(
                F.col(f"s{b * bits_per_band + i}") > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        band_cols.append(band.alias(f"b{b}"))
    return bitsums.select("doc_id", *band_cols)


def banded_hamming_pairs(
    sig: DataFrame,
    bands: int,
    max_hamming: int,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Near-dup pairs over any banded bit signature (doc_id, b0..b{bands-1}):
    candidates share at least one identical band (any pair with hamming
    ≤ bands−1 is guaranteed to collide by pigeonhole), verified by full
    hamming distance ≤ ``max_hamming``. Shared by SimHash (text) and
    pHash (image) — the candidate volume is bucket-bounded either way.

    → (doc_id_a, doc_id_b, hamming)
    """
    band_structs = [
        F.struct(F.lit(i).alias("band"), F.col(f"b{i}").alias("bucket"))
        for i in range(bands)
    ]
    banded = sig.select(
        "doc_id",
        *[F.col(f"b{i}") for i in range(bands)],
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select(
        "doc_id",
        *[F.col(f"b{i}") for i in range(bands)],
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    w = Window.partitionBy("band", "bucket")
    banded = banded.withColumn("__bsz", F.count(F.lit(1)).over(w)).where(
        F.col("__bsz") <= max_bucket_size
    ).drop("__bsz")

    l, r = banded.alias("l"), banded.alias("r")
    hamming = F.lit(0).cast("long")
    for i in range(bands):
        hamming = hamming + F.bit_count(
            F.col(f"l.b{i}").bitwiseXOR(F.col(f"r.b{i}"))
        ).cast("long")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id_a"),
            F.col("r.doc_id").alias("doc_id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits_per_band: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 2000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash over text: banded candidates + hamming
    verify via :func:`banded_hamming_pairs`.

    → (doc_id_a, doc_id_b, hamming)
    """
    sig = simhash_signatures(
        documents, bands=bands, bits_per_band=bits_per_band,
        id_col=id_col, text_col=text_col, hash_fn=hash_fn,
    )
    return banded_hamming_pairs(
        sig, bands=bands, max_hamming=max_hamming, max_bucket_size=max_bucket_size
    )


# ------------------------------------------------------ winnowing (MOSS)

def winnow_fingerprints(
    documents: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every positional k-gram,
    then in each sliding window of ``w`` consecutive hashes keep the
    minimum; the distinct kept hashes are the document's fingerprints.
    Guarantee: any shared run of ≥ w+k−1 tokens between two documents
    shares at least one fingerprint, while only ~2/(w+1) of the k-gram
    hashes are retained — the principled way to subsample shingles
    WITHOUT losing long-match detection (random subsampling loses it).

    → (doc_id, fp) distinct, fp an engine-portable unsigned-32-bit
    md5 hash (CLAUDE.md scheme), so a DuckDB oracle replays selection
    bit-for-bit.

    Contract: documents shorter than k+w−1 tokens have no full window
    and yield no fingerprints — route short docs to exact dedup
    (their whole text is cheaper than any sketch).

    Scale shape: positional shingles ride the posexplode + lead()
    codegen window (doc_id-partitioned); the min-of-window is the SAME
    doc_id partitioning (no extra Exchange); distinct is per
    (doc, fp) — output is ~2/(w+1) of the shingle volume, and the
    document bodies never shuffle.
    """
    from etl_dag_spark.functions.text import shingle_rows_pos

    sh = shingle_rows_pos(documents, n=k, id_col=id_col, text_col=text_col)
    h = F.expr("CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)")
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    return (
        sh.withColumn("h", h)
        .withColumn("fp", F.min("h").over(win))
        .where(F.col("pos") >= w - 1)
        .select("doc_id", "fp")
        .distinct()
    )


def winnowing_pairs(
    documents: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs from shared winnowing fingerprints:
    the inverted-index self-join shape of ngram_jaccard_pairs, but over
    the winnowed ~2/(w+1) subsample instead of every shingle — same
    long-match guarantee, a fraction of the index size.

    → (doc_id_a, doc_id_b, n_shared), a < b, n_shared ≥ ``min_shared``.

    Fingerprints present in more than ``max_fp_df`` documents are
    boilerplate (stop-phrase storms) and are dropped before the join —
    the df-cap that bounds per-key candidate fan-out at web scale, same
    policy as the LSH bucket cap.
    """
    fp = winnow_fingerprints(documents, k=k, w=w, id_col=id_col, text_col=text_col)
    # the fingerprint index feeds three consumers (df-cap + both join
    # sides): materialize it once instead of re-running the corpus
    # scan→window→distinct per branch (same stage-cache policy as
    # ngram_jaccard_pairs' inverted index above)
    fp = fp.localCheckpoint(eager=False)
    dfreq = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    kept = fp.join(dfreq.where(F.col("df") <= max_fp_df).select("fp"), "fp")
    a = kept.select(F.col("fp").alias("fp"), F.col("doc_id").alias("doc_id_a"))
    b = kept.select(F.col("fp").alias("fp"), F.col("doc_id").alias("doc_id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
