"""Distributed BPE (byte-pair encoding) vocabulary training — the
tokenizer-induction step of an LLM data pipeline, expressed as iterative
DataFrame algebra.

Industrial BPE trainers (GPT-2's, SentencePiece's BPE mode) do NOT scan
the raw corpus per merge: they first collapse the corpus to a WORD-TYPE
table (word, count) and run every merge iteration against that — the
corpus is touched exactly once. The same shape here:

1. one corpus pass builds (word, count), optionally capped to the top
   ``max_word_types`` by count (exact TakeOrdered top-k) so the
   iteration state is bounded no matter the corpus;
2. each merge iteration counts adjacent symbol pairs (slice +
   arrays_zip self-shift + explode — all codegen, ONE map-side-combined
   shuffle, no per-word window), takes the argmax with a deterministic
   tiebreak (count desc, pair asc) via TakeOrderedAndProject, and
   applies the merge with a single literal ``F.replace`` on the
   space-separated symbol string (left-to-right non-overlapping —
   exactly classic BPE's convention);
3. the merge list is the ONLY driver state: one row per iteration,
   bounded by ``num_merges``.

No Python touches row data at any point — the per-iteration work is a
vocab-sized codegen job. The merge sequence is asserted EQUAL to a
literal reference Python BPE in tests/test_bpe.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_dag_spark.functions.text import tokens_column
from etl_dag_spark.operators.adaptive import local_frame, on_driver

# train_bpe runs its merges on the driver when the word-type cap is at
# most this many rows
_DRIVER_MAX_WORD_TYPES = 200_000


def word_type_table(
    documents: DataFrame,
    text_col: str = "text",
    max_word_types: int | None = 100_000,
) -> DataFrame:
    """(word, count) over the corpus — the single corpus pass of BPE
    training. ``max_word_types`` caps the iteration state (exact top-k
    by count with word as tiebreak: TakeOrderedAndProject, no global
    sort)."""
    w = (
        documents.select(F.explode(tokens_column(text_col)).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if max_word_types is not None:
        w = w.orderBy(F.col("c").desc(), F.col("w")).limit(int(max_word_types))
    return w


def _driver_bpe(word_counts: dict[str, int], num_merges: int) -> list[tuple]:
    """Sequential BPE over a collected word-type table — the identical
    algorithm the distributed loop runs (argmax by (count desc, pair
    asc), left-to-right non-overlapping merge, stop when best < 2),
    with INCREMENTAL pair-count maintenance: only words containing the
    merged pair are re-counted per iteration (the classic dictionary-
    BPE trainer shape), so 30 merges over 100k types run in well under
    a second of driver time instead of 30 scheduler-bound Spark jobs.

    Exactness: integer counts, and the maintained pair-count dict is
    element-for-element the full recount (a merge (a,b) destroys only
    pairs inside affected words and creates only pairs touching the new
    symbol; after a left-to-right pass no (a,b) adjacency survives, so
    the (a,b) entry drains to zero and is dropped). Python string
    comparison (code points) orders exactly like Spark's UTF8String
    (UTF-8 byte order preserves code-point order), so tiebreaks agree.
    Pinned equal to tests/test_bpe.py::_reference_bpe and to the forced
    distributed path.
    """
    syms_l = [list(w) for w in word_counts]
    cnts = list(word_counts.values())
    pair_counts: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(syms_l):
        c = cnts[wi]
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            index.setdefault(p, set()).add(wi)
    merges: list[tuple] = []
    for rank in range(num_merges):
        if not pair_counts:
            break
        (a, b), pc = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if pc < 2:
            break
        merges.append((rank, a, b, a + b, int(pc)))
        for wi in sorted(index.get((a, b), ())):
            syms, c = syms_l[wi], cnts[wi]
            for p in zip(syms, syms[1:]):
                left = pair_counts[p] - c
                if left:
                    pair_counts[p] = left
                else:
                    del pair_counts[p]
                s = index.get(p)
                if s is not None:
                    s.discard(wi)
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms_l[wi] = out
            for p in zip(out, out[1:]):
                pair_counts[p] = pair_counts.get(p, 0) + c
                index.setdefault(p, set()).add(wi)
    return merges


def _merge_frame(spark: SparkSession, merges: list[tuple]) -> DataFrame:
    """The learned merge table as a local relation."""
    cols = ("rank", "left", "right", "merged", "pair_count")
    return local_frame(
        spark,
        {c: [m[i] for m in merges] for i, c in enumerate(cols)},
        "rank int, left string, right string, merged string, pair_count bigint",
    )


def train_bpe(
    documents: DataFrame,
    num_merges: int = 30,
    text_col: str = "text",
    max_word_types: int | None = 100_000,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the
    merge table (rank INT, left STRING, right STRING, merged STRING,
    pair_count BIGINT) in learned order. Stops early when no pair
    occurs twice.

    Determinism: the argmax tiebreak is (count desc, left asc,
    right asc) and merge application is left-to-right non-overlapping,
    so the learned sequence is a pure function of the word-type table.

    ADAPTIVE physical strategy (``operators/adaptive.py``): the
    iteration state is the word-type table, which is BOUNDED BY
    CONTRACT at ``max_word_types`` rows (exact top-k, an operator
    constant — never SF-scaled). When that bound is at most
    ``_DRIVER_MAX_WORD_TYPES``, collect the table ONCE and run the
    merges in :func:`_driver_bpe` — replacing ``num_merges``
    scheduler-bound Spark jobs (one TakeOrdered per merge) with a single
    bounded collect. An UNCAPPED trainer (``max_word_types=None``) or a
    cap above the driver bound runs the distributed loop unchanged;
    tests/test_bpe.py pins the two paths (and the literal reference)
    merge-for-merge equal.
    """
    spark = documents.sparkSession
    words = word_type_table(documents, text_col, max_word_types)
    if on_driver("train_bpe", max_word_types, _DRIVER_MAX_WORD_TYPES):
        pdf = words.toPandas()
        wc = {str(w): int(c) for w, c in zip(pdf["w"], pdf["c"])}
        return _merge_frame(spark, _driver_bpe(wc, int(num_merges)))
    # symbol string: characters separated by DOUBLE spaces, double-space
    # padded. The double separator is load-bearing: a merge pattern
    # " a  b " consumes one space from each side and its replacement
    # " ab " restores the invariant, so CONSECUTIVE occurrences
    # ([a,b,a,b]) all match in one left-to-right replace pass — with
    # single spaces the shared boundary space makes replace miss every
    # other occurrence.
    reprs = words.select(
        F.concat(
            F.lit("  "),
            # (?!^)(?!$): split strictly BETWEEN characters — the plain
            # lookbehind-free "(?!^)" also matches the end-of-string
            # position and leaves a trailing empty element
            F.array_join(F.split(F.col("w"), "(?!^)(?!$)"), "  "),
            F.lit("  "),
        ).alias("r"),
        F.col("c"),
    ).localCheckpoint(eager=True)

    merges: list[tuple] = []
    # Adjacent-pair counting is SHUFFLE-MINIMAL (r14): zip each word's
    # symbol array against itself shifted by one (slice + arrays_zip —
    # plain codegen expressions, no interpreted lambda, no per-word
    # window sort), explode the pairs, and aggregate — ONE map-side-
    # combined shuffle per merge instead of the previous
    # posexplode → per-word window (repartition by word id) → groupBy
    # two-shuffle shape. The frontier checkpoints LAZILY every few
    # merges instead of eagerly every merge: the chained literal
    # replaces are cheap codegen, so the next count job folds the
    # materialization in — halving the per-merge job count again.
    syms = F.split(F.trim("r"), "  ")
    pair_rows = F.explode(
        F.arrays_zip(
            F.slice(syms, 1, F.size(syms) - 1).alias("sym"),
            F.slice(syms, 2, F.size(syms) - 1).alias("nxt"),
        )
    )
    pending = 0
    for i in range(int(num_merges)):
        best = (
            reprs.select(pair_rows.alias("pr"), F.col("c"))
            .select(
                F.col("pr").getField("sym").alias("sym"),
                F.col("pr").getField("nxt").alias("nxt"),
                "c",
            )
            .groupBy("sym", "nxt")
            .agg(F.sum("c").alias("pc"))
            .orderBy(F.col("pc").desc(), F.col("sym"), F.col("nxt"))
            .limit(1)
            .collect()
        )
        if not best or best[0].pc < 2:
            break
        a, b, pc = best[0].sym, best[0].nxt, best[0].pc
        merges.append((i, a, b, a + b, int(pc)))
        reprs = reprs.select(
            F.replace(
                F.col("r"), F.lit(f" {a}  {b} "), F.lit(f" {a + b} ")
            ).alias("r"),
            "c",
        )
        pending += 1
        if pending == 6:  # bound the replace-chain depth (codegen size)
            reprs = reprs.localCheckpoint(eager=False)
            pending = 0
    return _merge_frame(spark, merges)


def apply_bpe(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Segment the corpus with a learned merge list: per document, the
    BPE token count — one chained codegen expression (a literal replace
    per merge) over a single scan; the merge list is bounded driver
    state, never a join.

    Word boundaries become a sentinel symbol (``␟``) BEFORE the
    per-character spacing, so no merge can span words (training never
    sees the sentinel, so no merge pattern contains it). All string
    ops are non-regex literals except the one zero-width char-split —
    no interpreted lambdas anywhere on the corpus path."""
    normalized = F.regexp_replace(F.trim(F.col(text_col)), " +", " ")
    r = F.concat(
        F.lit("  "),
        F.regexp_replace(
            F.replace(normalized, F.lit(" "), F.lit("␟")), "(?!^)", "  "
        ),
        F.lit("  "),
    )
    for a, b in merges:
        r = F.replace(r, F.lit(f" {a}  {b} "), F.lit(f" {a + b} "))
    n_symbols = F.size(F.split(F.trim(r), "  "))
    n_words = F.size(tokens_column(text_col))
    return documents.select(
        F.col(id_col).cast("bigint").alias(id_col),
        # sentinel symbols are not tokens: one per word boundary
        (n_symbols - (n_words - 1)).cast("bigint").alias("n_bpe_tokens"),
    )
