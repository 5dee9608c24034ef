"""Distributed BPE training (operators/bpe.py): the learned merge
sequence must EQUAL a literal reference Python BPE on the same
word-type table, and apply_bpe must reproduce the trained segmentation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_dag_spark.operators.bpe import apply_bpe, train_bpe, word_type_table
from etl_dag_spark.sources.tables import load_table

from tests.conftest import SF_DIR


def _reference_bpe(word_counts: dict[str, int], num_merges: int):
    """Classic dictionary BPE (Sennrich et al.), deterministic
    tiebreak (count desc, pair asc) — the ground truth the distributed
    trainer must match exactly."""
    reprs = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for w, syms in reprs.items():
            c = word_counts[w]
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] = pairs.get((x, y), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), pc = best
        if pc < 2:
            break
        merges.append((rank, a, b, a + b, pc))
        for w, syms in reprs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            reprs[w] = out
    return merges, reprs


def test_merge_sequence_equals_reference_on_crafted_corpus(spark):
    """The Sennrich teaching example plus repeats: every (rank, pair,
    count) must match the sequential reference exactly."""
    docs = spark.createDataFrame(
        [
            (1, "low low low low low"),
            (2, "lower lower widest widest widest"),
            (3, "newest newest newest newest newest newest"),
        ],
        "doc_id long, text string",
    )
    got = [
        (r.rank, r.left, r.right, r.merged, r.pair_count)
        for r in train_bpe(docs, num_merges=12).orderBy("rank").collect()
    ]
    wc = {
        r.w: r.c
        for r in word_type_table(docs).collect()
    }
    want, _ = _reference_bpe(wc, 12)
    assert got == want
    assert len(got) > 0


def test_merge_sequence_equals_reference_on_documents_table(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    got = [
        (r.rank, r.left, r.right, r.merged, r.pair_count)
        for r in train_bpe(docs, num_merges=8).orderBy("rank").collect()
    ]
    wc = {r.w: r.c for r in word_type_table(docs).collect()}
    want, _ = _reference_bpe(wc, 8)
    assert got == want and len(got) == 8


def test_apply_reproduces_reference_segmentation_counts(spark):
    """Applying the learned merges corpus-side must give each document
    the token count implied by the reference's final word
    segmentations."""
    docs = spark.createDataFrame(
        [
            (1, "low low lower"),
            (2, "newest widest"),
            (3, "low"),
        ],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "low low low low low"),
            (2, "lower lower widest widest widest"),
            (3, "newest newest newest newest newest newest"),
        ],
        "doc_id long, text string",
    )
    merges_rows = train_bpe(train, num_merges=10).orderBy("rank").collect()
    merges = [(r.left, r.right) for r in merges_rows]
    wc = {r.w: r.c for r in word_type_table(train).collect()}
    _, reprs = _reference_bpe(wc, 10)

    got = {r.doc_id: r.n_bpe_tokens for r in apply_bpe(docs, merges).collect()}
    def seg_len(word: str) -> int:
        if word in reprs:
            return len(reprs[word])
        # unseen word: replay merges left-to-right
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(syms[i]); i += 1
            syms = out
        return len(syms)
    want = {
        r.doc_id: sum(seg_len(w) for w in r.text.split())
        for r in docs.collect()
    }
    assert got == want


def test_word_type_cap_bounds_state(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    assert word_type_table(docs, max_word_types=5).count() == 5


def test_adaptive_paths_learn_identical_merges(spark, both_paths):
    """The driver-solve path (bounded word-type collect + incremental
    dictionary BPE) and the forced distributed merge loop must learn
    the identical merge table — rank, pair, merged symbol, and count."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    drv, dist = both_paths(
        lambda: [
            (r.rank, r.left, r.right, r.merged, r.pair_count)
            for r in train_bpe(docs, num_merges=6).orderBy("rank").collect()
        ],
        {"train_bpe"},
    )
    assert drv == dist and len(drv) == 6
