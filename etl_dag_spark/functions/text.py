"""Text-analysis expressions: tokenization, shingles, quality metrics,
language-ID scoring, fingerprints.

Everything here is a pure ``Column`` expression over built-in
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen-friendly, no
Python in the hot path. Each helper has a DuckDB-SQL twin (suffix
``_sql``) generated from the same constants, so the correctness oracle
and the Spark plan share one source of truth.

Scale note: all of these are narrow (per-row) transformations — they
pipeline with the scan and never shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword list used for quality scoring (small on purpose — the point
# is the ratio computation pattern, swappable for a real list).
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "on", "for"]

# Marker words per language for the n-gram-heuristic language ID.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "das", "nicht", "ist", "ein"],
    "en": ["the", "and", "of", "is", "a", "to", "it"],
    "es": ["el", "la", "de", "que", "los", "una", "es"],
    "fr": ["le", "la", "et", "les", "des", "une", "est"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"],
}
_LANG_ORDER = sorted(LANG_MARKERS)  # deterministic tie-break: first wins


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------- tokens

def tokens_column(text: Column | str) -> Column:
    """Whitespace tokens, with runs of spaces collapsed first."""
    return F.split(F.regexp_replace(F.trim(_col(text)), " +", " "), " ")


def tokens_sql(text_expr: str) -> str:
    return f"string_split(regexp_replace(trim({text_expr}), ' +', ' ', 'g'), ' ')"


def token_count_column(text: Column | str) -> Column:
    return F.size(tokens_column(text)).cast("bigint")


def token_count_sql(text_expr: str) -> str:
    return f"CAST(len({tokens_sql(text_expr)}) AS BIGINT)"


# -------------------------------------------------------------- shingles

def shingles_column(text: Column | str, n: int = 3, distinct: bool = True) -> Column:
    """Word ``n``-gram shingles as an array<string>; empty array when the
    document has fewer than ``n`` tokens."""
    toks = tokens_column(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    out = F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(out) if distinct else out


def shingle_rows(
    documents, n: int = 3, id_col: str = "doc_id", text_col: str = "text",
    distinct: bool = True,
):
    """Word n-gram shingles as ROWS: (doc_id, s), distinct by default.

    Pass ``distinct=False`` when the consumer is dedup-insensitive
    (min()/collect_set() aggregates) — the global dedupe shuffle is
    pure waste there (3× the stage cost at sf0.1).

    posexplode + lead() window instead of the array-lambda formulation
    (:func:`shingles_column`): higher-order functions evaluate
    interpreted, while this shape is all codegen — ~4× faster per scan.
    The window's doc_id hash-partitioning is also exactly what a
    downstream per-doc aggregation (MinHash, sketch) needs, so that
    groupBy becomes shuffle-free. Docs with fewer than ``n`` tokens
    yield no rows.
    """
    from pyspark.sql import Window

    toks = tokens_column(text_col)
    tk = documents.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.posexplode(toks).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    out = (
        tk.select(
            "doc_id",
            F.concat_ws(" ", *leads).alias("s"),
            leads[-1].alias("__last"),
        )
        .where(F.col("__last").isNotNull())
        .select("doc_id", "s")
    )
    return out.distinct() if distinct else out


def shingle_rows_pos(
    documents, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
):
    """Positional word n-gram shingles: (doc_id, pos, s) with ``pos``
    the 0-based token offset of the shingle's first token — consecutive
    shingles have consecutive ``pos``, which is what position-aware
    consumers (winnowing fingerprint selection, duplicated-span run
    statistics) need. Same posexplode + lead() codegen shape as
    :func:`shingle_rows`; NOT distinct by construction.
    """
    from pyspark.sql import Window

    tk = documents.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.posexplode(tokens_column(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    return (
        tk.select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.concat_ws(" ", *leads).alias("s"),
            leads[-1].alias("__last"),
        )
        .where(F.col("__last").isNotNull())
        .select("doc_id", "pos", "s")
    )


def token_rows_with_shingle(
    documents, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
):
    """Every token position plus the shingle STARTING there:
    (doc_id, pos, tok, s) with ``s`` NULL for the last n−1 positions
    (no full shingle starts there). The input shape for span REMOVAL —
    a consumer needs the token to rebuild text and the shingle-start
    flag to decide coverage. Same single posexplode + lead() window as
    :func:`shingle_rows_pos`."""
    from pyspark.sql import Window

    tk = documents.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.posexplode(tokens_column(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    return tk.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        "tok",
        F.when(leads[-1].isNotNull(), F.concat_ws(" ", *leads)).alias("s"),
    )


def token_rows_with_shingle_sql(n: int = 3) -> str:
    """DuckDB twin of :func:`token_rows_with_shingle` as a FROM-able
    fragment over a CTE exposing (doc_id, tk): yields
    (doc_id, pos, tok, s)."""
    return (
        f"SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk[i] AS tok, "
        f"CASE WHEN i + {n - 1} <= len(tk) "
        f"THEN array_to_string(list_slice(tk, i, i + {n - 1}), ' ') END AS s "
        f"FROM tk, unnest(range(1, len(tk) + 1)) AS u(i)"
    )


def shingle_rows_pos_sql(text_expr: str, n: int = 3) -> str:
    """DuckDB twin of :func:`shingle_rows_pos` as a FROM-able fragment
    over a CTE exposing (doc_id, tk): yields (doc_id, pos, s)."""
    return (
        f"SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, "
        f"array_to_string(list_slice(tk, i, i + {n - 1}), ' ') AS s "
        f"FROM tk, unnest(range(1, greatest(len(tk) - {n - 1}, 0) + 1)) AS u(i)"
    )


def split_lines(
    documents, sep: str = "\n", id_col: str = "doc_id", text_col: str = "text"
):
    """Documents exploded to physical lines: (doc_id, line_id, line) with
    line_id the 0-based position. The input shape for CCNet-style
    line-level boilerplate removal
    (operators/dedup.py::suppress_boilerplate_lines) on corpora that
    HAVE line structure. ``sep`` is a Java regex (the default matches
    literal newlines)."""
    return documents.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("line_id", "line"),
    ).select("doc_id", F.col("line_id").cast("bigint").alias("line_id"), "line")


def chunk_token_lines(
    documents, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
):
    """Deterministic pseudo-lines for corpora WITHOUT newline structure:
    consecutive ``n``-token chunks as rows (doc_id, line_id, line); the
    final chunk may be shorter. Same posexplode + lead() codegen shape
    as :func:`shingle_rows` (stride ``n`` instead of 1) — the window's
    doc_id partitioning is what any downstream per-doc aggregation
    wants, so that groupBy is shuffle-free."""
    from pyspark.sql import Window

    tk = documents.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.posexplode(tokens_column(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    return (
        tk.select("doc_id", "pos", F.concat_ws(" ", *leads).alias("line"))
        .where(F.col("pos") % n == 0)
        .select("doc_id", F.expr(f"pos DIV {n}").alias("line_id"), "line")
    )


def shingles_sql(text_expr: str, n: int = 3, distinct: bool = True) -> str:
    toks = tokens_sql(text_expr)
    grams = (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )
    return f"list_distinct({grams})" if distinct else grams


# -------------------------------------------------------- quality metrics

def _count_in_set_column(arr: Column, words: list[str]) -> Column:
    """How many elements of ``arr`` are in ``words`` (multiplicity kept)."""
    wordlist = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(arr, lambda t: F.array_contains(wordlist, t))).cast("bigint")


def _count_in_set_sql(arr_expr: str, words: list[str]) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"CAST(len(list_filter({arr_expr}, t -> list_contains({lst}, t))) AS BIGINT)"


def stopword_count_column(text: Column | str) -> Column:
    return _count_in_set_column(tokens_column(text), STOPWORDS)


def stopword_count_sql(text_expr: str) -> str:
    return _count_in_set_sql(tokens_sql(text_expr), STOPWORDS)


# ------------------------------------------------------------ language ID

def lang_score_column(text: Column | str, lang: str) -> Column:
    return _count_in_set_column(tokens_column(text), LANG_MARKERS[lang])


def lang_score_sql(text_expr: str, lang: str) -> str:
    return _count_in_set_sql(tokens_sql(text_expr), LANG_MARKERS[lang])


def langid_column(text: Column | str) -> Column:
    """Argmax language by marker-word score; ties break to the
    alphabetically-first language (deterministic)."""
    scores = {lang: lang_score_column(text, lang) for lang in _LANG_ORDER}
    expr = F.lit(_LANG_ORDER[-1])
    # fold right-to-left so earlier languages win ties via strict '>'
    for lang in reversed(_LANG_ORDER[:-1]):
        later = [scores[other] for other in _LANG_ORDER if other > lang]
        best_later = later[0] if len(later) == 1 else F.greatest(*later)
        expr = F.when(scores[lang] >= best_later, F.lit(lang)).otherwise(expr)
    return expr


def langid_sql(text_expr: str) -> str:
    parts = []
    for lang in _LANG_ORDER[:-1]:
        later = [lang_score_sql(text_expr, other) for other in _LANG_ORDER if other > lang]
        best_later = later[0] if len(later) == 1 else "greatest(" + ", ".join(later) + ")"
        parts.append(f"WHEN {lang_score_sql(text_expr, lang)} >= {best_later} THEN '{lang}'")
    return "(CASE " + " ".join(parts) + f" ELSE '{_LANG_ORDER[-1]}' END)"


# ------------------------------------------------------------ fingerprints

def md5_fingerprint_column(text: Column | str) -> Column:
    """Exact-dedup fingerprint: md5 hex digest (identical across engines)."""
    return F.md5(_col(text))


def min_shingle_md5_sql(text_expr: str, n: int = 3) -> str:
    return f"list_min(list_transform({shingles_sql(text_expr, n)}, s -> md5(s)))"


def chunk_lines_sql(n: int = 3, text_col: str = "text") -> str:
    """DuckDB twin of :func:`chunk_token_lines` as a FROM-able fragment
    producing (doc_id, line_id, line) — kept in one place so every
    pseudo-line oracle chunks identically."""
    return f"""(
  SELECT doc_id, u.line_id, u.line FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, (len(tk) + {n - 1}) // {n}),
                  i -> {{'line_id': i,
                         'line': array_to_string(list_slice(tk, i*{n}+1, i*{n}+{n}), ' ')}})) AS u
    FROM (SELECT doc_id, {tokens_sql(text_col)} AS tk FROM documents))
)"""
