"""Property-based tests (hypothesis): operators vs independent
reference implementations (pandas / numpy) on randomized small inputs —
the edge cases constructed examples miss (empty sides, all-ties,
single-element groups, duplicated keys)."""

from __future__ import annotations

import operator
from datetime import date, timedelta

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from etl_dag_spark.operators.joins import asof_join
from etl_dag_spark.operators.windows import exact_percentiles

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@st.composite
def asof_case(draw):
    keys = draw(st.lists(st.integers(0, 3), min_size=0, max_size=8))
    left = [(k, draw(st.integers(0, 50))) for k in keys]
    rkeys = draw(st.lists(st.integers(0, 3), min_size=0, max_size=8))
    right = [
        (k, draw(st.integers(0, 50)), i) for i, k in enumerate(rkeys)
    ]
    return left, right


@given(case=asof_case())
@settings(**_SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, case):
    left_rows, right_rows = case
    if not left_rows:
        return
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)], "k int, t long, lid int"
    )
    if right_rows:
        # dedupe (k, t) like the production query does: max rid wins
        best: dict = {}
        for k, t, rid in right_rows:
            if (k, t) not in best or rid > best[(k, t)]:
                best[(k, t)] = rid
        right_rows = [(k, t, rid) for (k, t), rid in best.items()]
        right = spark.createDataFrame(right_rows, "k int, t long, rid int")
        got_df = asof_join(
            left, right, key="k", left_ts="t", right_ts="t",
            payload_cols=["rid"], right_order="rid",
        )
    else:
        return
    got = {r.lid: r.rid for r in got_df.collect()}

    lp = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)], columns=["k", "t", "lid"]
    ).sort_values("t", kind="stable")
    rp = pd.DataFrame(right_rows, columns=["k", "t", "rid"]).sort_values("t", kind="stable")
    want_df = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
    want = {
        int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in want_df.itertuples()
    }
    assert got == want


@given(
    data=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-1000, 1000)),
        min_size=1,
        max_size=40,
    ),
    q=st.sampled_from([0.0, 0.25, 0.5, 0.9, 1.0]),
)
@settings(**_SETTINGS)
def test_exact_percentiles_match_numpy(spark, data, q):
    df = spark.createDataFrame(data, "g int, v long")
    got = {
        r.g: r.p for r in exact_percentiles(df, "g", "v", {"p": q}).collect()
    }
    for g in {g for g, _ in data}:
        vals = np.array([v for gg, v in data if gg == g], dtype=np.float64)
        want = float(np.quantile(vals, q, method="linear"))
        assert got[g] == pytest.approx(want, rel=1e-12, abs=1e-9)


def _ref_ntile(n_rows: int, n: int) -> list[int]:
    """SQL NTILE reference: first N mod n buckets take ceil(N/n) rows."""
    q, rem = divmod(n_rows, n)
    out = []
    for b in range(1, n + 1):
        out.extend([b] * (q + 1 if b <= rem else q))
    return out


@given(
    vals=st.lists(st.integers(-5, 5), min_size=1, max_size=40),
    n=st.integers(1, 7),
)
@settings(**_SETTINGS)
def test_exact_ntile_matches_sql_ntile(spark, vals, n):
    """exact_ntile == NTILE(n) OVER (ORDER BY v DESC, id) for any size
    (N < n, N % n != 0, heavy ties) — the distributed formulation must
    be indistinguishable from the single-partition window."""
    from etl_dag_spark.operators.windows import exact_ntile

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id int, v int"
    )
    got = {
        r.id: r.nt
        for r in exact_ntile(
            df, n, [F.col("v").desc(), F.col("id")], out_col="nt"
        ).collect()
    }
    order = sorted(range(len(vals)), key=lambda i: (-vals[i], i))
    expected = dict(zip(order, _ref_ntile(len(vals), n)))
    assert got == expected


@given(vals=st.lists(st.integers(-9, 9), min_size=0, max_size=30))
@settings(**_SETTINGS)
def test_global_row_number_is_exact(spark, vals):
    from etl_dag_spark.operators.windows import global_row_number

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id int, v int"
    )
    got = {
        r.id: r.rn
        for r in global_row_number(
            df, [F.col("v").desc(), F.col("id")], rn_col="rn"
        ).collect()
    }
    order = sorted(range(len(vals)), key=lambda i: (-vals[i], i))
    assert got == {i: r + 1 for r, i in enumerate(order)}


# ------------------------------------------------- round-5 corpus ops

def _scrub_col(col):
    from etl_dag_spark.queries import _EMAIL_RE, _NUM_RE, _URL_RE

    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
        ),
        _NUM_RE,
        "<NUM>",
    )


@given(
    texts=st.lists(
        st.text(
            alphabet="abc .@:/0123456789<>EMAILNURL-_%",
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_pii_scrub_is_idempotent(spark, texts):
    """scrub(scrub(x)) == scrub(x): the placeholder tokens contain no
    '@', 'http', or digit runs, so a second pass never rewrites —
    required for safe pipeline re-runs on partially-clean data."""
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    out = df.select(
        _scrub_col(F.col("t")).alias("once"),
        _scrub_col(_scrub_col(F.col("t"))).alias("twice"),
    ).collect()
    for r in out:
        assert r.once == r.twice


@given(
    ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=60, unique=True),
    lo=st.integers(0, 99),
    hi_delta=st.integers(1, 100),
)
@settings(**_SETTINGS)
def test_domain_mix_keep_sets_are_monotone_in_weight(spark, ids, lo, hi_delta):
    """The docs kept at rate w are a SUBSET of those kept at any rate
    w' > w (same hash, higher threshold) — growing a source's budget
    only adds documents, never churns previously-kept ones."""
    hi = min(100, lo + hi_delta)
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    hv = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    )
    thr_lo, thr_hi = (lo * (1 << 32)) // 100, (hi * (1 << 32)) // 100
    kept_lo = {r.doc_id for r in df.where(hv < F.lit(thr_lo)).collect()}
    kept_hi = {r.doc_id for r in df.where(hv < F.lit(thr_hi)).collect()}
    assert kept_lo <= kept_hi


@given(
    tokens=st.lists(st.integers(1, 600), min_size=1, max_size=40),
    cap=st.integers(8, 600),
)
@settings(**_SETTINGS)
def test_pack_contiguous_matches_sequential_reference(spark, tokens, cap):
    """Distributed contiguous packing == the trivial single-threaded
    cumsum loop for any sizes, including docs bigger than the cap."""
    from etl_dag_spark.operators.packing import pack_contiguous

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(tokens)], "doc_id long, n_tokens long"
    )
    got = {r.doc_id: r.bin_id for r in pack_contiguous(df, cap=cap).collect()}
    cum, expected = 0, {}
    for i, n in enumerate(tokens):
        expected[i] = cum // cap
        cum += n
    assert got == expected


@st.composite
def greedy_graph(draw):
    n = draw(st.integers(1, 10))
    n_edges = draw(st.integers(0, 15))
    edges = set()
    for _ in range(n_edges):
        u = draw(st.integers(1, n))
        v = draw(st.integers(1, n))
        if u != v:
            edges.add((min(u, v), max(u, v)))
    return n, sorted(edges)


@given(case=greedy_graph())
@settings(**_SETTINGS)
def test_greedy_survivors_matches_sequential_reference(spark, both_paths, case):
    """greedy_earliest_survivors (distributed fixpoint) must equal the
    literal sequential greedy it models: process ids ascending, drop a
    node iff it matches an already-KEPT earlier node."""
    from etl_dag_spark.operators.dedup import greedy_earliest_survivors

    n, edges = case
    nbrs: dict[int, set[int]] = {}
    for u, v in edges:
        nbrs.setdefault(v, set()).add(u)
    want = {}
    for node in range(1, n + 1):
        want[node] = not any(want.get(u) for u in nbrs.get(node, ()))

    e_df = (
        spark.createDataFrame(edges, "u long, v long")
        if edges
        else spark.createDataFrame([], "u long, v long")
    )
    nodes = spark.range(1, n + 1).select(F.col("id").alias("node"))
    # the operator is adaptive — a small matched subgraph solves
    # driver-side, a large one runs the distributed fixpoint. Pin BOTH
    # strategies equal to the sequential reference.
    got, got_dist = both_paths(
        lambda: {
            r.node: r.keep
            for r in greedy_earliest_survivors(e_df, nodes).collect()
        },
        {"greedy_earliest_survivors"},
    )
    assert got == want
    assert got_dist == want


@st.composite
def grouped_rows(draw):
    n = draw(st.integers(0, 25))
    rows = [
        (
            i,
            draw(st.sampled_from(["a", "b", "c"])),
            draw(st.integers(0, 5)),  # heavy ties on purpose
        )
        for i in range(n)
    ]
    k = draw(st.integers(1, 4))
    return rows, k


@given(case=grouped_rows())
@settings(**_SETTINGS)
def test_per_group_top_k_matches_pandas(spark, case):
    """Salted two-phase top-k == pandas groupby head-k under the same
    total order, including all-ties and single-element groups."""
    from etl_dag_spark.operators.windows import per_group_top_k

    rows, k = case
    if not rows:
        return
    df = spark.createDataFrame(rows, "id long, g string, val long")
    got = {
        (r.g, r.id): r.rk
        for r in per_group_top_k(
            df, "g", [F.col("val"), F.col("id")], k, rank_col="rk"
        ).collect()
    }
    pdf = pd.DataFrame(rows, columns=["id", "g", "val"]).sort_values(["g", "val", "id"])
    want = {}
    for g, grp in pdf.groupby("g"):
        for rank, (_, row) in enumerate(grp.head(k).iterrows(), start=1):
            want[(g, int(row["id"]))] = rank
    assert got == want


# ------------------------------------------------ raster stream (r10)


@st.composite
def raster_stream_case(draw):
    import numpy as np

    frames = []
    for _ in range(draw(st.integers(1, 5))):
        kind = draw(st.sampled_from(["bmp", "pgm", "ppm"]))
        h = draw(st.integers(1, 9))
        w = draw(st.integers(1, 9))
        if kind == "ppm":
            arr = np.array(
                draw(
                    st.lists(
                        st.integers(0, 255), min_size=h * w * 3, max_size=h * w * 3
                    )
                ),
                dtype=np.uint8,
            ).reshape(h, w, 3)
        else:
            arr = np.array(
                draw(st.lists(st.integers(0, 255), min_size=h * w, max_size=h * w)),
                dtype=np.uint8,
            ).reshape(h, w)
        frames.append((kind, arr))
    return frames


@given(case=raster_stream_case())
@settings(**_SETTINGS)
def test_split_raster_stream_roundtrips_any_frame_mix(case):
    """Any concatenation of well-formed BMP/PGM/PPM frames demuxes back
    into exactly the original frame byte slices, and every frame decodes
    to the luma of its source raster (BT.601 for color)."""
    from etl_dag_spark.operators.multimodal import (
        decode_image,
        encode_bmp_gray,
        split_raster_stream,
    )

    def enc(kind, arr):
        if kind == "bmp":
            return encode_bmp_gray(arr)
        if kind == "pgm":
            h, w = arr.shape
            return f"P5\n{w} {h}\n255\n".encode() + arr.tobytes()
        h, w, _ = arr.shape
        return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()

    encoded = [enc(k, a) for k, a in case]
    stream = b"".join(encoded)
    frames = split_raster_stream(stream)
    assert frames == encoded
    for raw, (kind, arr) in zip(frames, case):
        img = decode_image(raw)
        assert img is not None
        if kind == "ppm":
            want = (
                0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
            )
        else:
            want = arr.astype(np.float64)
        assert img.shape == want.shape
        assert np.allclose(img, want, atol=1e-9)


@given(junk=st.binary(min_size=0, max_size=64))
@settings(**_SETTINGS)
def test_split_raster_stream_rejects_trailing_junk(junk):
    """A stream is either EXACTLY a sequence of rasters or None — no
    half-splits: appending any non-raster tail poisons the whole
    payload (it falls back to the opaque stub path)."""
    from etl_dag_spark.operators.multimodal import (
        encode_bmp_gray,
        split_raster_stream,
    )

    frame = encode_bmp_gray(np.full((4, 4), 7, dtype=np.uint8))
    got = split_raster_stream(frame + junk)
    if junk and split_raster_stream(junk) is None:
        assert got is None
    else:
        assert got is not None and got[0] == frame


# the fact-scan filter cut days of the registry's date windows plus the
# ends of Spark's date range
_CUT_DAYS = ["0001-01-01", "1996-01-01", "1996-04-01", "1997-01-01", "2000-12-01", "9999-12-31"]


def _stamps_around_cut_days() -> list[str | None]:
    """The first and last microsecond of each cut day and of its
    neighbours (where they exist), plus NULL."""
    days = set()
    for cut in _CUT_DAYS:
        for shift in (-1, 0, 1):
            try:
                days.add(date.fromisoformat(cut) + timedelta(days=shift))
            except OverflowError:
                continue
    stamps = [f"{d.isoformat()} {t}" for d in sorted(days) for t in ("00:00:00", "23:59:59.999999")]
    return stamps + [None]


@pytest.mark.parametrize(
    "ts_type, tz",
    [("timestamp_ntz", "UTC"), ("timestamp_ntz", "Pacific/Kiritimati"),
     ("timestamp", "Pacific/Kiritimati"), ("timestamp", "America/Los_Angeles")],
)
def test_typed_date_predicate_selects_formatted_string_rows(spark, ts_type, tz):
    """``to_date(c) <op> DATE 'd'`` keeps exactly the rows that
    ``date_format(c, 'yyyy-MM-dd') <op> 'd'`` keeps (the form the DuckDB
    oracles use), at every cut-day boundary and for NULL, for a
    TIMESTAMP_NTZ column and for a TIMESTAMP one read in the session
    time zone."""
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, tz)
    try:
        stamps = _stamps_around_cut_days()
        df = spark.createDataFrame(list(enumerate(stamps)), "id int, s string").select(
            "id", F.col("s").cast(ts_type).alias("ts")
        )
        ops = [operator.lt, operator.le, operator.gt, operator.ge]
        checks = [
            (
                F.coalesce(op(F.date_format("ts", "yyyy-MM-dd"), cut), F.lit(False)),
                F.coalesce(op(F.to_date("ts"), F.expr(f"DATE '{cut}'")), F.lit(False)),
            )
            for cut in _CUT_DAYS
            for op in ops
        ]
        rows = df.select(
            "id", F.col("ts").isNull().alias("null"), *[c for pair in checks for c in pair]
        ).collect()
    finally:
        spark.conf.set(key, prev)
    assert [r["null"] for r in rows].count(True) == 1  # every stamp parsed
    for r in rows:
        flags = list(r)[2:]
        assert flags[0::2] == flags[1::2], stamps[r["id"]]
    # the boundaries are crossed: each predicate keeps some rows, not all
    kept = [sum(r[2 + 2 * i] for r in rows) for i in range(len(checks))]
    assert all(0 < k < len(rows) - 1 for k in kept[4:-4])
