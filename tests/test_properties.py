"""Property-based checks (hypothesis) for the reference's enrichment
semantics: for arbitrary trip inputs, the Spark enrichment chain must
equal a direct Python model of reference spark_consumer.py:63-78 —
including the quirks (inclusive-left category boundaries, otherwise(0)
not null, open-interval 0<duration<300 filter).

All arithmetic in the model mirrors the Spark expression order on
doubles, so equality is exact, no tolerance.
"""

from __future__ import annotations

import datetime as dt
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from nyc_data_pipeline_spark.operators.enrichment import enrich_trips

EPOCH = dt.datetime(2015, 1, 1, 0, 0, 0)

finite = st.floats(
    min_value=-1000, max_value=1000, allow_nan=False, allow_infinity=False, width=64
)
trip = st.tuples(
    finite,  # distance
    finite,  # fare
    finite,  # tip
    st.integers(min_value=-400 * 60, max_value=400 * 60),  # duration seconds
    st.integers(min_value=0, max_value=86_399),  # pickup offset in day
)

SCHEMA = T.StructType(
    [
        T.StructField("row_id", T.IntegerType()),
        T.StructField("pickup_dt", T.TimestampType()),
        T.StructField("dropoff_dt", T.TimestampType()),
        T.StructField("trip_distance", T.DoubleType()),
        T.StructField("fare_amount", T.DoubleType()),
        T.StructField("tip_amount", T.DoubleType()),
    ]
)


def _model(dist: float, fare: float, tip: float, dur_s: int):
    """Pure-Python reference semantics; None = row filtered out."""
    dur_min = dur_s / 60.0
    if not (dist >= 0 and fare >= 0 and 0 < dur_min < 300):
        return None
    speed = dist / (dur_min / 60.0) if (dur_min > 0 and dist > 0) else 0.0
    if dist <= 2.0:
        cat = "short"
    elif dist <= 10.0:
        cat = "medium"
    else:
        cat = "long"
    tip_pct = tip / fare * 100.0 if fare > 0 else 0.0
    return (dur_min, speed, cat, tip_pct)


@settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(st.lists(trip, min_size=1, max_size=40))
def test_enrichment_matches_python_model(spark, trips):
    rows = []
    for i, (dist, fare, tip, dur_s, off_s) in enumerate(trips):
        pickup = EPOCH + dt.timedelta(seconds=off_s)
        rows.append((i, pickup, pickup + dt.timedelta(seconds=dur_s), dist, fare, tip))
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r.row_id: (r.duration_min, r.speed_mph, r.trip_category, r.tip_pct)
        for r in enrich_trips(df).collect()
    }
    want = {
        i: m
        for i, (dist, fare, tip, dur_s, _off) in enumerate(trips)
        if (m := _model(dist, fare, tip, dur_s)) is not None
    }
    assert set(got) == set(want)
    for i in want:
        for g, w in zip(got[i], want[i]):
            if isinstance(w, float):
                assert g == w or (math.isnan(g) and math.isnan(w)), (i, got[i], want[i])
            else:
                assert g == w, (i, got[i], want[i])


# ---------------------------------------------------------------------------
# Cross-engine portable text hash: for arbitrary ASCII-ish text, Spark's
# tokenize+hash expression chain and DuckDB's must agree token-for-token
# (every dedup/similarity operator builds on this identity).
# ---------------------------------------------------------------------------

import string

import duckdb
import pandas as pd

from nyc_data_pipeline_spark.functions.text import (
    duck_token_hashes,
    duck_tokens,
    spark_token_hashes,
    spark_tokens,
)

_TEXT_ALPHABET = string.ascii_letters + string.digits + string.punctuation + " \t\n"


@settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(
        st.text(alphabet=_TEXT_ALPHABET, max_size=60), min_size=1, max_size=10
    )
)
def test_token_hash_cross_engine(spark, texts):
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    got = {
        r.doc_id: (list(r.toks), list(r.hashes))
        for r in df.selectExpr(
            "doc_id",
            f"{spark_tokens('text')} AS toks",
            f"{spark_token_hashes(spark_tokens('text'))} AS hashes",
        ).collect()
    }
    con = duckdb.connect()
    try:
        con.register("docs", pdf)
        want = {
            doc_id: (list(toks), list(hashes))
            for doc_id, toks, hashes in con.execute(
                f"SELECT doc_id, {duck_tokens('text')}, "
                f"{duck_token_hashes(duck_tokens('text'))} FROM docs"
            ).fetchall()
        }
    finally:
        con.close()
    assert got == want


# --- round-5b operators: overlap join, PageRank, CMS ----------------------

_iv = st.tuples(
    st.integers(min_value=0, max_value=50_000_000_000),
    st.integers(min_value=0, max_value=10_000_000_000),
)


@settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(_iv, min_size=1, max_size=12),
    st.lists(_iv, min_size=1, max_size=12),
)
def test_overlap_join_equals_naive_on_random_intervals(spark, aivs, bivs):
    """bin-and-residual == the naive quadratic theta join, for
    arbitrary (possibly multi-bucket-spanning, zero-length,
    coincident) closed intervals."""
    from nyc_data_pipeline_spark.operators.intervals import overlap_join

    a = spark.createDataFrame(
        [(i, s, s + w) for i, (s, w) in enumerate(aivs)],
        "aid long, start_us long, end_us long",
    )
    b = spark.createDataFrame(
        [(i, s, s + w) for i, (s, w) in enumerate(bivs)],
        "bid long, start_us long, end_us long",
    )
    got = {
        (r.aid, r.bid, r.overlap_us)
        for r in overlap_join(a, b, ["aid"], ["bid"]).collect()
    }
    want = {
        (i, j, min(sa + wa, sb + wb) - max(sa, sb))
        for i, (sa, wa) in enumerate(aivs)
        for j, (sb, wb) in enumerate(bivs)
        if sa <= sb + wb and sb <= sa + wa
    }
    assert got == want


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.integers(min_value=2, max_value=12),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        min_size=0,
        max_size=20,
    ),
)
def test_pagerank_equals_python_power_iteration(spark, n, raw_edges):
    """Integer PageRank on arbitrary small graphs == a pure-Python
    replay of the same truncating arithmetic."""
    from nyc_data_pipeline_spark.operators.pagerank import ITERS, SCALE, pagerank

    edges = sorted({(u % n, v % n) for u, v in raw_edges if u % n != v % n})
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    if edges:
        e = spark.createDataFrame(edges, "u long, v long")
    else:
        e = spark.createDataFrame([], "u long, v long")
    got = {r.node: (r.rank, r.degree) for r in pagerank(nodes, e).collect()}

    sym = {(u, v) for u, v in edges} | {(v, u) for u, v in edges}
    deg = {}
    for u, _v in sym:
        deg[u] = deg.get(u, 0) + 1
    r = {i: SCALE for i in range(n)}
    for _ in range(ITERS):
        contrib = {}
        for u, v in sym:
            contrib[v] = contrib.get(v, 0) + r[u] // deg[u]
        r = {
            i: (15 * SCALE + 85 * contrib.get(i, 0)) // 100 for i in range(n)
        }
    want = {i: (r[i], deg.get(i, 0)) for i in range(n)}
    assert got == want


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=60))
def test_cms_estimate_matches_python_sketch(spark, user_ids):
    """The Spark-built Count-Min counters == a Python dict replay:
    same hashes, same cells, same heavy-hitter estimates."""
    from nyc_data_pipeline_spark.operators.sketches import (
        CMS_AB,
        CMS_D,
        CMS_P,
        CMS_W,
    )

    counts = {}
    for u in user_ids:
        counts[u] = counts.get(u, 0) + 1
    cells = {}
    for u, c in counts.items():
        for i, (a, b) in enumerate(CMS_AB):
            k = (i, (((u % CMS_P) * a + b) % CMS_P) % CMS_W)
            cells[k] = cells.get(k, 0) + c
    # Spark side: rebuild the counter table from a DataFrame.
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(u,) for u in user_ids], "user_id long")
    uc = df.groupBy("user_id").agg(F.count("*").alias("cnt"))
    structs = ", ".join(
        f"struct({i} AS hrow, ((((user_id % {CMS_P}) * {a} + {b}) % {CMS_P})"
        f" % {CMS_W}) AS bucket)"
        for i, (a, b) in enumerate(CMS_AB)
    )
    got = {
        (r.hrow, r.bucket): r.total
        for r in uc.selectExpr(f"explode(array({structs})) AS c", "cnt")
        .select("c.hrow", "c.bucket", "cnt")
        .groupBy("hrow", "bucket")
        .agg(F.sum("cnt").alias("total"))
        .collect()
    }
    assert got == cells
    # Point estimates dominate truth.
    for u, c in counts.items():
        est = min(
            cells[(i, (((u % CMS_P) * a + b) % CMS_P) % CMS_W)]
            for i, (a, b) in enumerate(CMS_AB)
        )
        assert est >= c


# ---- two-phase engine: rownum equals the plain window on ANY data ---------

@given(
    vals=st.lists(
        st.integers(min_value=-(10**12), max_value=10**12),
        min_size=1,
        max_size=120,
    )
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_two_phase_rownum_equals_plain_window(spark, vals):
    """For arbitrary (negative, tied, skewed) leading keys, the shared
    two-phase engine must reproduce the single-partition ROW_NUMBER
    exactly — the invariant every rank/skyline/ABC call site rests on
    (order-aligned buckets: every row in bucket i precedes bucket
    i+1)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nyc_data_pipeline_spark.plans.two_phase import two_phase_rownum

    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "v long, id long")
    got = {
        (r.v, r.id): r.rn for r in two_phase_rownum(df, ["v", "id"]).collect()
    }
    want = {
        (r.v, r.id): r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "id"))
        ).collect()
    }
    assert got == want


# ---- raster parsers: random-image round trips -----------------------------

@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    data=st.data(),
)
@settings(max_examples=25, deadline=None)
def test_ppm_roundtrip_random_images(w, h, data):
    from nyc_data_pipeline_spark.multimodal.binary_ops import decode_media

    px = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=3 * w * h, max_size=3 * w * h
            )
        )
    )
    payload = f"P6\n{w} {h}\n255\n".encode() + px
    m = decode_media(payload, "image/x-portable-pixmap")
    assert (m["width"], m["height"], m["pixels"]) == (w, h, px)


@given(
    w=st.integers(min_value=1, max_value=7),
    h=st.integers(min_value=1, max_value=7),
    top_down=st.booleans(),
    data=st.data(),
)
@settings(max_examples=25, deadline=None)
def test_bmp_roundtrip_random_images(w, h, top_down, data):
    import struct

    from nyc_data_pipeline_spark.multimodal.binary_ops import decode_media

    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=3 * w * h, max_size=3 * w * h
            )
        )
    )
    rows = [rgb[3 * w * r : 3 * w * (r + 1)] for r in range(h)]
    stride = (3 * w + 3) & ~3
    bgr_rows = [
        bytes(row[3 * c + (2 - k)] for c in range(w) for k in range(3))
        for row in rows
    ]
    order = bgr_rows if top_down else bgr_rows[::-1]
    raster = b"".join(r + b"\x00" * (stride - 3 * w) for r in order)
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h,
        1, 24, 0, len(raster), 2835, 2835, 0, 0,
    )
    m = decode_media(hdr + info + raster, "image/bmp")
    assert (m["width"], m["height"], m["pixels"]) == (w, h, rgb)


# ---- Theil-Sen equals a pure-Python reference -----------------------------

@given(
    ys=st.lists(
        st.integers(min_value=-(10**9), max_value=10**9),
        min_size=2,
        max_size=25,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_theil_sen_equals_python_reference(spark, ys):
    """Median milli-slope and median-residual intercept against a
    direct Python model with identical sign-split truncating division
    and (value, tiebreak) lower-median rule."""
    from nyc_data_pipeline_spark.operators.trends import theil_sen

    xs = list(range(1, len(ys) + 1))
    series = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xs, ys)], "pr string, x long, y long"
    )
    r = theil_sen(series).collect()[0]

    def sdiv(num, den):
        return (num * 1000) // den if num >= 0 else -((-num * 1000) // den)

    slopes = sorted(
        (sdiv(ys[j] - ys[i], xs[j] - xs[i]), xs[i], xs[j])
        for i in range(len(xs))
        for j in range(i + 1, len(xs))
    )
    want_slope = slopes[(len(slopes) + 1) // 2 - 1][0]
    resid = sorted((y * 1000 - want_slope * x, x) for x, y in zip(xs, ys))
    want_icept = resid[(len(resid) + 1) // 2 - 1][0]
    assert (r.slope_milli, r.intercept_milli) == (want_slope, want_icept)
    assert r.n_pairs == len(slopes) and r.n_points == len(xs)


# ---- r8 continuation: Gini vs direct formula, thumbnail vs loop -----------

@given(
    spends=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(min_value=0, max_value=10**9),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_gini_matches_direct_formula(spark, spends):
    """For arbitrary per-key spends (zeros, ties, single-row groups),
    the composite-lead two-phase Gini must equal the direct sorted
    formula floor((2·Σi·x − (n+1)·Σx)·1e6 / (n·Σx)) computed in plain
    Python — covering the rank-offset subtraction, decimal carriers,
    and tie handling in one shot.  All-zero groups (Σx = 0) are a
    division-by-zero regime the operator's domain excludes (spend > 0
    per order at the call site), so they are filtered here."""
    from nyc_data_pipeline_spark.operators.inequality import gini_by_segment

    rows = [(i, seg, c) for i, (seg, c) in enumerate(spends)]
    by_seg = {}
    for i, seg, c in rows:
        by_seg.setdefault(seg, []).append((c, i))
    expected = {}
    for seg, vals in by_seg.items():
        s0 = sum(c for c, _ in vals)
        if s0 == 0:
            continue
        xs = [c for c, _ in sorted(vals)]
        n = len(xs)
        s1 = sum((i + 1) * x for i, x in enumerate(xs))
        expected[seg] = (2 * s1 - (n + 1) * s0) * 10**6 // (n * s0)
    keep = set(expected)
    df = spark.createDataFrame(rows, "k bigint, seg string, cents bigint")
    df = df.filter(df.seg.isin(list(keep)) if keep else df.seg.isNull())
    got = {
        r.seg: r.gini_ppm
        for r in gini_by_segment(df, ["A", "B"]).collect()
    }
    assert got == expected


@given(
    w=st.integers(min_value=1, max_value=4),
    h=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_thumbnail_matches_python_loop(spark, w, h, data):
    """Random raster dims and pixels: the numpy box downsample must
    equal a straightforward Python double loop (floor means, odd
    row/col cropping), including the placement checksum."""
    from nyc_data_pipeline_spark.multimodal.binary_ops import (
        thumbnail_stats,
    )

    flat = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=255),
            min_size=3 * w * h,
            max_size=3 * w * h,
        )
    )
    ow, oh = w // 2, h // 2
    if ow == 0 or oh == 0:
        return  # degenerate thumbs are excluded by the op's contract
    px = lambda r, c, ch: flat[3 * (r * w + c) + ch]
    tvals = []
    for r in range(oh):
        for c in range(ow):
            for ch in range(3):
                tvals.append(
                    (
                        px(2 * r, 2 * c, ch)
                        + px(2 * r, 2 * c + 1, ch)
                        + px(2 * r + 1, 2 * c, ch)
                        + px(2 * r + 1, 2 * c + 1, ch)
                    )
                    // 4
                )
    payload = f"P6\n{w} {h}\n255\n".encode() + bytes(flat)
    df = spark.createDataFrame(
        [(7, payload, "image/x-portable-pixmap")],
        "doc_id bigint, payload binary, mime string",
    )
    r = thumbnail_stats(df).collect()[0]
    assert (r.out_w, r.out_h) == (ow, oh)
    assert r.t_sum_r == sum(tvals[0::3])
    assert r.t_sum_g == sum(tvals[1::3])
    assert r.t_sum_b == sum(tvals[2::3])
    assert (r.t_min, r.t_max) == (min(tvals), max(tvals))
    assert r.t_checksum == sum(v * (i + 1) for i, v in enumerate(tvals))


# --- MOR-CDC fold law: any epoch order + redelivery converges ---------------

_cdc_change = st.tuples(
    st.integers(min_value=0, max_value=11),   # key
    st.integers(min_value=1, max_value=5),    # version
    st.booleans(),                            # is_delete
    st.integers(min_value=0, max_value=99),   # payload
)


@settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(_cdc_change, min_size=1, max_size=24),
    st.randoms(use_true_random=False),
)
def test_mor_cdc_any_epoch_order_converges(spark, tmp_path_factory, raw, rng):
    """The storage-level fold law (streaming/mor_cdc.py module doc):
    committing a change set as ANY partition into ANY epoch order —
    with one chunk REDELIVERED under a fresh epoch id — reads back
    exactly the one-shot keep-latest merge.  Versions are de-duplicated
    per key (the CDC-log uniqueness contract); base rows are version 0.
    This is the property the fixture waves can't cover: random change
    sets, random chunking, random order, plus redelivery."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
    )

    # unique (key, version): keep the last occurrence per pair
    changes = {(k, v): (d, p) for k, v, d, p in raw}
    changes = [
        (k, v, d, p) for (k, v), (d, p) in sorted(changes.items())
    ]
    base = spark.createDataFrame(
        [(k, 1000 + k, 0) for k in range(12)],
        "k bigint, payload bigint, version int",
    )
    tdir = str(tmp_path_factory.mktemp("mor_cdc_prop"))
    mor_cdc_init(spark, base, tdir, "k", n_files=4)

    # random chunking + random epoch order + one redelivered chunk
    rng.shuffle(changes)
    n_chunks = min(3, len(changes))
    chunks = [changes[i::n_chunks] for i in range(n_chunks)]
    chunks = [c for c in chunks if c]
    order = list(range(len(chunks)))
    rng.shuffle(order)
    version = 2
    for i in order:
        df = spark.createDataFrame(
            [
                (k, 2000 + p, v, "d" if d else "u")
                for k, v, d, p in chunks[i]
            ],
            "k bigint, payload bigint, version int, op string",
        )
        mor_cdc_commit(spark, df, tdir, version, n_files=4)
        version += 1
    # redeliver the first-committed chunk under a NEW epoch/commit id
    rd = chunks[order[0]]
    df = spark.createDataFrame(
        [(k, 2000 + p, v, "d" if d else "u") for k, v, d, p in rd],
        "k bigint, payload bigint, version int, op string",
    )
    mor_cdc_commit(spark, df, tdir, version, n_files=4)

    rows = mor_cdc_read(spark, tdir, version).collect()
    got = {r.k: (r.payload, r.version) for r in rows}
    # ROW-convergence, not just key-convergence: the redelivered chunk
    # appended a second copy of each of its rows at the SAME change
    # version, and the commit-sequence tie-break must shadow the older
    # copies — a dict alone would mask duplicates (ADVICE r9).
    assert len(rows) == len(got)

    # python one-shot keep-latest merge (delete wins at its version)
    state = {k: (1000 + k, 0, False) for k in range(12)}
    for k, v, d, p in changes:
        cur = state.get(k)
        if cur is None or v > cur[1]:
            state[k] = (2000 + p, v, d)
    want = {
        k: (pay, ver)
        for k, (pay, ver, dead) in state.items()
        if not dead
    }
    assert got == want


# --- joined-view IVM: random two-sided feeds fold to the recompute ----------

_ivm_order_change = st.tuples(
    st.sampled_from(["del", "upd", "ins"]),
    st.integers(min_value=0, max_value=19),    # order key
    st.integers(min_value=0, max_value=7),     # customer key
    st.integers(min_value=-50, max_value=99),  # cents payload / uplift
)
_ivm_cust_change = st.tuples(
    st.sampled_from(["del", "move", "ins"]),
    st.integers(min_value=0, max_value=9),     # customer key (2 beyond base)
    st.sampled_from(["S0", "S1", "S2", "MOVED"]),
)


@settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(_ivm_order_change, min_size=0, max_size=16),
    st.lists(_ivm_cust_change, min_size=0, max_size=8),
)
def test_ivm_join_view_random_feeds_fold_to_recompute(
    spark, a_changes, b_changes
):
    """The delta algebra behind `ivm_join_view`
    (operators/incremental.maintain_join_view) on RANDOM feeds: any
    mix of order deletes/updates/inserts and customer
    deletes/moves/inserts — including orders inserted for customers
    that never existed, customers deleted then re-inserted into a new
    segment, and repeated changes to the same key — must fold the
    stored views onto exactly the post-change one-shot join aggregate.
    The fixture queries can't reach these compositions; the property
    pins the algebra itself."""
    import pyspark.sql.functions as F

    from nyc_data_pipeline_spark.operators.incremental import (
        maintain_join_view,
    )

    # base state: 20 orders over customers 0-7, customers 0-7 in S0-S2
    base_a = [(k, k % 8, 100 + 7 * k) for k in range(20)]
    base_b = [(c, f"S{c % 3}") for c in range(8)]

    # normalize the random feeds into signed delta rows + final tables
    a_rows = {k: (c, cents) for k, c, cents in base_a}
    da = []
    for op, k, c, cents in a_changes:
        if op == "del" and k in a_rows:
            oc, occ = a_rows.pop(k)
            da.append((k, oc, occ, -1))
        elif op == "upd" and k in a_rows:
            oc, occ = a_rows[k]
            da.append((k, oc, occ, -1))
            a_rows[k] = (oc, occ + cents)
            da.append((k, oc, occ + cents, 1))
        elif op == "ins" and k not in a_rows:
            a_rows[k] = (c, cents)
            da.append((k, c, cents, 1))
    b_rows = dict(base_b)
    db = []
    for op, c, seg in b_changes:
        if op == "del" and c in b_rows:
            db.append((c, b_rows.pop(c), -1))
        elif op == "move" and c in b_rows:
            db.append((c, b_rows[c], -1))
            b_rows[c] = seg
            db.append((c, seg, 1))
        elif op == "ins" and c not in b_rows:
            b_rows[c] = seg
            db.append((c, seg, 1))

    a1 = spark.createDataFrame(
        [(k, c, cents) for k, (c, cents) in sorted(a_rows.items())]
        or [(None, None, None)],
        "k bigint, c bigint, cents bigint",
    ).filter(F.col("k").isNotNull())
    # pre-change views from the BASE tables
    b1_map = dict(base_b)
    cust = {}
    for k, c, cents in base_a:
        cur = cust.setdefault(c, [0, 0])
        cur[0] += 1
        cur[1] += cents
    seg = {}
    for c, (n, s) in cust.items():
        if c in b1_map:
            cur = seg.setdefault(b1_map[c], [0, 0])
            cur[0] += n
            cur[1] += s
    seg_v1 = spark.createDataFrame(
        [(s, v[0], v[1]) for s, v in sorted(seg.items())]
        or [("__none__", 0, 0)],
        "segment string, n_rows bigint, sum_cents bigint",
    ).filter(F.col("n_rows") > 0)
    cust_v1 = spark.createDataFrame(
        [(c, v[0], v[1]) for c, v in sorted(cust.items())],
        "c bigint, n_rows bigint, sum_cents bigint",
    )
    b2 = spark.createDataFrame(
        sorted(b_rows.items()) or [(None, None)],
        "c bigint, segment string",
    ).filter(F.col("c").isNotNull())
    da_df = spark.createDataFrame(
        da or [(None, None, None, None)],
        "k bigint, c bigint, cents bigint, w int",
    ).filter(F.col("k").isNotNull())
    db_df = spark.createDataFrame(
        db or [(None, None, None)],
        "c bigint, segment string, w int",
    ).filter(F.col("c").isNotNull())

    got = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in maintain_join_view(
            seg_v1, cust_v1, b2, da_df, db_df
        ).collect()
    }
    # recompute: one-shot join over the post-change tables
    want = {}
    for k, (c, cents) in a_rows.items():
        if c in b_rows:
            cur = want.setdefault(b_rows[c], [0, 0])
            cur[0] += 1
            cur[1] += cents
    want = {s: tuple(v) for s, v in want.items() if v[0] > 0}
    assert got == want


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(_cdc_change, min_size=2, max_size=20),
    st.randoms(use_true_random=False),
)
def test_mor_cdc_compaction_preserves_fold_law(
    spark, tmp_path_factory, raw, rng
):
    """The dv_floor contract on RANDOM histories: split a random
    change set into chunks, commit a random prefix of them, COMPACT
    (vectors dropped, floor frozen), commit the remaining chunks on
    top of the compacted version, then REDELIVER the first-committed
    chunk under a fresh commit id — the read must still equal the
    one-shot keep-latest merge, row-for-row.  Without the floor the
    post-compaction redelivery resurrects superseded rows; with it the
    fixture waves' fixed pattern generalizes to arbitrary interleaved
    upserts/deletes, delete-then-reinserts, and chunk boundaries
    falling on either side of the compaction."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_compact,
        mor_cdc_init,
        mor_cdc_read,
    )

    changes = {(k, v): (d, p) for k, v, d, p in raw}
    changes = [
        (k, v, d, p) for (k, v), (d, p) in sorted(changes.items())
    ]
    base = spark.createDataFrame(
        [(k, 1000 + k, 0) for k in range(12)],
        "k bigint, payload bigint, version int",
    )
    tdir = str(tmp_path_factory.mktemp("mor_cdc_floor_prop"))
    mor_cdc_init(spark, base, tdir, "k", n_files=4)

    rng.shuffle(changes)
    n_chunks = min(3, len(changes))
    chunks = [c for c in (changes[i::n_chunks] for i in range(n_chunks)) if c]

    def commit(chunk, version):
        df = spark.createDataFrame(
            [(k, 2000 + p, v, "d" if d else "u") for k, v, d, p in chunk],
            "k bigint, payload bigint, version int, op string",
        )
        mor_cdc_commit(spark, df, tdir, version, n_files=4)

    split = rng.randrange(1, len(chunks) + 1)  # >=1 chunk precedes
    version = 2
    for i in range(split):
        commit(chunks[i], version)
        version += 1
    mor_cdc_compact(spark, tdir, version - 1, n_files=4)
    version += 1  # compaction took this manifest slot
    for i in range(split, len(chunks)):
        commit(chunks[i], version)
        version += 1
    # stale redelivery of the FIRST-committed (pre-compaction) chunk
    # under a fresh commit id — the floor must keep shadowing it
    commit(chunks[0], version)

    rows = mor_cdc_read(spark, tdir, version).collect()
    got = {r.k: (r.payload, r.version) for r in rows}
    assert len(rows) == len(got), "duplicate rows past compaction"

    state = {k: (1000 + k, 0, False) for k in range(12)}
    for k, v, d, p in changes:
        cur = state.get(k)
        if cur is None or v > cur[1]:
            state[k] = (2000 + p, v, d)
    want = {
        k: (pay, ver)
        for k, (pay, ver, dead) in state.items()
        if not dead
    }
    assert got == want


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(_cdc_change, min_size=2, max_size=20),
    st.randoms(use_true_random=False),
)
def test_mor_cdc_feed_reconstructs_history(spark, tmp_path_factory, raw, rng):
    """Feed-completeness law on RANDOM histories: applying each
    commit's `mor_cdc_change_feed` rows to a driver-side state dict —
    delete removes the key, insert/update set the net post-image —
    must land exactly on the final table read, for arbitrary change
    sets chunked at arbitrary version boundaries (versions monotone
    across commits, the CDC log-order contract, but any number of
    changes per key WITHIN a commit — the intra-epoch supersede case
    whose net-effect reduction a per-copy feed would get wrong)."""
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
    )

    changes = {(k, v): (d, p) for k, v, d, p in raw}
    changes = sorted(
        ((k, v, d, p) for (k, v), (d, p) in changes.items()),
        key=lambda t: (t[1], t[0]),  # version order = log order
    )
    base = spark.createDataFrame(
        [(k, 1000 + k, 0) for k in range(12)],
        "k bigint, payload bigint, version int",
    )
    tdir = str(tmp_path_factory.mktemp("mor_cdc_feed_prop"))
    mor_cdc_init(spark, base, tdir, "k", n_files=4)
    # chunk at random boundaries BETWEEN version bands so versions
    # stay monotone across commits (within a commit anything goes)
    bands = sorted({v for _k, v, _d, _p in changes})
    n_cuts = rng.randrange(0, min(2, len(bands) - 1) + 1)
    cuts = sorted(rng.sample(bands[1:], n_cuts)) if n_cuts else []
    chunks = [[] for _ in range(len(cuts) + 1)]
    for ch in changes:
        idx = sum(1 for c in cuts if ch[1] >= c)
        chunks[idx].append(ch)
    chunks = [c for c in chunks if c]
    version = 2
    for chunk in chunks:
        df = spark.createDataFrame(
            [(k, 2000 + p, v, "d" if d else "u") for k, v, d, p in chunk],
            "k bigint, payload bigint, version int, op string",
        )
        mor_cdc_commit(spark, df, tdir, version, n_files=4)
        version += 1

    # stale redelivery (r11): re-commit the FIRST chunk under a fresh
    # commit id — the table state must not move, and the stale
    # commit's feed must be EMPTY (every change sits at-or-below its
    # key's shadow ceiling; without the ceiling check the feed would
    # report pre→stale-value transitions the table never made)
    stale = chunks[0]
    df = spark.createDataFrame(
        [(k, 2000 + p, v, "d" if d else "u") for k, v, d, p in stale],
        "k bigint, payload bigint, version int, op string",
    )
    mor_cdc_commit(spark, df, tdir, version, n_files=4)
    assert mor_cdc_change_feed(spark, tdir, version).count() == 0
    version += 1

    state = {k: 1000 + k for k in range(12)}
    for v in range(2, version):
        for r in mor_cdc_change_feed(spark, tdir, v).collect():
            if r["change"] == "delete":
                state.pop(r["k"], None)
            else:
                state[r["k"]] = r["post_payload"]

    rows = mor_cdc_read(spark, tdir, version - 1).collect()
    got = {r.k: r.payload for r in rows}
    assert len(rows) == len(got)
    assert state == got


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(_cdc_change, min_size=2, max_size=20),
    st.randoms(use_true_random=False),
)
def test_mor_cdc_feed_pruning_is_lossless(spark, tmp_path_factory, raw, rng):
    """Pruning-losslessness law (VERDICT r10 ask #1, the semantics
    side): the feed's pre-images — derived from the CHURNED-BUCKET
    read (`mor_cdc_read(zb_filter=dv.zb set)`) — must equal, row for
    row with values, the UNPRUNED reference (the full v{N-1} read
    semi-joined to the commit's keys), for arbitrary change histories
    chunked at arbitrary commit boundaries.  The pruning is sound
    because the frozen-bounds rule routes a key to the same bucket in
    every commit; this law would catch any drift in that invariant
    (e.g. a future re-bucketing commit that forgets to rewrite the DV
    zb column)."""
    from pyspark.sql import functions as F
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
    )

    changes = {(k, v): (d, p) for k, v, d, p in raw}
    changes = sorted(
        ((k, v, d, p) for (k, v), (d, p) in changes.items()),
        key=lambda t: (t[1], t[0]),
    )
    base = spark.createDataFrame(
        [(k, 1000 + k, 0) for k in range(12)],
        "k bigint, payload bigint, version int",
    )
    tdir = str(tmp_path_factory.mktemp("mor_cdc_prune_prop"))
    mor_cdc_init(spark, base, tdir, "k", n_files=4)
    bands = sorted({v for _k, v, _d, _p in changes})
    n_cuts = rng.randrange(0, min(2, len(bands) - 1) + 1)
    cuts = sorted(rng.sample(bands[1:], n_cuts)) if n_cuts else []
    chunks = [[] for _ in range(len(cuts) + 1)]
    for ch in changes:
        idx = sum(1 for c in cuts if ch[1] >= c)
        chunks[idx].append(ch)
    chunks = [c for c in chunks if c]
    version = 2
    for chunk in chunks:
        df = spark.createDataFrame(
            [(k, 2000 + p, v, "d" if d else "u") for k, v, d, p in chunk],
            "k bigint, payload bigint, version int, op string",
        )
        mor_cdc_commit(spark, df, tdir, version, n_files=4)
        version += 1

    import json as _json
    import os as _os

    for v in range(2, version):
        feed_pre = {
            r["k"]: r["pre_payload"]
            for r in mor_cdc_change_feed(spark, tdir, v).collect()
            if r["pre_payload"] is not None or r["change"] != "insert"
        }
        with open(_os.path.join(tdir, f"manifest-v{v}.json")) as f:
            m = _json.load(f)
        keys = (
            spark.read.json(_os.path.join(tdir, f"dv-v{v}"))
            .select(F.col("k").cast("bigint").alias("k"))
            .distinct()
        )
        ref_pre = {
            r["k"]: r["payload"]
            for r in mor_cdc_read(spark, tdir, v - 1)
            .join(F.broadcast(keys), "k", "left_semi")
            .collect()
        }
        assert feed_pre == ref_pre, (v, feed_pre, ref_pre)


_cu_change_a = st.tuples(
    st.integers(min_value=0, max_value=11),   # order key
    st.integers(min_value=1, max_value=4),    # version
    st.booleans(),                            # is_delete
    st.integers(min_value=0, max_value=99),   # payload -> (c, cents)
)
_cu_change_b = st.tuples(
    st.integers(min_value=0, max_value=3),    # customer key
    st.integers(min_value=1, max_value=4),    # version
    st.booleans(),                            # is_churn
    st.integers(min_value=0, max_value=99),   # payload -> segment
)


@settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(_cu_change_a, min_size=1, max_size=14),
    st.lists(_cu_change_b, min_size=1, max_size=8),
    st.randoms(use_true_random=False),
)
def test_catch_up_join_view_random_histories(
    spark, tmp_path_factory, raw_a, raw_b, rng
):
    """Bag-linearity law for the cursor-based catch-up: random change
    histories on BOTH tables (order upserts/deletes that may MOVE an
    order between customers; customer churn and segment moves),
    chunked into random commit sequences, with `catch_up_join_view`
    invoked at RANDOM interleaving points — every split of the
    backlog across catch-ups must land the view on the same fixpoint,
    checked against a fully independent driver-side recompute
    (keep-latest fold of both change lists, then the dict join).
    This is the claim that makes the refresh API safe to run on any
    cadence: per commit, hourly, or after a weekend backlog."""
    from nyc_data_pipeline_spark.operators.incremental import (
        build_join_view,
        catch_up_join_view,
    )
    from nyc_data_pipeline_spark.manifest_log import atomic_json_dump
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
    )
    import json as _json
    import os as _os

    def dedupe_sort(raw):
        d = {(k, v): (dead, p) for k, v, dead, p in raw}
        return sorted(
            ((k, v, dead, p) for (k, v), (dead, p) in d.items()),
            key=lambda t: (t[1], t[0]),
        )

    def chunk_by_version(changes, rng):
        bands = sorted({v for _k, v, _d, _p in changes})
        n_cuts = rng.randrange(0, min(2, len(bands) - 1) + 1)
        cuts = sorted(rng.sample(bands[1:], n_cuts)) if n_cuts else []
        out = [[] for _ in range(len(cuts) + 1)]
        for ch in changes:
            out[sum(1 for c in cuts if ch[1] >= c)].append(ch)
        return [c for c in out if c]

    ch_a = dedupe_sort(raw_a)
    ch_b = dedupe_sort(raw_b)
    base = str(tmp_path_factory.mktemp("cu_prop"))
    a_dir, b_dir, v_dir = (
        _os.path.join(base, d) for d in ("a", "b", "view")
    )
    a_base = spark.createDataFrame(
        [(k, k % 4, 100 + k, 0) for k in range(12)],
        "k bigint, c bigint, cents bigint, version int",
    )
    b_base = spark.createDataFrame(
        [(c, f"S{c}", 0) for c in range(4)],
        "c bigint, segment string, version int",
    )
    mor_cdc_init(spark, a_base, a_dir, "k", n_files=4)
    mor_cdc_init(spark, b_base, b_dir, "c", n_files=2)
    m1 = build_join_view(
        mor_cdc_read(spark, a_dir, 1).select("k", "c", "cents"),
        mor_cdc_read(spark, b_dir, 1).select("c", "segment"),
        v_dir,
    )
    m1.update({"a_version": 1, "b_version": 1})
    atomic_json_dump(m1, _os.path.join(v_dir, "manifest-v1.json"))

    # build an interleaved schedule of table commits + catch-up calls
    steps = []
    va = 2
    for chunk in chunk_by_version(ch_a, rng):
        df = spark.createDataFrame(
            [
                (k, p % 4, 2000 + p, v, "d" if dead else "u")
                for k, v, dead, p in chunk
            ],
            "k bigint, c bigint, cents bigint, version int, op string",
        )
        steps.append(("a", df, va))
        va += 1
    vb = 2
    for chunk in chunk_by_version(ch_b, rng):
        df = spark.createDataFrame(
            [
                (c, f"S{p % 6}", v, "d" if dead else "u")
                for c, v, dead, p in chunk
            ],
            "c bigint, segment string, version int, op string",
        )
        steps.append(("b", df, vb))
        vb += 1
    # commits of the SAME table stay in version order; catch-ups land
    # at random points (including possibly none until the end)
    order = sorted(range(len(steps)), key=lambda i: (rng.random(), i))
    by_table = {"a": [s for s in steps if s[0] == "a"],
                "b": [s for s in steps if s[0] == "b"]}
    seq = []
    ia = ib = 0
    for i in order:
        t = steps[i][0]
        if t == "a":
            seq.append(by_table["a"][ia]); ia += 1
        else:
            seq.append(by_table["b"][ib]); ib += 1
    for t, df, v in seq:
        mor_cdc_commit(spark, df, a_dir if t == "a" else b_dir, v,
                       n_files=4 if t == "a" else 2)
        if rng.random() < 0.4:
            catch_up_join_view(spark, v_dir, a_dir, b_dir)
    m = catch_up_join_view(spark, v_dir, a_dir, b_dir)
    got = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in spark.read.parquet(m["seg_view"]).collect()
        if r["n_rows"] > 0
    }

    # independent referee: keep-latest fold of both change lists
    a_state = {k: (k % 4, 100 + k, 0, False) for k in range(12)}
    for k, v, dead, p in ch_a:
        if k not in a_state or v > a_state[k][2]:
            a_state[k] = (p % 4, 2000 + p, v, dead)
    b_state = {c: (f"S{c}", 0, False) for c in range(4)}
    for c, v, dead, p in ch_b:
        if c not in b_state or v > b_state[c][1]:
            b_state[c] = (f"S{p % 6}", v, dead)
    want: dict = {}
    for k, (c, cents, _v, dead) in a_state.items():
        if dead or c not in b_state or b_state[c][2]:
            continue
        seg = b_state[c][0]
        cur = want.setdefault(seg, [0, 0])
        cur[0] += 1
        cur[1] += cents
    assert got == {s: tuple(v) for s, v in want.items()}


# --- Transaction catalog: random interleavings stay snapshot-consistent -----


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(st.lists(
    st.sampled_from(["a", "b", "both", "rerun", "lag_flip"]),
    min_size=1, max_size=8,
))
def test_txn_catalog_random_histories_consistent(
    spark, tmp_path_factory, ops
):
    """The catalog pointer against a Python model over RANDOM command
    sequences — single-table transactions, multi-table transactions,
    idempotent reruns, and the crash shape (table manifest published,
    flip lagging one op behind).  Invariants: catalog versions are
    gapless and match the model's flip history exactly; every
    historical catalog version still resolves BOTH tables to the
    versions that were simultaneously visible (each table commit adds
    exactly 10 keys, so table t at manifest version V must read
    100 + 10*(V-1) rows — any torn pointer breaks the arithmetic)."""
    import pyspark.sql.functions as F

    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_init,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        catalog_log,
        catalog_load,
        catalog_read,
        txn_catalog_init,
        txn_commit,
    )

    tmp = tmp_path_factory.mktemp("txnprop")
    dirs = {}
    for t in ("a", "b"):
        base = spark.range(100).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("cents"),
            F.lit(0).alias("version"),
        )
        dirs[t] = str(tmp / t)
        mor_cdc_init(spark, base, dirs[t], "k", n_files=4)
    cat = str(tmp / "cat")
    txn_catalog_init(cat, {t: (d, 1) for t, d in dirs.items()})

    def wave(m):
        return spark.range(1000 * m, 1000 * m + 10).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + m).alias("cents"),
            F.lit(m).alias("version"),
            F.lit("u").alias("op"),
        )

    table_v = {"a": 1, "b": 1}       # latest PUBLISHED manifest
    flipped = {"a": 1, "b": 1}       # what the catalog points at
    model = [dict(flipped)]          # catalog v1..vN
    pending = None                   # table committed but not flipped
    for op in ops:
        if op == "rerun":
            txn_commit(cat, dict(flipped))  # idempotent no-op
            continue
        if op == "lag_flip":
            if pending is None:
                # publish a manifest WITHOUT flipping (the crash shape)
                t = "a" if table_v["a"] <= table_v["b"] else "b"
                table_v[t] += 1
                mor_cdc_commit(
                    spark, wave(table_v[t]), dirs[t], table_v[t],
                    n_files=4,
                )
                pending = t
            else:
                # complete the lagging flip
                flipped[pending] = table_v[pending]
                txn_commit(cat, {pending: table_v[pending]})
                model.append(dict(flipped))
                pending = None
            continue
        tables = ("a", "b") if op == "both" else (op,)
        updates = {}
        for t in tables:
            if t == pending:
                pending = None  # the lagging flip rides this txn
            table_v[t] += 1
            mor_cdc_commit(
                spark, wave(table_v[t]), dirs[t], table_v[t], n_files=4
            )
            updates[t] = table_v[t]
            flipped[t] = table_v[t]
        txn_commit(cat, updates)
        model.append(dict(flipped))
    # gapless history matching the model flip-for-flip
    assert catalog_log(cat).head() == len(model)
    for v, want in enumerate(model, start=1):
        got = catalog_load(cat, v)["tables"]
        assert {t: got[t]["version"] for t in want} == want
    # every historical snapshot reads both tables at consistent counts
    for v in (1, (len(model) + 1) // 2, len(model)):
        snap = model[v - 1]
        for t in ("a", "b"):
            n = catalog_read(spark, cat, t, v).count()
            assert n == 100 + 10 * (snap[t] - 1), (v, t, snap)
    # a lagging unflipped manifest never leaked into the latest catalog
    if pending is not None:
        got = catalog_load(cat)["tables"][pending]["version"]
        assert got == flipped[pending] < table_v[pending]
