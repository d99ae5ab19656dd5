"""Behavioral tests for the LLM-pipeline operators beyond oracle parity:
recall/precision sanity of the approximate paths against their exact
referees, and determinism of the multimodal decode plumbing."""

import pytest
import pyspark.sql.functions as F

from nyc_data_pipeline_spark.catalog import load_table
from nyc_data_pipeline_spark.multimodal.binary_ops import (
    attach_binary_payload,
    decode_media,
    fake_decode_features,
)
from nyc_data_pipeline_spark.functions.vectors import spark_sq_norm
from nyc_data_pipeline_spark.registry import QUERIES, load_all
from nyc_data_pipeline_spark.similarity.brute_force import N_QUERIES, cosine_topk
from nyc_data_pipeline_spark.similarity.pandas_path import cosine_topk_pandas

load_all()


def test_minhash_candidates_capture_high_jaccard_pairs(spark, sf_dir):
    """Every pair MinHash-LSH verifies at θ=0.5 must genuinely have
    jaccard ≥ 0.5 (verification is exact), and the high-similarity
    pairs found by the exact inverted index (θ=0.85) must all surface
    through the LSH bands (4x4 bands at j≥0.85 ⇒ P(miss) ≈ (1-j⁴)⁴ < 4%
    per pair; the fixture's pairs are comfortably above threshold)."""
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_jaccard_unigram"](spark, sf_dir).collect()
    }
    assert all(j >= 0.5 for j in lsh.values())
    found = sum(1 for p in exact if p in lsh)
    assert found >= 0.9 * len(exact), f"LSH recall {found}/{len(exact)}"


def test_lsh_topk_is_subset_quality(spark, sf_dir):
    """LSH top-k neighbors must be real vectors with correct cosines
    (exact rerank) — spot-check one query against brute force."""
    bf = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in QUERIES["sim_topk_bruteforce"](spark, sf_dir).collect()
    }
    lsh_rows = QUERIES["sim_topk_lsh"](spark, sf_dir).collect()
    assert len(lsh_rows) > 0
    # cosines in LSH output agree with brute-force scoring where pairs overlap
    for r in lsh_rows:
        if (r.query_id, r.neighbor_id) in bf:
            assert r.cosine == pytest.approx(bf[(r.query_id, r.neighbor_id)], abs=1e-12)


def _topk_inputs(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    v = e.selectExpr("vec_id", "embedding", f"{spark_sq_norm('embedding')} AS sq")
    q = v.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS query_id", "embedding AS q_emb", "sq AS q_sq"
    )
    return q, v


def test_pandas_topk_bit_identical_across_batches_and_partitions(spark, sf_dir):
    """The mapInPandas path scores batch by batch.  With 7-row Arrow
    batches, five candidate partitions, and a candidate set small
    enough to leave partitions empty, it still equals the JVM fold row
    for row, cosines compared with ==."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    q, v = _topk_inputs(spark, sf_dir)
    bf = sorted(QUERIES["sim_topk_bruteforce"](spark, sf_dir).collect())
    spark.conf.set(key, "7")
    try:
        assert sorted(QUERIES["sim_topk_pandas_udf"](spark, sf_dir).collect()) == bf
        assert sorted(cosine_topk_pandas(q, v.repartition(5)).collect()) == bf
        few = v.filter(F.col("vec_id") < 3).repartition(5)
        got = sorted(cosine_topk_pandas(q, few).collect())
        assert got and got == sorted(cosine_topk(q, few).collect())
    finally:
        spark.conf.set(key, old)


def test_zero_norm_cosine_is_null_on_both_paths(spark, sf_dir, tmp_path):
    """A zero-norm vector's cosine is NULL on the JVM fold (`try_divide`;
    ANSI `/` would raise) and on the mapInPandas path (numpy NaN sent
    back as null), which is the DuckDB oracle's value.  On a 24-row
    embeddings table whose vec_id 3 (a query) is all zeros, both
    queries equal each other and the oracle SQL run on that table, and
    the zero vector's five neighbours are NULL-cosine rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_data_pipeline_spark.catalog import TABLES, table_path
    from nyc_data_pipeline_spark.registry import ORACLE
    from nyc_data_pipeline_spark.testing import compare_frames, run_oracle

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).slice(0, 24)
    dims = len(t.column("embedding")[0].as_py())
    emb = t.column("embedding").to_pylist()
    emb[t.column("vec_id").to_pylist().index(3)] = [0.0] * dims
    t = t.set_column(
        t.schema.get_field_index("embedding"),
        t.schema.field("embedding"),
        pa.array(emb, t.schema.field("embedding").type),
    )
    small = str(tmp_path / "sf_zero_norm")
    os.makedirs(small)
    pq.write_table(t, os.path.join(small, "embeddings.parquet"))
    for name in TABLES:  # the oracle connection views every table
        if name != "embeddings":
            os.symlink(table_path(sf_dir, name), table_path(small, name))
    bf = QUERIES["sim_topk_bruteforce"](spark, small).toPandas()
    pd_path = QUERIES["sim_topk_pandas_udf"](spark, small).toPandas()
    assert compare_frames(bf, pd_path) == []
    assert compare_frames(bf, run_oracle(ORACLE["sim_topk_bruteforce"], small)) == []
    zero = bf[bf["query_id"] == 3]
    assert len(zero) == 5 and zero["cosine"].isna().all()
    assert bf[bf["query_id"] != 3]["cosine"].notna().all()


def test_pandas_topk_empty_query_block(spark, sf_dir):
    q, v = _topk_inputs(spark, sf_dir)
    out = cosine_topk_pandas(q.filter(F.lit(False)), v)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.collect() == []


def test_exact_dedup_collapses_recrawl(spark, sf_dir):
    rows = QUERIES["dedup_exact_hash"](spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs  # one group per distinct text
    dup_groups = [r for r in rows if r.n_copies == 2]
    assert len(dup_groups) == sum(
        1 for r in load_table(spark, sf_dir, "documents").collect() if r.doc_id % 7 == 0
    )
    # canonical id is always the original, never the re-crawled copy
    assert all(r.keep_id < 1000000 for r in rows)


def test_module_level_udf_runs_from_a_driver_outside_the_repo(tmp_path):
    """Python workers unpickle module-level UDF bodies (here
    `binary_ops._fake_feature_batches`) by importing the package, so
    the session puts the package on the workers' path: a driver
    started from another directory, with no PYTHONPATH, still runs
    them.  Runs in a fresh interpreter and JVM, since the worker
    environment is fixed when the SparkContext starts."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "driver.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "import pyspark.sql.functions as F\n"
        "from nyc_data_pipeline_spark.multimodal.binary_ops import (\n"
        "    attach_binary_payload, fake_decode_features)\n"
        "from nyc_data_pipeline_spark.session import get_spark\n"
        "spark = get_spark(app_name='outside-repo', cpus=1)\n"
        "docs = spark.range(3).select(F.col('id').alias('doc_id'),\n"
        "    F.repeat(F.lit('ab'), F.col('id').cast('int') + 1).alias('text'))\n"
        "rows = fake_decode_features(attach_binary_payload(docs))\n"
        "print('N_BYTES', sorted(r.n_bytes for r in rows.collect()))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    run = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "N_BYTES [2, 4, 6]" in run.stdout, run.stderr[-3000:]


def test_multimodal_decode_deterministic_and_schema_stable(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(50)
    b = attach_binary_payload(d)
    f1 = fake_decode_features(b).orderBy("doc_id").collect()
    f2 = fake_decode_features(b).orderBy("doc_id").collect()
    assert f1 == f2
    r = f1[0]
    assert r.n_bytes > 0 and len(r.head_hex) == 8 and len(r.slice_md5) == 32
    hist = [int(x) for x in r.hist.split(",")]
    assert len(hist) == 16 and sum(hist) == r.n_bytes
    # metadata byte length equals payload length (no silent truncation)
    meta = {x.doc_id: x.meta.n_bytes for x in b.collect()}
    assert all(meta[x.doc_id] == x.n_bytes for x in f1)


def test_real_decode_ppm_header_and_raster():
    """P6 parser: comments between header tokens, arbitrary whitespace,
    raster offset, and channel layout all land on known pixel bytes."""
    raster = bytes(range(24))  # 4x2 RGB
    ppm = b"P6\n# a comment\n4   2\n# another\n255\n" + raster
    m = decode_media(ppm, "image/x-portable-pixmap")
    assert (m["width"], m["height"], m["maxval"]) == (4, 2, 255)
    assert m["pixels"] == raster
    with pytest.raises(ValueError):  # truncated raster fails loudly
        decode_media(ppm[:-1], "image/x-portable-pixmap")
    with pytest.raises(ValueError):  # wrong magic
        decode_media(b"P5\n1 1\n255\n\x00", "image/x-portable-pixmap")


def _make_bmp(width: int, height: int, rgb_rows: list[bytes],
              top_down: bool = False) -> bytes:
    """Hand-roll a 24-bit BI_RGB BMP (BGR storage, 4-byte row padding,
    bottom-up unless top_down)."""
    import struct

    stride = (3 * width + 3) & ~3
    rows = [
        bytes(row[3 * c + (2 - k)] for c in range(width) for k in range(3))
        for row in rgb_rows  # RGB -> BGR per pixel
    ]
    order = rows if top_down else rows[::-1]
    raster = b"".join(r + b"\x00" * (stride - 3 * width) for r in order)
    data_off = 14 + 40
    hdr = struct.pack("<2sIHHI", b"BM", data_off + len(raster), 0, 0, data_off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, -height if top_down else height,
        1, 24, 0, len(raster), 2835, 2835, 0, 0,
    )
    return hdr + info + raster


def test_real_decode_bmp_bottom_up_and_top_down():
    """BMP parser: BGR→RGB flip, 4-byte row padding, and both row
    orders produce identical row-major RGB output."""
    rgb_rows = [bytes(range(9)), bytes(range(9, 18))]  # 3x2 RGB
    want = b"".join(rgb_rows)
    for top_down in (False, True):
        m = decode_media(_make_bmp(3, 2, rgb_rows, top_down), "image/bmp")
        assert (m["width"], m["height"], m["maxval"]) == (3, 2, 255)
        assert m["pixels"] == want
    with pytest.raises(ValueError):  # compressed / non-24bpp rejected
        bad = bytearray(_make_bmp(3, 2, rgb_rows))
        bad[28] = 8  # bpp -> 8
        decode_media(bytes(bad), "image/bmp")


def test_real_decode_unsupported_mime_fails_loudly():
    with pytest.raises(ValueError):
        decode_media(b"\x89PNG", "image/png")


def test_real_decode_query_matches_fixture_bytes(spark, sf_dir):
    """mm_decode_features end-to-end: decoded channel sums equal the
    sums computed straight from the document bytes it was built from."""
    from nyc_data_pipeline_spark.multimodal.binary_ops import (
        PPM_W,
        attach_ppm_payload,
        real_decode_features,
    )

    d = load_table(spark, sf_dir, "documents").limit(40)
    feats = {r.doc_id: r for r in
             real_decode_features(attach_ppm_payload(d)).collect()}
    assert feats
    for row in d.collect():
        raw = row.text.encode("utf-8")
        if len(raw) < 3 * PPM_W * 4:
            assert row.doc_id not in feats
            continue
        h = 2 + row.doc_id % 3
        px = raw[: 3 * PPM_W * h]
        f = feats[row.doc_id]
        assert (f.width, f.height, f.n_px) == (PPM_W, h, PPM_W * h)
        assert f.sum_r == sum(px[0::3])
        assert f.sum_g == sum(px[1::3])
        assert f.sum_b == sum(px[2::3])
        assert (f.px_min, f.px_max) == (min(px), max(px))


def test_simhash_hamming_symmetric_bound(spark, sf_dir):
    rows = QUERIES["dedup_simhash"](spark, sf_dir).collect()
    assert all(0 <= r.hamming <= 6 and r.doc_a < r.doc_b for r in rows)


def test_repetition_metrics_flags_looping_doc(spark):
    """A doc that is one phrase repeated must be flagged; a diverse doc
    must not.  (Semantic golden test — the oracle only proves
    cross-engine agreement, not that the thresholds mean anything.)"""
    from nyc_data_pipeline_spark.functions.textops import (
        text_repetition_metrics,
    )
    from nyc_data_pipeline_spark import catalog

    rows = [
        (1, "buy now " * 50, "en", "src0", 400),  # 2 distinct tokens
        (2, " ".join(f"w{i}" for i in range(100)), "en", "src0", 400),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = catalog.load_table
    catalog.load_table = lambda s, sf, name: df
    try:
        import nyc_data_pipeline_spark.functions.textops as tx
        orig_tx = tx.load_table
        tx.load_table = lambda s, sf, name: df
        try:
            out = {
                r["doc_id"]: r.asDict()
                for r in text_repetition_metrics(spark, "ignored").collect()
            }
        finally:
            tx.load_table = orig_tx
    finally:
        catalog.load_table = orig
    assert out[1]["is_repetitive"] is True
    assert out[1]["unique_ratio"] < 0.05
    assert out[1]["top_bigram_frac"] > 0.4
    assert out[2]["is_repetitive"] is False
    assert out[2]["unique_ratio"] == 1.0


def test_pii_scrub_masks_and_counts(spark):
    from nyc_data_pipeline_spark import functions
    import nyc_data_pipeline_spark.functions.textops as tx

    rows = [
        (1, "mail me at a.b+c@example.com or ping 10.0.0.1 now", "en", "s", 40),
        (2, "no pii here, just text", "en", "s", 20),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = tx.load_table
    tx.load_table = lambda s, sf, name: df
    try:
        out = {r["doc_id"]: r.asDict() for r in tx.text_pii_scrub(spark, "x").collect()}
    finally:
        tx.load_table = orig
    assert out[1]["n_emails"] == 1 and out[1]["n_ips"] == 1
    assert "<EMAIL>" in out[1]["scrubbed"] and "<IP>" in out[1]["scrubbed"]
    assert "example.com" not in out[1]["scrubbed"]
    assert out[1]["has_pii"] is True
    assert out[2]["has_pii"] is False and out[2]["scrubbed"] == rows[1][1]


def test_lang_balanced_rates_equalize(spark):
    """Every language's keep-rate must target the smallest language's
    count; the smallest language keeps (close to) everything."""
    import nyc_data_pipeline_spark.pipelines.mixing as mx
    from pyspark.sql import functions as F

    rows = [(i, f"t{i}", "en" if i % 10 else "de", "s", 10) for i in range(1, 2001)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = mx.load_table
    mx.load_table = lambda s, sf, name: df
    try:
        out = mx.sample_lang_balanced(spark, "x")
        rates = {
            r["lang"]: r["rate_permille"]
            for r in out.select("lang", "rate_permille").distinct().collect()
        }
        kept = {
            r["lang"]: r["n"]
            for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
    finally:
        mx.load_table = orig
    # de: 200 docs (smallest) -> rate 1000; en: 1800 -> rate 111
    assert rates["de"] == 1000
    assert rates["en"] == 200 * 1000 // 1800
    assert kept["de"] == 200
    # achieved en sample is within 3x sqrt of the ~200 target
    assert abs(kept["en"] - 200) < 3 * 200 ** 0.5 + 20


def test_knn_vote_prefers_majority_label(spark):
    """Construct a corpus where query 0's nearest neighbors are label 7
    by construction; the vote must say 7 and label_agrees False."""
    import nyc_data_pipeline_spark.similarity.negatives as ng

    # query 0: unit-x vector, label 0.  40 voters must exist (N_VOTERS
    # queries are vec_id < 40) -- make ids 0..39 queries, and give every
    # vector a position on the unit circle: ids 100..106 sit exactly on
    # unit-x (cos=1) with label 7; everything else is far.
    import math

    rows = []
    for i in range(40):
        ang = 2.5 + i * 0.05  # far from unit-x
        rows.append((i, [math.cos(ang), math.sin(ang)], i % 5))
    for j in range(100, 107):
        rows.append((j, [1.0, 0.0], 7))
    rows[0] = (0, [1.0, 0.0], 0)  # query 0 at unit-x, label 0
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        "vec_id long, embedding array<float>, label int",
    )
    orig = ng.load_table
    ng.load_table = lambda s, sf, name: df
    try:
        out = {
            r["query_id"]: r.asDict()
            for r in ng.emb_knn_label_vote(spark, "x").collect()
        }
    finally:
        ng.load_table = orig
    assert out[0]["predicted_label"] == 7
    assert out[0]["n_votes"] == 7
    assert out[0]["label_agrees"] is False


def test_hll_sketch_estimates_within_error_and_merge(spark, sf_dir):
    """Sketch estimates must land within HLL error bounds of the exact
    distinct counts, and the 'ALL' row (merged from the per-type
    partial states, not a rescan) must match the exact all-types
    reach within the same bound."""
    from nyc_data_pipeline_spark.operators.sketches import approx_hll_user_reach
    from nyc_data_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    rows = approx_hll_user_reach(spark, sf_dir).collect()
    got = {r["event_type"]: (r["exact_distinct"], r["within_5pct"]) for r in rows}
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["ALL"] = ev.select("user_id").distinct().count()
    assert set(got) == set(exact)
    for k, (exact_got, within) in got.items():
        assert exact_got == exact[k], (k, exact_got, exact[k])
        assert within is True, k


def test_semantic_dedup_covers_corpus_and_keeps_reps(spark, sf_dir):
    """SemDeDup invariants: every vector appears exactly once; each
    cell elects exactly one keeper (its min id) and the keeper is
    kept; every dropped member is over-threshold to its keeper; drops
    exist in the fixture (the threshold sits inside the isotropic
    cosine range)."""
    from nyc_data_pipeline_spark.dedup.embedding import SEM_TAU
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["dedup_semantic_cluster"](spark, sf_dir).collect()
    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == n_corpus
    assert len({r.vec_id for r in rows}) == n_corpus
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cid, []).append(r)
    for cid, members in by_cell.items():
        reps = {r.rep_id for r in members}
        assert len(reps) == 1
        rep_id = reps.pop()
        assert rep_id == min(r.vec_id for r in members)
        for r in members:
            if r.vec_id == rep_id:
                assert r.keep
            elif not r.keep:
                assert r.rep_cosine >= SEM_TAU
            else:
                assert r.rep_cosine < SEM_TAU
    assert any(not r.keep for r in rows)  # the sweep actually prunes


def test_fuzzy_trigram_join_recovers_every_injected_misspelling(spark, sf_dir):
    """Each name's middle-character-deleted variant must match back to
    its source at distance exactly 1 (the blocking may surface extra
    near-matches between genuinely close domain strings — all must
    still verify within the distance budget)."""
    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["join_fuzzy_trigram"](spark, sf_dir).collect()
    names = {
        r.name
        for r in spark.read.parquet(f"{sf_dir}/part.parquet")
        .selectExpr("lower(p_name) AS name")
        .distinct()
        .collect()
    }
    def dirty(n):
        mid = max(1, len(n) // 2)
        return n[: mid - 1] + n[mid:]

    matched = {(r.dirty_name, r.clean_name) for r in rows}
    for n in names:
        assert (dirty(n), n) in matched  # injected typo recovered
    assert all(r.distance <= 1 for r in rows)
    assert all(r.n_parts >= 1 for r in rows)


def _bpe_apply(spark, words, pair):
    """Run apply_merge over literal words; return {word: [symbols]}."""
    from nyc_data_pipeline_spark.functions.bpe import _sym_rows, apply_merge

    wdf = spark.createDataFrame([(w, 1) for w in words], "word string, wc long")
    top = spark.createDataFrame([pair], "a string, b string")
    out = apply_merge(_sym_rows(wdf), top).collect()
    merged = {}
    for r in sorted(out, key=lambda r: (r.word, r.pos)):
        merged.setdefault(r.word, []).append(r.sym)
    return merged


def test_bpe_merge_is_greedy_left_to_right(spark):
    """Overlapping matches (left == right) must merge greedily and
    non-overlapping ones everywhere: the Sennrich semantics."""
    m = _bpe_apply(spark, ["aaaa", "aaa", "banana", "b"], ("a", "a"))
    assert m["aaaa"] == ["aa", "aa"]
    assert m["aaa"] == ["aa", "a"]
    assert m["banana"] == ["b", "a", "n", "a", "n", "a"]  # no (a,a) pair
    assert m["b"] == ["b"]


def test_bpe_merge_applies_at_every_site(spark):
    m = _bpe_apply(spark, ["banana", "ananas"], ("a", "n"))
    assert m["banana"] == ["b", "an", "an", "a"]
    assert m["ananas"] == ["an", "an", "a", "s"]


def test_bpe_round1_top_pair_is_applied_merge(spark, sf_dir):
    """Round 1's rank-1 pair must vanish as a pair of singles in round
    2 (its mass moves into merged-symbol pairs)."""
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["text_bpe_merge_step"](spark, sf_dir).collect()
    r1 = [r for r in rows if r.round == 1]
    r2 = [r for r in rows if r.round == 2]
    assert len(r1) == 10 and len(r2) == 10
    top = next(r for r in r1 if r.rank == 1)
    # the merged pair can no longer dominate round 2 as two singles
    assert all(
        not (r.left_sym == top.left_sym and r.right_sym == top.right_sym)
        or r.pair_cnt < top.pair_cnt
        for r in r2
    )
    assert all(r.pair_cnt > 0 for r in rows)


def test_dsir_weights_separate_target_from_raw(spark, sf_dir):
    """Importance weights must rank the target slice above the rest on
    average (the selection would be vacuous otherwise), cover every
    doc exactly once, and mark selected = (score > 0)."""
    from nyc_data_pipeline_spark.functions.dsir import TARGET_SRC
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["text_dsir_importance"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    assert len(rows) == len(docs)
    assert len({r.doc_id for r in rows}) == len(docs)
    src = {d.doc_id: d.source for d in docs}
    tgt = [r.score_micro for r in rows if src[r.doc_id] in TARGET_SRC]
    rest = [r.score_micro for r in rows if src[r.doc_id] not in TARGET_SRC]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)
    assert all(r.selected == (r.score_micro > 0) for r in rows)


def test_neyman_allocation_respects_budget_and_caps(spark, sf_dir):
    from nyc_data_pipeline_spark.pipelines.splits import SAMPLE_DIV
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["sample_neyman_threshold"](spark, sf_dir).collect()
    n_total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    budget = n_total // SAMPLE_DIV
    assert sum(r.alloc for r in rows) <= budget  # floor-div never overshoots
    assert all(0 <= r.alloc <= r.n_docs for r in rows)
    assert all(r.neyman_w_micro > 0 for r in rows)  # fixture has variance
    assert sum(r.n_selected for r in rows) > 0
    # threshold sampling achieves the allocation in expectation: the
    # corpus-wide achieved count stays within 3 sigma of the target
    import math

    target = sum(r.alloc for r in rows)
    sd = math.sqrt(sum(r.alloc * (1 - r.alloc / r.n_docs) for r in rows))
    assert abs(sum(r.n_selected for r in rows) - target) <= 3 * sd + 3


def test_temperature_mix_upweights_tail_languages(spark, sf_dir):
    """alpha=1/2 exposure smoothing: every language's keep-rate is
    valid permille, tail languages get strictly higher rates than the
    head, and no language is dropped entirely."""
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["sample_temperature_mix"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    raw = {}
    for d in docs:
        raw[d.lang] = raw.get(d.lang, 0) + 1
    rates = {r.lang: r.rate_permille for r in rows}
    assert set(rates) == set(raw)  # every language survives
    assert all(0 < v <= 1000 for v in rates.values())
    head = max(raw, key=raw.get)
    assert all(
        rates[lang] >= rates[head] for lang in rates
    )  # smaller corpus -> never a lower keep-rate than the head
    assert all(abs(r.weight - 1000.0 / r.rate_permille) < 1e-12 for r in rows)


def test_join_cardinality_bound_and_min_row(spark, sf_dir):
    """AMS inner-product law: every row's estimate is >= the true join
    size; the published estimate (hrow = -1) is the min over rows."""
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["approx_join_cardinality"](spark, sf_dir).collect()
    per_row = [r for r in rows if r.hrow >= 0]
    min_row = next(r for r in rows if r.hrow == -1)
    assert len(per_row) == 4
    assert all(r.bound_ok for r in rows)
    assert all(r.est >= r.true_size for r in rows)
    assert min_row.est == min(r.est for r in per_row)
    true = {r.true_size for r in rows}
    assert len(true) == 1  # one referee value
    # the exact referee is itself checkable from raw tables
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    assert true.pop() == o.join(c, o.o_custkey == c.c_custkey).count()


def test_span_coverage_interval_union_invariants(spark, sf_dir):
    """Span-coverage sanity: bounds hold row-wise (a doc's covered
    tokens never exceed its length; a doc with any duplicated span
    covers at least W and at most dup_spans·W tokens; zero-dup docs
    cover zero), and flagged spans are genuinely cross-doc — every
    doc with dup_spans > 0 shares at least one W-token span string
    with a DIFFERENT document (recomputed from raw postings)."""
    from nyc_data_pipeline_spark.dedup.spans import SPAN_W, span_posting
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["dedup_span_coverage"](spark, sf_dir).collect()
    assert rows and any(r.dup_spans > 0 for r in rows)
    for r in rows:
        assert r.n_spans == r.n_tokens - SPAN_W + 1
        assert 0 <= r.dup_spans <= r.n_spans
        assert 0 <= r.covered_tokens <= r.n_tokens
        if r.dup_spans == 0:
            assert r.covered_tokens == 0 and r.dup_frac == 0.0
        else:
            assert SPAN_W <= r.covered_tokens <= r.dup_spans * SPAN_W
        assert abs(r.dup_frac - r.covered_tokens / r.n_tokens) < 1e-12

    posting = span_posting(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).select("doc_id", "span")
    cross = {
        r.doc_id
        for r in posting.alias("a")
        .join(
            posting.alias("b"),
            (F.col("a.span") == F.col("b.span"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
        .collect()
    }
    assert {r.doc_id for r in rows if r.dup_spans > 0} == cross


def test_kmv_sketch_set_algebra(spark, sf_dir):
    """KMV/theta invariants on the sf0.001 fixture: sketches are
    UNSATURATED (< K distinct customers per priority), so every
    estimate must equal its exact referee; inclusion-exclusion holds
    on the exact columns; every bound_ok is true; union theta never
    exceeds either input theta (merge keeps the K smallest)."""
    from nyc_data_pipeline_spark.operators.sketches import KMV_K
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = {r.measure: r for r in QUERIES["approx_kmv_set_ops"](spark, sf_dir).collect()}
    assert set(rows) == {"A", "B", "union", "intersect"}
    assert all(r.bound_ok for r in rows.values())
    assert rows["A"].n_keep < KMV_K  # fixture is the unsaturated regime
    for r in rows.values():
        assert r.est == r.exact
    assert (
        rows["A"].exact + rows["B"].exact - rows["union"].exact
        == rows["intersect"].exact
    )
    assert rows["union"].theta <= min(rows["A"].theta, rows["B"].theta)


def test_bm25_ranking_invariants(spark, sf_dir):
    """BM25 sanity: each query returns exactly TOPK docs with ranks
    1..K and non-increasing scores (doc_id tiebreak); every returned
    doc genuinely contains at least one query term and n_terms_hit
    matches a recount from the raw text."""
    from nyc_data_pipeline_spark.functions.bm25 import (
        BM25_QUERIES,
        BM25_TOPK,
    )
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["text_bm25_topk"](spark, sf_dir).collect()
    terms = dict(BM25_QUERIES)
    texts = {
        r.doc_id: set(r.text.lower().split())
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(terms)
    for qid, sample in by_q.items():
        sample.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in sample] == list(range(1, BM25_TOPK + 1))
        for a, b in zip(sample, sample[1:]):
            assert (a.score_micro, -a.doc_id) >= (b.score_micro, -b.doc_id)
            assert a.score_micro >= b.score_micro
        for r in sample:
            hit = texts[r.doc_id] & set(terms[qid])
            assert hit and len(hit) == r.n_terms_hit


def test_bigram_entropy_bounds_and_recount(spark, sf_dir):
    """Entropy sanity: 0 <= H <= ln(distinct next tokens) per language
    (in micro-nats); n_bigrams recounts from raw token arrays; the
    h_num/n ratio reproduces the emitted double exactly."""
    import math

    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["text_bigram_entropy"](spark, sf_dir).collect()
    assert rows
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    import re

    recount = {}
    for d in docs:
        toks = [t for t in re.split(r"[^a-z0-9]+", d.text.lower()) if t]
        if len(toks) >= 2:
            recount[d.lang] = recount.get(d.lang, 0) + len(toks) - 1
    for r in rows:
        assert r.n_bigrams == recount[r.lang]
        assert 0 <= r.entropy_micronats <= math.log(r.distinct_bigrams) * 1e6
        assert r.entropy_micronats == r.h_num_micro / r.n_bigrams


def test_topk_sequences_recount_and_order(spark, sf_dir):
    """Sequence top-k invariants: rows are ordered by count desc with
    trigram tiebreak; every count recomputes from a driver-side rebuild
    of the per-user event streams; shares are floor(n*1e6/total)."""
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["events_topk_sequences"](spark, sf_dir).collect()
    assert len(rows) == 20
    for a, b in zip(rows, rows[1:]):
        assert (-a.n_occurrences, a.trigram) <= (-b.n_occurrences, b.trigram)

    ev = sorted(
        spark.read.parquet(f"{sf_dir}/events.parquet").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    from collections import Counter

    grams = Counter()
    for i in range(len(ev) - 2):
        a, b, c = ev[i], ev[i + 1], ev[i + 2]
        if a.user_id == b.user_id == c.user_id:
            grams[f"{a.event_type}>{b.event_type}>{c.event_type}"] += 1
    total = sum(grams.values())
    for r in rows:
        assert grams[r.trigram] == r.n_occurrences
        assert r.share_ppm == r.n_occurrences * 1_000_000 // total
    assert rows[0].n_occurrences == max(grams.values())


def test_benford_audit_partition_and_flags(spark, sf_dir):
    """Benford audit: digits 1..9 partition all orders, observed ppm
    shares telescope to ~1e6, expected ppm are the Benford constants,
    and the synthetic fixture (non-Benford by construction) trips at
    least one flag."""
    from nyc_data_pipeline_spark.pipelines.quality import BENFORD_PPM
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = sorted(
        QUERIES["dq_benford_digits"](spark, sf_dir).collect(),
        key=lambda r: r.digit,
    )
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert [r.digit for r in rows] == list(range(1, 10))
    assert sum(r.n_orders for r in rows) == n_orders
    assert [r.exp_ppm for r in rows] == BENFORD_PPM
    assert 1_000_000 - 9 <= sum(r.obs_ppm for r in rows) <= 1_000_000
    for r in rows:
        assert r.dev_ppm == r.obs_ppm - r.exp_ppm
        assert r.flagged == (abs(r.dev_ppm) > 5000)
    assert any(r.flagged for r in rows)


def test_point_in_polygon_against_reference_raycaster(spark, sf_dir):
    """PIP correctness: counts partition all events, and the verdict
    for every event matches an independent pure-Python even-odd ray
    caster over the same synthesized coordinates."""
    from nyc_data_pipeline_spark.operators.geo import (
        LAT0,
        LON0,
        MIX_LAT,
        MIX_LON,
        PIP_POLY,
        SPAN,
    )
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["geo_point_in_polygon"](spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    assert sum(r.n_events for r in rows) == len(ev)

    def synth(eid):
        return (
            LAT0 + ((eid % SPAN) * (MIX_LAT % SPAN)) % SPAN,
            LON0 + ((eid % SPAN) * (MIX_LON % SPAN)) % SPAN,
        )

    def inside(py, px):
        c = 0
        n = len(PIP_POLY)
        for i in range(n):
            (ay, ax), (by, bx) = PIP_POLY[i], PIP_POLY[(i + 1) % n]
            if (ay > py) != (by > py) and (px - ax) * (by - ay) * (
                1 if by > ay else -1
            ) < (bx - ax) * (py - ay) * (1 if by > ay else -1):
                c += 1
        return c % 2 == 1

    from collections import Counter

    want = Counter()
    for r in ev:
        want[(r.event_type, inside(*synth(r.event_id)))] += 1
    got = {(r.event_type, r.inside): r.n_events for r in rows}
    assert got == dict(want)


def test_rfm_quintiles_balanced_and_recounted(spark, sf_dir):
    """RFM-quintile invariants: every customer appears once; each
    dimension's quintiles are balanced to within one customer (exact
    rank cuts, not value cuts); the two-phase bucketed rank agrees
    with a driver-side argsort on all three dimensions; segment labels
    follow the CASE definition."""
    from collections import Counter

    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["orders_rfm_quintiles"](spark, sf_dir).collect()
    n = len(rows)
    assert len({r.custkey for r in rows}) == n
    for dim in ("r_q", "f_q", "m_q"):
        sizes = Counter(getattr(r, dim) for r in rows)
        assert set(sizes) == {1, 2, 3, 4, 5}
        assert max(sizes.values()) - min(sizes.values()) <= 1
    # independent rank check on the monetary dimension
    order = sorted(rows, key=lambda r: (r.monetary_cents, r.custkey))
    for rank, r in enumerate(order, start=1):
        assert r.m_q == 1 + (5 * (rank - 1)) // n
    for r in rows:
        if r.r_q >= 4 and r.f_q >= 4 and r.m_q >= 4:
            want = "champion"
        elif r.r_q <= 2 and r.m_q >= 4:
            want = "at_risk_big_spender"
        elif r.r_q >= 4 and r.f_q <= 2:
            want = "promising_new"
        elif r.r_q <= 2 and r.f_q <= 2:
            want = "hibernating"
        else:
            want = "core"
        assert r.segment == want
        assert r.rfm_code == 100 * r.r_q + 10 * r.f_q + r.m_q


def test_pareto_skyline_matches_bruteforce(spark, sf_dir):
    """Skyline vs the O(n²) definition on the small fixture: the
    returned set equals the brute-force undominated set; skyline
    members don't dominate each other; every excluded point is
    dominated by some skyline member."""
    import pyspark.sql.functions as F

    from nyc_data_pipeline_spark.registry import QUERIES

    sky = {
        (r.o_orderkey, r.price_cents, r.delivery_days)
        for r in QUERIES["orders_pareto_skyline"](spark, sf_dir).collect()
    }
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = [
        (r.o_orderkey, r.price_cents, r.delivery_days)
        for r in o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.max(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
            ).alias("delivery_days")
        )
        .selectExpr(
            "o_orderkey",
            "CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents",
            "CAST(delivery_days AS BIGINT) AS delivery_days",
        )
        .collect()
    ]

    def dominates(a, b):
        return (
            a[1] <= b[1]
            and a[2] <= b[2]
            and (a[1] < b[1] or a[2] < b[2])
        )

    brute = {
        p for p in pts if not any(dominates(q, p) for q in pts if q is not p)
    }
    assert sky == brute
    for a in sky:
        assert not any(dominates(b, a) for b in sky if b != a)
    for p in pts:
        key = (p[0], p[1], p[2])
        if key not in sky:
            assert any(dominates(s, p) for s in sky)


def test_cms_topk_prod_recall_and_bounds(spark, sf_dir):
    """Sketch-driven candidate generation: ranks 1..K over the true
    top-K (exact-count order), CMS estimate never below the exact
    count (CMS upper-bounds), and the width-16384 sketch surfaces
    every true heavy hitter (found_by_sketch recall = 1 on all
    fixtures — the sizing claim the module makes)."""
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = sorted(
        QUERIES["approx_cms_topk_prod"](spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert (a.exact_count, -a.user_id) >= (b.exact_count, -b.user_id)
    for r in rows:
        assert r.cms_est >= r.exact_count
        assert r.found_by_sketch


def test_abc_classes_match_sequential_walk(spark, sf_dir):
    """ABC invariants: cum_cents reproduces a driver-side sequential
    walk of the revenue-desc order exactly (ties included); classes
    respect the 80/95 cross-multiplied boundaries; the final cumulative
    equals the total; class A is a minority of parts holding the
    majority of revenue only if the distribution is skewed (here the
    synthetic data is near-uniform, so we assert only the boundary
    algebra, not a Pareto shape)."""
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = sorted(
        QUERIES["orders_abc_classes"](spark, sf_dir).collect(),
        key=lambda r: (-r.revenue_cents, r.partkey),
    )
    total = sum(r.revenue_cents for r in rows)
    cum = 0
    for r in rows:
        cum += r.revenue_cents
        assert r.cum_cents == cum
        assert r.cum_share_ppm == cum * 1_000_000 // total
        want = (
            "A"
            if cum * 5 <= total * 4
            else ("B" if cum * 20 <= total * 19 else "C")
        )
        assert r.abc_class == want
    assert cum == total


def test_seasonal_decompose_identities(spark, sf_dir):
    """Decomposition sanity: trend is defined exactly where a full
    2x12 window exists (rows 7..n-6 of the month order); trend24
    recomputes from the raw monthly sums; the seasonal indices
    average to ~1e6 ppm (multiplicative indices are mean-one); and
    deseason_cents * si_ppm reproduces rev_cents within integer
    rounding."""
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = sorted(
        QUERIES["ts_seasonal_decompose"](spark, sf_dir).collect(),
        key=lambda r: r.month,
    )
    n = len(rows)
    rev = [r.rev_cents for r in rows]
    for i, r in enumerate(rows):
        if 6 <= i < n - 6:
            want = sum(rev[i - 6 : i + 6]) + sum(rev[i - 5 : i + 7])
            assert r.trend24 == want
            assert r.ratio_ppm == r.rev_cents * 24 * 1_000_000 // want
        else:
            assert r.trend24 is None and r.ratio_ppm is None
        assert r.deseason_cents == r.rev_cents * 1_000_000 // r.si_ppm
        assert abs(r.deseason_cents * r.si_ppm - r.rev_cents * 1_000_000) < r.si_ppm
    sis = {r.si_ppm for r in rows}
    mean_si = sum(sis) / len(sis)
    assert 0.9e6 < mean_si < 1.1e6


def test_dp_noisy_counts_mechanism(spark, sf_dir):
    """Laplace-mechanism invariants: true counts recount from raw
    customers; noise is nonzero, group-dependent (25 distinct draws),
    two-sided, inside the deterministic tail bound; noisy_micro
    telescopes; and the draw is a pure function of the group key
    (stable across invocations)."""
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["dq_dp_noisy_counts"](spark, sf_dir).collect()
    again = QUERIES["dq_dp_noisy_counts"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    truth = dict(
        (r[0], r[1])
        for r in c.groupBy("c_nationkey").count().collect()
    )
    assert len(rows) == len(truth)
    noises = {r.noise_micro for r in rows}
    assert len(noises) == len(rows)
    assert any(n > 0 for n in noises) and any(n < 0 for n in noises)
    for r in rows:
        assert r.true_count == truth[r.c_nationkey]
        assert r.noisy_micro == r.true_count * 1_000_000 + r.noise_micro
        assert r.within_tail and abs(r.noise_micro) <= 44_000_000


def test_feature_hashing_reconstruction(spark, sf_dir):
    """Hashing-trick invariants: every order emits features summing to
    3 draws (|val| totals ≤ 3 per order, signs cancel only on slot
    collisions); slots are in [0, 64); a driver-side reimplementation
    of the char-fold hash reproduces every (order, slot, val) triple."""
    from nyc_data_pipeline_spark.functions.features import FH_DIM
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["ml_feature_hashing"](spark, sf_dir).collect()
    got = {}
    for r in rows:
        assert 0 <= r.slot < FH_DIM
        got.setdefault(r.o_orderkey, {})[r.slot] = r.val

    MOD = 1_000_000_007

    def h(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % MOD
        return acc

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    want = {}
    for r in o:
        feats = [
            f"prio={r.o_orderpriority}",
            f"status={r.o_orderstatus}",
            f"month={r.o_orderdate.month}",
        ]
        d = {}
        for f in feats:
            hv = h(f)
            slot, sgn = hv % FH_DIM, 1 - 2 * ((hv // FH_DIM) % 2)
            d[slot] = d.get(slot, 0) + sgn
        want[r.o_orderkey] = d
    assert got == want


def test_ohlc_bars_against_sequential_walk(spark, sf_dir):
    """OHLC invariants per (month, priority) cell: low <= open/close <=
    high; every field reproduces a driver-side walk of the cell's
    (orderdate, orderkey) order; volumes and counts recount."""
    from collections import defaultdict

    from nyc_data_pipeline_spark.registry import QUERIES

    rows = {
        (r.month, r.prio): r
        for r in QUERIES["orders_ohlc_monthly"](spark, sf_dir).collect()
    }
    cells = defaultdict(list)
    for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect():
        import math

        cells[
            (r.o_orderdate.strftime("%Y-%m"), r.o_orderpriority)
        ].append(
            (r.o_orderdate, r.o_orderkey, int(math.floor(r.o_totalprice * 100)))
        )
    assert set(rows) == set(cells)

    for key, pts in cells.items():
        pts.sort()
        cents = [p[2] for p in pts]
        r = rows[key]
        want_open, want_close = pts[0][2], pts[-1][2]
        assert r.open_cents == want_open
        assert r.close_cents == want_close
        assert r.high_cents == max(cents) and r.low_cents == min(cents)
        assert r.low_cents <= r.open_cents <= r.high_cents
        assert r.low_cents <= r.close_cents <= r.high_cents
        assert r.volume_cents == sum(cents) and r.n_orders == len(cents)


def test_markov_transitions_row_stochastic(spark, sf_dir):
    """Transition-matrix invariants: per current-state rows, counts
    recount from the driver-side per-user walk, conditional ppm sums
    to ~1e6 per row (floor rounding slack <= #states), and every
    probability is the integral-division of its count and row total."""
    from collections import Counter, defaultdict

    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["events_markov_transitions"](spark, sf_dir).collect()
    ev = sorted(
        spark.read.parquet(f"{sf_dir}/events.parquet").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    want = Counter()
    for a, b in zip(ev, ev[1:]):
        if a.user_id == b.user_id:
            want[(a.event_type, b.event_type)] += 1
    assert {(r.cur, r.nxt): r.n_transitions for r in rows} == dict(want)
    by_cur = defaultdict(list)
    for r in rows:
        by_cur[r.cur].append(r)
    for cur, cell_rows in by_cur.items():
        tot = sum(r.n_transitions for r in cell_rows)
        for r in cell_rows:
            assert r.p_cond_ppm == r.n_transitions * 1_000_000 // tot
        s = sum(r.p_cond_ppm for r in cell_rows)
        assert 1_000_000 - len(cell_rows) <= s <= 1_000_000


def test_triangle_count_known_graph(spark):
    """Golden graph: K4 plus a pendant vertex — exactly 4 triangles,
    7 edges, and wedges = Σ d(d-1)/2 over degrees (3,3,3,4,1) = 15."""
    from nyc_data_pipeline_spark.operators.triangles import triangle_count

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    edges = spark.createDataFrame(k4, "u long, v long")
    r = triangle_count(edges).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (5, 7, 4)
    assert r.n_wedges == 15
    assert r.clustering_ppm == 3 * 4 * 1_000_000 // 15


def test_triangle_count_triangle_free_graph(spark):
    """A star (bipartite) has wedges but zero triangles."""
    from nyc_data_pipeline_spark.operators.triangles import triangle_count

    star = [(1, i) for i in range(2, 8)]
    r = triangle_count(spark.createDataFrame(star, "u long, v long")).collect()[0]
    assert r.n_triangles == 0 and r.clustering_ppm == 0
    assert r.n_wedges == 6 * 5 // 2


def test_fd_audit_exact_and_violated(spark):
    """A constructed exact FD reports holds=True with zero removals; a
    violated one reports the exact g3 minimum."""
    from nyc_data_pipeline_spark.pipelines.quality import fd_audit

    rows = [(1, "a"), (1, "a"), (2, "b"), (3, "a")]
    exact = fd_audit(
        spark.createDataFrame(rows, "k long, v string"), "k->v", "k", "v"
    ).collect()[0]
    assert exact.holds and exact.rows_to_remove == 0
    assert exact.g3_error_ppm == 0

    # key 1 maps to {a, a, b}: dominant keeps 2, removes 1 of 5 rows
    rows_v = rows + [(1, "b")]
    viol = fd_audit(
        spark.createDataFrame(rows_v, "k long, v string"), "k->v", "k", "v"
    ).collect()[0]
    assert not viol.holds
    assert (viol.total_rows, viol.n_violating_lhs, viol.rows_to_remove) == (5, 1, 1)
    assert viol.g3_error_ppm == 1_000_000 // 5


def test_acf_bounds_and_constant_series(spark):
    """acf_ppm must lie in [-1e6, 1e6] (a Cauchy-Schwarz consequence
    the integer identity must preserve) and cover every lag 1..max."""
    from nyc_data_pipeline_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["ts_autocorrelation"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows and all(-1_000_000 <= r.acf_ppm <= 1_000_000 for r in rows)

    from nyc_data_pipeline_spark.operators.trends import ACF_MAX_LAG
    assert sorted({r.lag for r in rows}) == list(range(1, ACF_MAX_LAG + 1))


def test_theil_sen_robust_to_outlier(spark):
    """A clean slope-7 line with one wild outlier: Theil-Sen recovers
    slope 7 exactly (milli = 7000), while the OLS slope on the same
    data is far off — the robustness claim, machine-checked."""
    from nyc_data_pipeline_spark.operators.trends import theil_sen

    pts = [("g", x, 7 * x + 100) for x in range(1, 21)]
    pts[9] = ("g", 10, 10**9)  # corrupted month
    series = spark.createDataFrame(pts, "pr string, x long, y long")
    r = theil_sen(series).collect()[0]
    assert r.slope_milli == 7000
    assert r.n_points == 20 and r.n_pairs == 190
    # OLS on the same points is dominated by the outlier
    import statistics
    xs = [p[1] for p in pts]; ys = [p[2] for p in pts]
    n = len(xs)
    ols = (n * sum(x*y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)) / (
        n * sum(x*x for x in xs) - sum(xs) ** 2)
    assert abs(ols - 7) > 1000  # wildly off; Theil-Sen was exact


def test_acf_constant_series_filtered_not_error(spark, sf_dir):
    """A constant series has zero variance — acf is undefined; the
    operator must drop the group (loudly absent) rather than raise an
    ANSI divide-by-zero or emit NULL ppm rows.  One order per month at
    a fixed price makes the monthly-revenue series exactly constant."""
    import datetime as _dt

    from nyc_data_pipeline_spark.operators import trends
    from nyc_data_pipeline_spark.registry import QUERIES

    const = spark.createDataFrame(
        [
            ("1-URGENT", _dt.datetime(1995, m, 1), 100.0)
            for m in range(1, 13)
        ],
        "o_orderpriority string, o_orderdate timestamp, o_totalprice double",
    )
    orig = trends.load_table
    try:
        trends.load_table = lambda s, d, t: const
        rows = QUERIES["ts_autocorrelation"](spark, sf_dir).collect()
    finally:
        trends.load_table = orig
    assert rows == []


def test_ivfpq_index_recall_and_probe_many(spark, sf_dir):
    """The composed IVFPQ persisted index is gated on MEASURED recall:
    top-5 by cell-pruned ADC + exact rerank must overlap >= 0.9 with
    the exact integer-L2 top-5 (it measures 0.94/0.92/0.90 at
    sf0.001/0.01/0.1 — see similarity/index_store.py's tuning table).
    A second probe from the same committed artifacts must return
    identical rows with no rebuild."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.similarity.adc import (
        _INT_L2,
        _MICRO_ARR,
        _micro_rows,
    )
    from nyc_data_pipeline_spark.similarity.brute_force import (
        N_QUERIES,
        TOP_K,
    )
    from nyc_data_pipeline_spark.similarity.index_store import (
        build_ivf_pq_index,
        ivf_adc_search,
        load_ivf_pq_index,
    )
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    table_dir = scratch_dir("ivfpq_probe", sf_dir)
    build_ivf_pq_index(emb, table_dir)
    queries = _micro_rows(emb.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), "dim", F.col("vi").alias("qi")
    )
    runs = []
    for _ in range(2):
        cent, cmicro, codes = load_ivf_pq_index(spark, table_dir)
        runs.append(sorted(
            (r.query_id, r.rank, r.neighbor_id, r.dist)
            for r in ivf_adc_search(
                queries, cent, cmicro, codes, emb
            ).collect()
        ))
    assert runs[0] == runs[1] and len(runs[0]) == N_QUERIES * TOP_K

    m = emb.selectExpr("vec_id", f"{_MICRO_ARR} AS m")
    qm = emb.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS query_id", f"{_MICRO_ARR} AS qm"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("dist"), F.asc("neighbor_id")
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in m.join(
            F.broadcast(qm), F.col("query_id") != F.col("vec_id")
        )
        .selectExpr("query_id", "vec_id AS neighbor_id", f"{_INT_L2} AS dist")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .collect()
    }
    got = {(q, n) for q, _rk, n, _d in runs[0]}
    recall = len(exact & got) / (N_QUERIES * TOP_K)
    assert recall >= 0.9, f"IVFPQ recall@{TOP_K} = {recall}"


def test_kcore_peel_contains_true_core_and_shrinks(spark, sf_dir):
    """Peel invariants: (a) the node set never grows round over round;
    (b) no peel round can remove a member of the TRUE k-core (each
    core member keeps >= k core neighbors at every step), so the
    fixpoint core is a subset of the bounded-round survivors; (c) at
    the fixpoint every node has degree >= k."""
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.operators.kcore import (
        K_CORE,
        PEEL_ROUNDS,
        kcore_peel,
    )
    from nyc_data_pipeline_spark.operators.triangles import TRI_HI, TRI_LO

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date").between(TRI_LO, TRI_HI)
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok").filter(F.col("u") < F.col("v"))
        .select("u", "v").distinct()
    )

    sizes = [
        kcore_peel(edges, K_CORE, r).count() for r in range(1, PEEL_ROUNDS + 1)
    ]
    assert sizes == sorted(sizes, reverse=True)  # monotone shrink

    # fixpoint by driver loop (fixture-sized graph)
    e = {(r.u, r.v) for r in edges.collect()}
    while True:
        deg: dict = {}
        for u, v in e:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= K_CORE}
        e2 = {(u, v) for u, v in e if u in keep and v in keep}
        if e2 == e:
            break
        e = e2
    fix_nodes = {n for uv in e for n in uv}
    assert all(deg[n] >= K_CORE for n in fix_nodes)
    survivors = {
        r.node for r in kcore_peel(edges, K_CORE, PEEL_ROUNDS).collect()
    }
    assert fix_nodes <= survivors


def test_corr_matrix_carriers_match_float_corr(spark, sf_dir):
    """The integral carriers must reproduce Spark's own float corr()
    to ~1e-6 for every pair and stay inside [-1, 1].  (The synthetic
    fixture's measures are mutually near-independent — measured
    qty~price corr is ~-0.01 — so no sign assertions.)"""
    import math
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["dq_corr_matrix"](spark, sf_dir).collect()
    assert len(rows) == 6
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(floor(l_quantity * 1000) AS BIGINT)").alias("qty"),
        F.expr("CAST(floor(l_extendedprice * 1000) AS BIGINT)").alias("price"),
        F.expr("CAST(floor(l_discount * 1000) AS BIGINT)").alias("disc"),
        F.expr("CAST(floor(l_tax * 1000) AS BIGINT)").alias("tax"),
    )
    for r in rows:
        got = int(r.cov_num) / math.sqrt(
            int(r.var_x_num) * int(r.var_y_num)
        )
        want = li.stat.corr(r.col_x, r.col_y)
        assert abs(got - want) < 1e-6, (r.col_x, r.col_y, got, want)
        assert -1.0 <= got <= 1.0


def test_audio_pcm_windows_match_struct_unpack(spark, sf_dir):
    """The numpy s16le decode must agree with Python's struct.unpack
    ('<h', two's complement little-endian) window for window on real
    payload bytes — byte order and signedness are the load-bearing
    bits the oracle also certifies."""
    import struct
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.multimodal.binary_ops import (
        AUDIO_BYTES,
        WIN_SAMPLES,
        attach_pcm_payload,
        pcm_window_energy,
    )

    d = load_table(spark, sf_dir, "documents")
    pcm = attach_pcm_payload(d)
    sample = pcm.limit(5).collect()
    got = {
        (r.doc_id, r.widx): (r.n_samples, r.energy, r.peak)
        for r in pcm_window_energy(pcm).collect()
    }
    assert got and all(n == WIN_SAMPLES for n, _e, _p in got.values())
    for row in sample:
        xs = struct.unpack(f"<{AUDIO_BYTES // 2}h", bytes(row.payload))
        for w in range(len(xs) // WIN_SAMPLES):
            seg = xs[w * WIN_SAMPLES:(w + 1) * WIN_SAMPLES]
            want = (
                WIN_SAMPLES,
                sum(s * s for s in seg),
                max(abs(s) for s in seg),
            )
            assert got[(row.doc_id, w)] == want


def test_sliding_distinct_users_window_semantics(spark, sf_dir):
    """The range-join form must equal a direct per-day python referee
    (trailing-7-day distinct over the (day,user) grid), and each day's
    7-day reach must be >= that day's 1-day reach."""
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.operators.analytics import (
        _US_PER_DAY_A,
        SLIDE_DAYS,
    )

    ev = load_table(spark, sf_dir, "events")
    grid = {
        (r.day, r.user_id)
        for r in ev.select(
            F.expr(f"unix_micros(ts) div {_US_PER_DAY_A}").alias("day"),
            "user_id",
        ).distinct().collect()
    }
    days = sorted({d for d, _u in grid})
    want = {
        d: len({u for dd, u in grid if d - (SLIDE_DAYS - 1) <= dd <= d})
        for d in days
    }
    got = {
        r.day: r.n_users_7d
        for r in QUERIES["events_sliding_distinct_users"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    daily = {d: len({u for dd, u in grid if dd == d}) for d in days}
    assert all(got[d] >= daily[d] for d in days)


def test_activity_bitmask_popcount_equals_distinct_days(spark, sf_dir):
    """Histogram mass per month must equal the month's user count, and
    popcounts must equal each user's true distinct active days."""
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    truth = {
        (r.month, r.user_id): r.nd
        for r in ev.groupBy(
            F.date_format("ts", "yyyy-MM").alias("month"), "user_id"
        )
        .agg(F.count_distinct(F.dayofmonth("ts")).alias("nd"))
        .collect()
    }
    hist = QUERIES["events_activity_bitmask"](spark, sf_dir).collect()
    from collections import Counter

    want = Counter((m, nd) for (m, _u), nd in truth.items())
    got = {(r.month, r.active_days): r.n_users for r in hist}
    assert got == dict(want)


def test_semantic_decontaminate_flags_all_benchmark_members(spark, sf_dir):
    """A benchmark member present in the corpus is the decontamination
    base case (cosine 1 to itself; its own cell is always probed) —
    every vec_id % DECON_BENCH_MOD == 0 must come back contaminated
    with at least one hit, and flags must be exactly the rows with
    n_bench_hits > 0."""
    from nyc_data_pipeline_spark.dedup.embedding import DECON_BENCH_MOD

    rows = QUERIES["emb_semantic_decontaminate"](spark, sf_dir).collect()
    by_id = {r.vec_id: r for r in rows}
    bench = [v for v in by_id if v % DECON_BENCH_MOD == 0]
    assert bench
    assert all(
        by_id[v].contaminated and by_id[v].n_bench_hits >= 1 for v in bench
    )
    assert all((r.n_bench_hits > 0) == r.contaminated for r in rows)


def test_thumbnail_box_mean_and_odd_row_crop(spark):
    """Hand-computed 2x2 box downsample: a 2x2 image whose four RGB
    pixels average to a known single output pixel, and a 3-row image
    whose odd trailing row must be cropped (out_h = 1)."""
    from nyc_data_pipeline_spark.multimodal.binary_ops import (
        thumbnail_stats,
    )

    def ppm(w, h, raster):
        return f"P6\n{w} {h}\n255\n".encode() + bytes(raster)

    # 2x2 image: pixels (r,g,b) = (0,10,20) (4,14,24) / (8,18,28) (12,22,32)
    # box mean per channel: r=(0+4+8+12)//4=6, g=16, b=26
    flat22 = [0, 10, 20, 4, 14, 24, 8, 18, 28, 12, 22, 32]
    # 2x3 image (w=2, h=3): rows 0,1 as above, row 2 = all 255 (cropped)
    flat23 = flat22 + [255] * 6
    df = spark.createDataFrame(
        [
            (1, ppm(2, 2, flat22), "image/x-portable-pixmap"),
            (2, ppm(2, 3, flat23), "image/x-portable-pixmap"),
        ],
        "doc_id bigint, payload binary, mime string",
    )
    rows = {r.doc_id: r for r in thumbnail_stats(df).collect()}
    for r in rows.values():
        assert (r.out_w, r.out_h) == (1, 1)
        assert (r.t_sum_r, r.t_sum_g, r.t_sum_b) == (6, 16, 26)
        assert (r.t_min, r.t_max) == (6, 26)
        # checksum = 6*1 + 16*2 + 26*3 = 116 certifies channel order
        assert r.t_checksum == 116


def test_cdc_index_swap_retention_and_o_changes(spark, tmp_path):
    """The CDC-maintained ANN index (similarity/cdc_maintain.py), the
    legs the registered query doesn't cover: (a) a second churn wave
    pushes the tombstone fraction over the threshold and the
    maintenance step RETRAINS from the table's current state — the
    swapped probe must equal a fresh build over that state
    byte-for-byte, with tombstones cleared; (b) maintenance stays
    O(changes): the incremental step's appended code files cover only
    changed keys, never the corpus; (c) the retention contract
    composes — a maintenance step whose feed commit was vacuumed
    raises ChangeFeedRetentionError."""
    import pytest

    from nyc_data_pipeline_spark.similarity.adc import _micro_rows
    from nyc_data_pipeline_spark.similarity.brute_force import N_QUERIES
    from nyc_data_pipeline_spark.similarity.cdc_maintain import (
        cdcidx_log,
        build_cdc_index,
        cdc_index_search,
        maintain_ivf_pq_from_feed,
    )
    from nyc_data_pipeline_spark.similarity.ivf import K_CELLS
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        ChangeFeedRetentionError,
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
        mor_cdc_vacuum,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    emb_dir = str(tmp_path / "emb")
    idx_dir = str(tmp_path / "idx")
    mor_cdc_init(
        spark, emb.withColumn("version", F.lit(0)), emb_dir, "vec_id"
    )
    build_cdc_index(
        spark,
        mor_cdc_read(spark, emb_dir, 1).select(
            "vec_id", "embedding", "label"
        ),
        idx_dir, version=1, table_commit=1,
    )
    # wave 1: light churn (re-embed vec_id%29==1 above the seed range)
    w1 = (
        emb.filter(
            (F.col("vec_id") >= K_CELLS) & (F.col("vec_id") % 29 == 1)
        )
        .withColumn("embedding", F.reverse("embedding"))
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("u"))
    )
    mor_cdc_commit(spark, w1, emb_dir, 2)
    m2 = maintain_ivf_pq_from_feed(spark, emb_dir, idx_dir)
    assert not m2.get("swapped")
    # O(changes): the incremental step appended exactly one new codes
    # entry whose rows cover only the changed keys
    assert len(m2["codes"]) == 2
    new_codes = spark.read.parquet(m2["codes"][-1]["path"])
    n_changed = w1.count()
    assert new_codes.select("vec_id").distinct().count() == n_changed
    assert m2["n_tombstoned"] == n_changed
    # wave 2: heavy churn (delete every 3rd id above the seeds) —
    # tombstone fraction crosses the threshold, the step must SWAP
    w2 = (
        emb.filter(
            (F.col("vec_id") >= K_CELLS) & (F.col("vec_id") % 3 == 0)
        )
        .withColumn("version", F.lit(2))
        .withColumn("op", F.lit("d"))
    )
    mor_cdc_commit(spark, w2, emb_dir, 3)
    m3 = maintain_ivf_pq_from_feed(spark, emb_dir, idx_dir)
    assert m3.get("swapped")
    assert m3["tombstones"] == [] and m3["n_tombstoned"] == 0
    assert len(m3["codes"]) == 1 and m3["codes"][0]["v"] == 3
    # swapped probe == fresh build over the current state, exactly
    cur = mor_cdc_read(spark, emb_dir, 3).select(
        "vec_id", "embedding", "label"
    )
    queries = _micro_rows(cur.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), "dim", F.col("vi").alias("qi")
    )
    got = sorted(
        tuple(r) for r in
        cdc_index_search(spark, idx_dir, queries, cur).collect()
    )
    fresh_dir = str(tmp_path / "fresh")
    build_cdc_index(spark, cur, fresh_dir, version=1, table_commit=3)
    want = sorted(
        tuple(r) for r in
        cdc_index_search(spark, fresh_dir, queries, cur).collect()
    )
    assert got == want
    assert cdcidx_log(idx_dir).load()["version"] == 3
    # retention: vacuum past commit 2's artifacts, then a rebuilt
    # index at cursor 1 cannot catch up through the reclaimed feed
    mor_cdc_vacuum(emb_dir, latest=3, retain=1)
    stale_idx = str(tmp_path / "stale")
    build_cdc_index(
        spark, cur, stale_idx, version=1, table_commit=1,
    )
    with pytest.raises(ChangeFeedRetentionError):
        maintain_ivf_pq_from_feed(spark, emb_dir, stale_idx)


def test_dedup_cdc_index_maintain_swap_and_retention(spark, tmp_path, sf_dir):
    """Dedup-index CDC maintenance (the sim-lane contract applied to
    the MinHash index): (a) the maintained index's probe equals a
    fresh rebuild over the table's current state; (b) maintenance
    APPENDS — the v1 band artifact is reused byte-identically, one new
    band file list entry per churn commit; (c) a swap (low threshold)
    retrains, clears tombstones, and still probes identically; (d) a
    maintenance step whose feed commit was vacuumed raises the named
    ChangeFeedRetentionError."""
    import pytest
    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.dedup.cdc_maintain import (
        _corpus_waves,
        ddcidx_log,
        build_dedup_cdc_index,
        dedup_cdc_probe,
        maintain_dedup_index_from_feed,
    )
    from nyc_data_pipeline_spark.dedup.incremental import BATCH_MOD
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        ChangeFeedRetentionError,
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
        mor_cdc_vacuum,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % BATCH_MOD != 0)
    batch = d.filter(F.col("doc_id") % BATCH_MOD == 0)
    table_dir = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    mor_cdc_init(
        spark, corpus.withColumn("version", F.lit(0)), table_dir, "doc_id"
    )
    waves = _corpus_waves(corpus, batch)
    for i, w in enumerate(waves):
        mor_cdc_commit(spark, w, table_dir, 2 + i)
    m1 = build_dedup_cdc_index(spark, corpus, idx)
    m2 = maintain_dedup_index_from_feed(spark, table_dir, idx)
    m3 = maintain_dedup_index_from_feed(spark, table_dir, idx)
    # (b) append-only: v1 artifacts reused, one entry per churn commit
    assert m3["bands"][0]["path"] == m1["bands"][0]["path"]
    assert [e["v"] for e in m3["bands"]] == [1, 2, 3]
    assert len(m3["tombstones"]) == 2
    assert "swapped" not in m3

    def probe_rows(index_dir):
        return {
            (r["batch_id"], r["n_dups"], r["dup_of"])
            for r in dedup_cdc_probe(spark, index_dir, batch).collect()
        }

    maintained = probe_rows(idx)
    # (a) equivalence vs a fresh rebuild over the CURRENT table state
    cur = mor_cdc_read(spark, table_dir, 3).select("doc_id", "text")
    fresh_idx = str(tmp_path / "fresh")
    build_dedup_cdc_index(spark, cur, fresh_idx, table_commit=3)
    assert maintained == probe_rows(fresh_idx)
    # every batch doc found its feed-delivered clone
    assert len(maintained) == batch.count()
    # (c) swap: rebuild-as-maintenance clears the tombstone debt
    swap_idx = str(tmp_path / "swap")
    build_dedup_cdc_index(spark, corpus, swap_idx)
    sm = maintain_dedup_index_from_feed(
        spark, table_dir, swap_idx, swap_fraction=0.0
    )
    assert sm.get("swapped") and sm["tombstones"] == []
    sm2 = maintain_dedup_index_from_feed(
        spark, table_dir, swap_idx, swap_fraction=0.0
    )
    assert sm2.get("swapped") and sm2["table_commit"] == 3
    assert probe_rows(swap_idx) == maintained
    # (d) retention: the pending feed's history vacuumed away
    stale_idx = str(tmp_path / "stale")
    build_dedup_cdc_index(spark, corpus, stale_idx)
    mor_cdc_vacuum(table_dir, latest=3, retain=1)
    with pytest.raises(ChangeFeedRetentionError):
        maintain_dedup_index_from_feed(spark, table_dir, stale_idx)


def test_text_index_cdc_maintain_swap_and_retention(spark, tmp_path, sf_dir):
    """Text-stats index CDC maintenance (the sim/dedup-lane contract
    applied to the BM25 df lexicon + corpus stats): (a) the maintained
    df table and stats equal a fresh rebuild over the table's current
    state EXACTLY (every term, not just query terms); (b) maintenance
    APPENDS — the v1 base file is reused, one delta entry per churn
    commit; (c) a swap (low threshold) rebuilds, clears the delta
    debt, and still reads identically; (d) a maintenance step whose
    feed commit was vacuumed raises the named
    ChangeFeedRetentionError; (e) the vocab view tracks df > 0."""
    import pytest
    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.functions.text_index import (
        tidx_log,
        _text_waves,
        build_text_index,
        maintain_text_index_from_feed,
        text_index_df,
        text_index_vocab,
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        ChangeFeedRetentionError,
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
        mor_cdc_vacuum,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    table_dir = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    mor_cdc_init(
        spark, d.withColumn("version", F.lit(0)), table_dir, "doc_id"
    )
    waves = _text_waves(d)
    for i, w in enumerate(waves):
        mor_cdc_commit(spark, w, table_dir, 2 + i)
    m1 = build_text_index(spark, d, idx)
    # fixture vocab is ~31 terms: raise the debt ratio so the
    # APPEND path is what these legs exercise
    m2 = maintain_text_index_from_feed(
        spark, table_dir, idx, swap_fraction=10.0
    )
    m3 = maintain_text_index_from_feed(
        spark, table_dir, idx, swap_fraction=10.0
    )
    # (b) append-only: the base file reused, one delta per commit
    assert m3["dfs"][0]["path"] == m1["dfs"][0]["path"]
    assert [e["v"] for e in m3["dfs"]] == [1, 2, 3]
    assert "swapped" not in m3

    def df_rows(index_dir):
        return {
            (r["t"], r["df"])
            for r in text_index_df(spark, index_dir).collect()
        }

    maintained = df_rows(idx)
    # (a) full-lexicon equality vs a rebuild over the CURRENT state
    cur = mor_cdc_read(spark, table_dir, 3).select("doc_id", "text")
    fresh_idx = str(tmp_path / "fresh")
    fm = build_text_index(spark, cur, fresh_idx, table_commit=3)
    assert maintained == df_rows(fresh_idx)
    assert (m3["n_docs"], m3["sum_dl"]) == (fm["n_docs"], fm["sum_dl"])
    # (e) the vocabulary view is exactly the df>0 lexicon
    assert text_index_vocab(spark, idx).count() == len(maintained)
    # (c) swap: rebuild-as-maintenance clears the delta debt
    swap_idx = str(tmp_path / "swap")
    build_text_index(spark, d, swap_idx)
    sm = maintain_text_index_from_feed(
        spark, table_dir, swap_idx, swap_fraction=0.0
    )
    assert sm.get("swapped") and sm["n_delta_rows"] == 0
    sm2 = maintain_text_index_from_feed(
        spark, table_dir, swap_idx, swap_fraction=0.0
    )
    assert sm2.get("swapped") and sm2["table_commit"] == 3
    assert df_rows(swap_idx) == maintained
    # (d) retention: the pending feed's history vacuumed away
    stale_idx = str(tmp_path / "stale")
    build_text_index(spark, d, stale_idx)
    mor_cdc_vacuum(table_dir, latest=3, retain=1)
    with pytest.raises(ChangeFeedRetentionError):
        maintain_text_index_from_feed(spark, table_dir, stale_idx)


def test_release_txn_flips_corpus_and_indexes_atomically(
    spark, tmp_path, sf_dir
):
    """The training-data RELEASE transaction: the corpus table and its
    derived artifacts — the dedup index and the text-stats index, both
    feed-maintained — live under ONE catalog, and a single txn_commit
    flips all three pointers.  A reader resolving any catalog version
    gets corpus + indexes from the SAME release: the crash window
    (indexes maintained, catalog unflipped) serves the old consistent
    triple, and each snapshot's index state matches a fresh rebuild
    over that snapshot's corpus."""
    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.dedup.cdc_maintain import (
        build_dedup_cdc_index,
        dedup_cdc_probe,
        maintain_dedup_index_from_feed,
    )
    from nyc_data_pipeline_spark.functions.text_index import (
        build_text_index,
        maintain_text_index_from_feed,
        text_index_df,
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        catalog_load,
        txn_catalog_init,
        txn_commit,
        txn_vacuum,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0).limit(20)
    tbl = str(tmp_path / "corpus")
    didx = str(tmp_path / "dedup_idx")
    tidx = str(tmp_path / "text_idx")
    cat = str(tmp_path / "cat")
    mor_cdc_init(
        spark, corpus.withColumn("version", F.lit(0)), tbl, "doc_id"
    )
    build_dedup_cdc_index(spark, corpus, didx)
    build_text_index(spark, corpus, tidx)
    txn_catalog_init(
        cat,
        {"corpus": (tbl, 1), "dedup_idx": (didx, 1), "text_idx": (tidx, 1)},
    )
    # the day's crawl: a delete wave + the batch docs arriving as-is
    wave = (
        corpus.filter(F.col("doc_id") % 9 == 0)
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("d"))
        .unionByName(
            batch.select(
                (F.col("doc_id") + 50_000_000).alias("doc_id"), "text"
            )
            .withColumn("version", F.lit(1))
            .withColumn("op", F.lit("u"))
        )
    )
    mor_cdc_commit(spark, wave, tbl, 2)
    maintain_dedup_index_from_feed(spark, tbl, didx)
    maintain_text_index_from_feed(spark, tbl, tidx, swap_fraction=10.0)
    # crash window: everything maintained, catalog NOT flipped
    snap = catalog_load(cat)["tables"]
    assert (
        snap["corpus"]["version"],
        snap["dedup_idx"]["version"],
        snap["text_idx"]["version"],
    ) == (1, 1, 1)

    def probe_rows(index_dir, version):
        return {
            (r["batch_id"], r["n_dups"])
            for r in dedup_cdc_probe(
                spark, index_dir, batch, version=version
            ).collect()
        }

    def df_rows(index_dir, version):
        return {
            (r["t"], r["df"])
            for r in text_index_df(spark, index_dir, version).collect()
        }

    # THE release: one commit flips corpus + both indexes
    txn_commit(cat, {"corpus": 2, "dedup_idx": 2, "text_idx": 2})
    for v in (1, 2):
        snap = catalog_load(cat, v)["tables"]
        vs = {n: snap[n]["version"] for n in snap}
        assert len(set(vs.values())) == 1  # never torn: all equal
        # the pinned index states match fresh rebuilds over the
        # SAME snapshot's corpus — release-consistent end to end
        cur = mor_cdc_read(spark, tbl, vs["corpus"]).select(
            "doc_id", "text"
        )
        fresh_d = str(tmp_path / f"fresh_d{v}")
        fresh_t = str(tmp_path / f"fresh_t{v}")
        build_dedup_cdc_index(spark, cur, fresh_d)
        build_text_index(spark, cur, fresh_t)
        assert probe_rows(didx, vs["dedup_idx"]) == probe_rows(fresh_d, 1)
        assert df_rows(tidx, vs["text_idx"]) == df_rows(fresh_t, 1)
    # coordinated vacuum skips artifact members without touching them
    stats = txn_vacuum(cat, retain=2)
    assert stats["tables"]["dedup_idx"]["skipped"]
    assert stats["tables"]["text_idx"]["skipped"]
    assert "dirs_removed" in stats["tables"]["corpus"]
    assert probe_rows(didx, 1)  # artifact history untouched


def test_bm25_scoring_has_no_doc_length_join(spark, tmp_path, sf_dir):
    """The dl-carry contract: doc length rides the posting explode as
    a grouping key, so BM25 scoring joins ONLY the broadcast df table
    — no sort-merge join and no second corpus-side scan feeding a
    per-doc-length join (which would shuffle a corpus-sized slim
    table per query batch at scale).  Pinned for both the corpus-pass
    and the index-backed variants."""
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.functions.bm25 import bm25_topk
    from nyc_data_pipeline_spark.functions.text_index import (
        bm25_topk_from_index,
        build_text_index,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "tidx_plan")
    build_text_index(spark, docs, idx)
    for df in (
        bm25_topk(docs),
        bm25_topk_from_index(spark, docs, idx),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("SortMergeJoin") == 0, plan[:2000]
        # every join is a broadcast of sketch-sized state (df table /
        # corpus stats), never a corpus-side shuffle join
        assert plan.count("ShuffledHashJoin") == 0, plan[:2000]
        df.collect()  # and the plan actually executes
