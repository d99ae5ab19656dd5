"""Mergeable-state invariants (operators/incremental.py, trends.py).

Oracle parity for exact numbers runs in the registry sweep; these pin
the algebraic contracts directly: merging per-slice states must equal
the one-pass aggregate bit-for-bit, under any slicing.
"""

from pyspark.sql import functions as F

from nyc_data_pipeline_spark.catalog import load_table
from nyc_data_pipeline_spark.operators.incremental import (
    merge_histograms,
    merge_states,
    partial_histogram,
    partial_state,
)


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_partial_state_merge_equals_one_pass(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    # 4-way slicing by a different key than the registered query uses.
    slices = [ev.filter(F.col("user_id") % 4 == k) for k in range(4)]
    states = slices[0].transform(partial_state)
    for s in slices[1:]:
        states = states.unionByName(partial_state(s))
    merged = merge_states(states)
    direct = merge_states(partial_state(ev))
    cols = ("event_type", "n", "sum_micro", "min_value", "max_value", "avg_value")
    assert _rows(merged, *cols) == _rows(direct, *cols)


def test_histogram_merge_equals_one_pass(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    slices = [ev.filter(F.col("user_id") % 5 == k) for k in range(5)]
    states = partial_histogram(slices[0])
    for s in slices[1:]:
        states = states.unionByName(partial_histogram(s))
    merged = merge_histograms(states)
    direct = merge_histograms(partial_histogram(ev))
    cols = ("event_type", "bin", "n", "sum_value")
    assert _rows(merged, *cols) == _rows(direct, *cols)


def test_grouped_ols_known_slope(spark):
    """Perfectly linear data: y = 2x + 1 (micro-units) → slope_num/den
    reduces to exactly 2, from BOTH execution strategies (the Catalyst
    sufficient-statistics form and the applyInPandas grouped-map form —
    their outputs must be bit-identical).  Shuffled input order must
    not matter (the fit ranks by (ts, event_id) internally)."""
    from nyc_data_pipeline_spark.operators.trends import (
        grouped_ols_pandas,
        grouped_ols_stats,
    )

    rows = [
        ("a", i, float(2 * i + 1))
        for i in (3, 1, 4, 2, 5)  # deliberately out of order
    ]
    df = spark.createDataFrame(rows, "event_type string, event_id long, value double").select(
        "event_type",
        F.timestamp_micros(F.col("event_id") * 1_000_000).alias("ts"),
        "event_id",
        "value",
    )
    for out in (
        grouped_ols_stats(df, "event_type").collect(),
        grouped_ols_pandas(df, "event_type", "string").collect(),
    ):
        assert len(out) == 1
        r = out[0]
        assert r["n"] == 5
        num, den = int(r["slope_num"]), int(r["slope_den"])
        assert den > 0
        # slope in micro-y per unit x: exactly 2.0 * MICRO
        assert num == 2_000_000 * den


def test_quantize_codes_bounded(spark, sf_dir):
    """int8 codes must stay in [-127, 127] and each vector reports all
    its dims exactly once."""
    from nyc_data_pipeline_spark import registry

    registry.load_all()
    rows = registry.QUERIES["emb_quantize_int8"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -127 <= r.min_code <= r.max_code <= 127, r
        assert r.n_dims == 64, r


def test_containment_bounds_and_orientation(spark, sf_dir):
    """Containment intersections are bounded by the doc's set size and
    every edge points doc -> smaller rep id."""
    from nyc_data_pipeline_spark import registry

    registry.load_all()
    rows = registry.QUERIES["dedup_containment_rep"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_inter <= r.n_doc, r
        assert r.rep_id < r.doc_id, r
        assert r.contained == (100 * r.n_inter >= 60 * r.n_doc), r


def test_gap_islands_conserve_events(spark, sf_dir):
    """Per (user, type): island run-lengths must sum to that pair's
    event count, and every max_run is at most the total."""
    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark import registry
    from nyc_data_pipeline_spark.catalog import load_table

    registry.load_all()
    got = {
        (r.user_id, r.event_type): (r.max_run, r.n_runs)
        for r in registry.QUERIES["window_gap_islands"](spark, sf_dir).collect()
    }
    counts = {
        (r.user_id, r.event_type): r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(got) == set(counts)
    for k, (max_run, n_runs) in got.items():
        assert 1 <= max_run <= counts[k], (k, max_run)
        assert 1 <= n_runs <= counts[k], (k, n_runs)


def test_quantile_histogram_brackets_true_order_statistics(spark, sf_dir):
    """The selected bin must bracket the exact order statistic: verify
    against a full Python sort of the raw cents values."""
    from nyc_data_pipeline_spark.registry import QUERIES

    rows = QUERIES["approx_quantile_histogram"](spark, sf_dir).collect()
    assert len(rows) == 4 and all(r.bound_ok for r in rows)
    cents = sorted(
        int(v.o_totalprice * 100)
        for v in spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    )
    for r in rows:
        true_val = cents[r.target_rank - 1]  # rank is 1-based
        assert r.bin_lo_cents <= true_val < r.bin_hi_cents
        assert r.n_below_lo < r.target_rank <= r.n_thru_hi


def test_ivfpq_append_inherits_artifacts_and_adds_only_new_files(
    spark, sf_dir
):
    """Append-commit invariants on the ANN index: v2 inherits the v1
    centroid/codebook pointers byte-identical (frozen artifacts), the
    code table grows by exactly one new path, the new path holds only
    batch vectors, and v1's code files are untouched."""
    import json as _json
    import os as _os
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.similarity.index_store import BATCH_PRED
    from nyc_data_pipeline_spark.sources.scans import scratch_dir
    import pyspark.sql.functions as F

    load_all()
    QUERIES["sim_index_append"](spark, sf_dir).collect()
    table_dir = scratch_dir("ivfpq_append", sf_dir)
    with open(_os.path.join(table_dir, "ivfpq-manifest-v1.json")) as f:
        m1 = _json.load(f)
    with open(_os.path.join(table_dir, "ivfpq-manifest-v2.json")) as f:
        m2 = _json.load(f)
    assert m2["centroids"] == m1["centroids"]
    assert m2["codebook"] == m1["codebook"]
    assert m2["codes"][:-1] == [m1["codes"]]
    new_path = m2["codes"][-1]
    assert "/v2/" in new_path
    new_ids = (
        spark.read.option("basePath", new_path)
        .parquet(new_path)
        .select("vec_id")
        .distinct()
    )
    assert new_ids.filter(~F.expr(BATCH_PRED)).count() == 0
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert new_ids.count() == emb.filter(F.expr(BATCH_PRED)).count()


def test_ivm_stream_join_view_auxiliary_load_bearing(spark, sf_dir):
    """The streamed joined-view refresh (VERDICT r10 ask #5) must (a)
    land on the full-recompute fixpoint, (b) read NO raw fact table in
    the refresh plan — only committed view artifacts and the two CDC
    tables' change-feed artifacts — and (c) genuinely depend on the
    incrementally-maintained auxiliary: replaying refresh 2 against
    the STALE v1 per-customer aggregate must produce a different
    (wrong) view, because wave-1 order uplifts belong to customers the
    wave-2 churn removes."""
    import json as _json
    import os as _os

    from nyc_data_pipeline_spark.operators.incremental import (
        _feed_to_signed_a,
        _feed_to_signed_b,
        maintain_join_view,
    )
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_read,
    )

    load_all()
    want = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in QUERIES["ivm_stream_join_view"](spark, sf_dir).collect()
    }
    a_dir = scratch_dir("ivm_sj_a", sf_dir)
    b_dir = scratch_dir("ivm_sj_b", sf_dir)
    view_dir = scratch_dir("ivm_sj_view", sf_dir)
    with open(_os.path.join(view_dir, "manifest-v1.json")) as f:
        m1 = _json.load(f)
    with open(_os.path.join(view_dir, "manifest-v2.json")) as f:
        m2 = _json.load(f)
    da2 = _feed_to_signed_a(mor_cdc_change_feed(spark, a_dir, 3))
    db = _feed_to_signed_b(mor_cdc_change_feed(spark, b_dir, 2))
    b2 = mor_cdc_read(spark, b_dir, 2).select("c", "segment")

    fresh = maintain_join_view(
        spark.read.parquet(m2["seg_view"]),
        spark.read.parquet(m2["cust_view"]),
        b2, da2, db,
    )
    got = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in fresh.collect()
        if r["n_rows"] > 0
    }
    assert got == want
    # fact-free refresh: every input file is a view artifact or a CDC
    # table artifact under scratch — never the raw testdata parquet
    assert fresh.inputFiles()
    assert not any("testdata" in p for p in fresh.inputFiles())

    stale = maintain_join_view(
        spark.read.parquet(m2["seg_view"]),
        spark.read.parquet(m1["cust_view"]),  # auxiliary NOT advanced
        b2, da2, db,
    )
    got_stale = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in stale.collect()
        if r["n_rows"] > 0
    }
    assert got_stale != want


def test_catch_up_join_view_consumes_unseen_feeds(spark, sf_dir):
    """The production refresh API: after `ivm_stream_join_view` leaves
    the view at v3 (cursors a=3, b=2), (a) a catch-up with nothing
    unseen is a no-op returning the current manifest; (b) after NEW
    commits land on BOTH tables — plus a STALE wave redelivered to the
    fact table under a fresh commit id, which must contribute nothing
    (its feed is empty by the shadow-ceiling rule) — one catch-up
    advances the view to exactly the one-shot recompute over the
    tables' latest reads, moving the cursors past every commit
    including the stale one."""
    from nyc_data_pipeline_spark.operators.incremental import (
        IVM_A_DEL_MOD,
        IVM_A_UPD_MOD,
        IVM_A_UPLIFT,
        _ivm_a1,
        catch_up_join_view,
    )
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_read,
    )

    load_all()
    QUERIES["ivm_stream_join_view"](spark, sf_dir).collect()  # build
    a_dir = scratch_dir("ivm_sj_a", sf_dir)
    b_dir = scratch_dir("ivm_sj_b", sf_dir)
    view_dir = scratch_dir("ivm_sj_view", sf_dir)

    m = catch_up_join_view(spark, view_dir, a_dir, b_dir)
    assert (m["version"], m["a_version"], m["b_version"]) == (3, 3, 2)

    a1 = _ivm_a1(spark, sf_dir)
    # A commit 4: re-score surviving k%9 orders at change version 3
    wave_a3 = (
        a1.filter(
            (F.col("k") % 9 == 0) & (F.col("k") % IVM_A_DEL_MOD != 0)
        )
        .withColumn(
            "cents",
            F.col("cents")
            + F.when(F.col("k") % IVM_A_UPD_MOD == 0, IVM_A_UPLIFT)
            .otherwise(0)
            + 9,
        )
        .withColumn("version", F.lit(3))
        .withColumn("op", F.lit("u"))
    )
    mor_cdc_commit(spark, wave_a3, a_dir, 4)
    # A commit 5: STALE redelivery of wave 1 (same changes, versions)
    wave_a1 = (
        a1.filter(
            (F.col("k") % IVM_A_UPD_MOD == 0)
            & (F.col("k") % IVM_A_DEL_MOD != 0)
        )
        .withColumn("cents", F.col("cents") + IVM_A_UPLIFT)
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("u"))
    )
    mor_cdc_commit(spark, wave_a1, a_dir, 5)
    # B commit 3: a second segment-move wave at change version 2
    b2_now = mor_cdc_read(spark, b_dir, 2).select("c", "segment")
    wave_b2 = (
        b2_now.filter((F.col("c") % 19 == 0))
        .withColumn("segment", F.lit("MOVED2"))
        .withColumn("version", F.lit(2))
        .withColumn("op", F.lit("u"))
    )
    mor_cdc_commit(spark, wave_b2, b_dir, 3)

    m2 = catch_up_join_view(spark, view_dir, a_dir, b_dir)
    assert (m2["version"], m2["a_version"], m2["b_version"]) == (4, 5, 3)
    got = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in spark.read.parquet(m2["seg_view"]).collect()
        if r["n_rows"] > 0
    }
    want = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in mor_cdc_read(spark, a_dir, 5)
        .select("c", "cents")
        .join(
            F.broadcast(
                mor_cdc_read(spark, b_dir, 3).select("c", "segment")
            ),
            "c",
        )
        .groupBy("segment")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .collect()
    }
    assert got == want
    # idempotent: nothing further unseen
    m3 = catch_up_join_view(spark, view_dir, a_dir, b_dir)
    assert m3["version"] == 4


def test_catch_up_join_view_refuses_backward_cursors(spark, tmp_path):
    """A table chain whose latest manifest sits BELOW the view cursor
    (rollback / retention edge) must raise loudly instead of writing
    the cursor backward — a silent backward move would re-fold
    already-applied feeds on the next catch-up and double-count
    (ADVICE r11)."""
    import pytest

    from nyc_data_pipeline_spark.operators.incremental import (
        catch_up_join_view,
    )
    from nyc_data_pipeline_spark.manifest_log import atomic_json_dump
    from nyc_data_pipeline_spark.streaming.mor_cdc import mor_cdc_init

    a_dir = str(tmp_path / "a")
    b_dir = str(tmp_path / "b")
    view_dir = str(tmp_path / "view")
    mor_cdc_init(
        spark,
        spark.range(40).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("c"),
            (F.col("id") * 10).alias("cents"),
            F.lit(0).alias("version"),
        ),
        a_dir,
        "k",
    )
    mor_cdc_init(
        spark,
        spark.range(7).select(
            F.col("id").alias("c"),
            F.lit("S").alias("segment"),
            F.lit(0).alias("version"),
        ),
        b_dir,
        "c",
    )
    import os

    atomic_json_dump(
        {
            "version": 1,
            "seg_view": "unused",
            "cust_view": "unused",
            "a_version": 9,  # ahead of the table's latest (=1)
            "b_version": 1,
        },
        os.path.join(view_dir, "manifest-v1.json"),
    )
    with pytest.raises(ValueError, match="refusing to move cursors"):
        catch_up_join_view(spark, view_dir, a_dir, b_dir)


def test_catch_up_join_view_folds_across_base_table_evolution(
    spark, tmp_path
):
    """VERDICT r13 ask #2: a join view catches up across a base-table
    RENAME + WIDEN of a column the view projects.  The catch-up reads
    one evolution-crossing span per side (`mor_cdc_change_feed_span`),
    resolves the view's projected columns by FIELD ID
    (`a_fields`/`b_fields` stamped in the view manifest on first
    catch-up), and aliases the renamed columns back to the view's
    canonical names — so the fold equals the one-shot recompute over
    the tables' latest reads, rename and all."""
    import json
    import os

    from nyc_data_pipeline_spark.operators.incremental import (
        build_join_view,
        catch_up_join_view,
    )
    from nyc_data_pipeline_spark.manifest_log import atomic_json_dump
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
        mor_cdc_rename_column,
        mor_cdc_widen_column,
    )

    a_dir = str(tmp_path / "a")
    b_dir = str(tmp_path / "b")
    view_dir = str(tmp_path / "view")
    a1 = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") % 8).alias("c"),
        (F.col("id") * 10).cast("int").alias("cents"),
        F.lit(0).alias("version"),
    )
    b1 = spark.range(8).select(
        F.col("id").alias("c"),
        F.concat(F.lit("S"), (F.col("id") % 3).cast("string")).alias(
            "segment"
        ),
        F.lit(0).alias("version"),
    )
    mor_cdc_init(spark, a1, a_dir, "k", n_files=4)
    mor_cdc_init(spark, b1, b_dir, "c", n_files=2)
    build_join_view(
        mor_cdc_read(spark, a_dir, 1).select("k", "c", "cents"),
        mor_cdc_read(spark, b_dir, 1).select("c", "segment"),
        view_dir,
    )
    with open(os.path.join(view_dir, "manifest-v1.json")) as f:
        m1 = json.load(f)
    m1.update({"a_version": 1, "b_version": 1})
    atomic_json_dump(m1, os.path.join(view_dir, "manifest-v1.json"))

    # --- catch-up #1 over a pre-evolution wave: stamps the field ids
    wave1 = a1.filter(F.col("k") % 5 == 0).select(
        "k",
        "c",
        (F.col("cents") + 3).cast("int").alias("cents"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, wave1, a_dir, 2)
    m2 = catch_up_join_view(spark, view_dir, a_dir, b_dir)
    assert m2["a_fields"]["cents"] == 3  # k=1, c=2, cents=3
    assert m2["b_fields"]["segment"] == 2

    # --- evolve BOTH base tables on columns the view projects
    mor_cdc_rename_column(a_dir, "cents", "amount")       # A v3
    mor_cdc_widen_column(a_dir, "amount", "bigint")       # A v4
    mor_cdc_rename_column(b_dir, "segment", "seg_name")   # B v2
    # post-evolution waves under the NEW names (A: a narrow-typed
    # producer is fine — the span casts to the widened type)
    wave2 = a1.filter(F.col("k") % 7 == 0).select(
        "k",
        "c",
        (F.col("cents") + 700).cast("int").alias("amount"),
        F.lit(2).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, wave2, a_dir, 5)
    move = spark.range(2).select(
        F.col("id").alias("c"),
        F.lit("MOVED").alias("seg_name"),
        F.lit(1).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, move, b_dir, 3)

    # --- ONE catch-up folds the evolution-crossing spans
    m3 = catch_up_join_view(spark, view_dir, a_dir, b_dir)
    assert (m3["version"], m3["a_version"], m3["b_version"]) == (3, 5, 3)
    got = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in spark.read.parquet(m3["seg_view"]).collect()
        if r["n_rows"] > 0
    }
    want = {
        r["seg_name"]: (r["n_rows"], r["sum_cents"])
        for r in mor_cdc_read(spark, a_dir, 5)
        .select("c", "amount")
        .join(
            F.broadcast(
                mor_cdc_read(spark, b_dir, 3).select("c", "seg_name")
            ),
            "c",
        )
        .groupBy("seg_name")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("amount").cast("bigint").alias("sum_cents"),
        )
        .collect()
    }
    assert got == want
    # ids persisted: a FURTHER rename still resolves on the next fold
    mor_cdc_rename_column(a_dir, "amount", "revenue")     # A v6
    wave3 = a1.filter(F.col("k") % 11 == 0).select(
        "k",
        "c",
        (F.col("cents") + 40).cast("bigint").alias("revenue"),
        F.lit(3).alias("version"),
        F.lit("u").alias("op"),
    )
    mor_cdc_commit(spark, wave3, a_dir, 7)
    m4 = catch_up_join_view(spark, view_dir, a_dir, b_dir)
    got4 = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in spark.read.parquet(m4["seg_view"]).collect()
        if r["n_rows"] > 0
    }
    want4 = {
        r["seg_name"]: (r["n_rows"], r["sum_cents"])
        for r in mor_cdc_read(spark, a_dir, 7)
        .select("c", "revenue")
        .join(
            F.broadcast(
                mor_cdc_read(spark, b_dir, 3).select("c", "seg_name")
            ),
            "c",
        )
        .groupBy("seg_name")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("revenue").cast("bigint").alias("sum_cents"),
        )
        .collect()
    }
    assert got4 == want4


def test_ivm_catch_up_view_rerun_converges_after_midbuild_crash(
    spark, sf_dir
):
    """Re-entry contract (ADVICE r11): after a crash leaves the view
    chain behind the fully-committed tables, a rerun must converge to
    cursors (5, 3) and the same rows — the completion check is cursor
    values on the LATEST view manifest, never a hardcoded version
    number (here convergence lands at view v2, not v3, because one
    catch-up folds the whole backlog)."""
    import json
    import os

    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    load_all()
    first = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in QUERIES["ivm_catch_up_view"](spark, sf_dir).collect()
    }
    view_dir = scratch_dir("ivm_cu_view", sf_dir)
    # simulate the crash: view chain truncated to v1 (cursors (1,1)),
    # both tables already fully committed (a@5, b@3)
    for v in (2, 3):
        p = os.path.join(view_dir, f"manifest-v{v}.json")
        if os.path.exists(p):
            os.unlink(p)
    again = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in QUERIES["ivm_catch_up_view"](spark, sf_dir).collect()
    }
    assert again == first
    # the rerun's single catch-up folded A 2..5 + B 2..3 into view v2
    with open(os.path.join(view_dir, "manifest-v2.json")) as f:
        m = json.load(f)
    assert (m["a_version"], m["b_version"]) == (5, 3)


def test_view_vacuum_retains_latest_and_raises_past_floor(
    spark, sf_dir, tmp_path
):
    """View-artifact retention (the table-side rule applied to the
    view chain): after the catch-up lifecycle accumulates refreshes
    v1..v3, a view_vacuum(retain=1) must (a) remove every manifest and
    artifact directory the latest refresh doesn't reference, (b) leave
    the latest refresh byte-identical readable with its cursors, (c)
    make reads past the floor raise the named ViewRetentionError while
    never-committed versions stay a plain ValueError, and (d) leave
    catch-up functional (a no-op catch-up still early-returns on the
    retained cursors)."""
    import shutil

    import pytest

    from nyc_data_pipeline_spark.operators.incremental import (
        ViewRetentionError,
        catch_up_join_view,
        load_view_manifest,
        view_vacuum,
    )
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    load_all()
    want = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in QUERIES["ivm_catch_up_view"](spark, sf_dir).collect()
    }
    view_dir = str(tmp_path / "view")
    shutil.copytree(scratch_dir("ivm_cu_view", sf_dir), view_dir)
    # the copy's manifests point at the ORIGINAL artifact paths;
    # repoint them so the vacuum reasons about the copied chain
    import json as _json
    import os as _os

    for f in _os.listdir(view_dir):
        if f.startswith("manifest-v"):
            with open(_os.path.join(view_dir, f)) as fh:
                m = _json.load(fh)
            for k in ("seg_view", "cust_view"):
                m[k] = _os.path.join(
                    view_dir, *m[k].rstrip("/").split("/")[-2:]
                )
            with open(_os.path.join(view_dir, f), "w") as fh:
                _json.dump(m, fh)
    versions = sorted(
        int(f[len("manifest-v"):-len(".json")])
        for f in _os.listdir(view_dir)
        if f.startswith("manifest-v")
    )
    # A fresh lifecycle leaves v1 + two catch-ups, but the mid-build
    # crash test above truncates the shared scratch chain to v1 and
    # reruns (one catch-up -> v2), so in-session order can hand this
    # test a 2-manifest chain.  The vacuum contract only needs >=2:
    # retain the latest, reclaim everything else.
    assert len(versions) >= 2
    stats = view_vacuum(view_dir, retain=1)
    assert stats["retained"] == [versions[-1]]
    assert stats["manifests_removed"] == len(versions) - 1
    assert stats["dirs_removed"] >= 1
    m = load_view_manifest(view_dir, versions[-1])
    assert (m["a_version"], m["b_version"]) == (5, 3)
    got = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in spark.read.parquet(m["seg_view"]).collect()
    }
    assert got == want
    with pytest.raises(ViewRetentionError):
        load_view_manifest(view_dir, versions[0])
    with pytest.raises(ValueError):
        load_view_manifest(view_dir, versions[-1] + 7)
    # catch-up on the vacuumed chain: nothing unseen -> no-op
    a_dir = scratch_dir("ivm_cu_a", sf_dir)
    b_dir = scratch_dir("ivm_cu_b", sf_dir)
    m2 = catch_up_join_view(spark, view_dir, a_dir, b_dir)
    assert (m2["a_version"], m2["b_version"]) == (5, 3)


def test_view_vacuum_spares_a_refresh_still_being_staged(tmp_path):
    """A refresh writes `v{head+1}/` before it publishes the manifest
    naming it: a vacuum landing in that window must leave the staged
    directory alone (the mor_cdc_vacuum rule), or the refresh then
    publishes a manifest pointing at nothing.  retain < 1 would reclaim
    the head refresh and is a ValueError."""
    import pytest

    from nyc_data_pipeline_spark.operators.incremental import (
        view_log,
        view_vacuum,
    )

    view_dir = tmp_path / "view"

    def stage(v: int) -> dict:
        paths = {}
        for k in ("seg_view", "cust_view"):
            d = view_dir / f"v{v}" / k
            d.mkdir(parents=True)
            (d / "part-00000.parquet").write_bytes(b"")
            paths[k] = str(d)
        return paths

    log = view_log(str(view_dir))
    for v in (1, 2):
        log.publish(v, {"version": v, **stage(v)})
    stage(3)  # refresh 3 staged, its manifest not yet published
    stats = view_vacuum(str(view_dir), retain=1)
    assert stats["retained"] == [2]
    assert stats["dirs_removed"] == 1
    assert not (view_dir / "v1").exists()
    assert (view_dir / "v2" / "seg_view").is_dir()
    assert (view_dir / "v3" / "seg_view").is_dir()
    assert (view_dir / "v3" / "cust_view").is_dir()
    with pytest.raises(ValueError, match="retain"):
        view_vacuum(str(view_dir), retain=0)


def test_catalog_view_ignores_unflipped_then_consumes_after_flip(
    spark, tmp_path
):
    """catch_up_view_from_catalog: the view's feed ranges come from
    ONE catalog read, so (a) a table commit published without a
    catalog flip (the txn crash window) contributes NOTHING to the
    refreshed view, and (b) once a transaction flips it, the SAME call
    consumes exactly that delta — the view tracks catalog snapshots,
    never raw table chains."""
    import json
    import os

    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark.operators.incremental import (
        build_join_view,
        catch_up_view_from_catalog,
    )
    from nyc_data_pipeline_spark.manifest_log import atomic_json_dump
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_init,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        txn_catalog_init,
        txn_commit,
    )

    a1 = spark.range(30).select(
        F.col("id").alias("k"),
        (F.col("id") % 6).alias("c"),
        (F.col("id") + 100).alias("cents"),
    )
    b1 = spark.range(6).select(
        F.col("id").alias("c"),
        F.concat(F.lit("S"), (F.col("id") % 2)).alias("segment"),
    )
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    cat, view_dir = str(tmp_path / "cat"), str(tmp_path / "view")
    mor_cdc_init(spark, a1.withColumn("version", F.lit(0)), a_dir, "k",
                 n_files=4)
    mor_cdc_init(spark, b1.withColumn("version", F.lit(0)), b_dir, "c",
                 n_files=2)
    txn_catalog_init(cat, {"orders": (a_dir, 1), "customer": (b_dir, 1)})
    build_join_view(a1, b1, view_dir)
    with open(os.path.join(view_dir, "manifest-v1.json")) as f:
        m1 = json.load(f)
    m1.update({"a_version": 1, "b_version": 1})
    atomic_json_dump(m1, os.path.join(view_dir, "manifest-v1.json"))

    wave_a = (
        a1.filter(F.col("k") % 3 == 0)
        .withColumn("cents", F.col("cents") + 7)
        .withColumn("version", F.lit(1)).withColumn("op", F.lit("u"))
    )
    mor_cdc_commit(spark, wave_a, a_dir, 2)
    wave_b = (
        b1.filter(F.col("c") % 5 == 0)
        .withColumn("segment", F.lit("MOVEDX"))
        .withColumn("version", F.lit(1)).withColumn("op", F.lit("u"))
    )
    mor_cdc_commit(spark, wave_b, b_dir, 2)
    txn_commit(cat, {"orders": 2, "customer": 2})
    # the crash window: table-published, catalog flip pending
    pend = (
        a1.filter(F.col("k") % 4 == 0)
        .withColumn("cents", F.col("cents") + 100)
        .withColumn("version", F.lit(2)).withColumn("op", F.lit("u"))
    )
    mor_cdc_commit(spark, pend, a_dir, 3)

    def recompute(with_pend):
        rows = {}
        for k in range(30):
            c = k % 6
            cents = k + 100 + (7 if k % 3 == 0 else 0)
            if with_pend and k % 4 == 0:
                cents = k + 100 + 100  # version 2 replaces the row
            seg = "MOVEDX" if c % 5 == 0 else f"S{c % 2}"
            n, s = rows.get(seg, (0, 0))
            rows[seg] = (n + 1, s + cents)
        return rows

    m = catch_up_view_from_catalog(
        spark, view_dir, cat, "orders", "customer"
    )
    assert (m["a_version"], m["b_version"]) == (2, 2)
    assert m["catalog_version"] == 2
    got = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in spark.read.parquet(m["seg_view"]).collect()
    }
    assert got == recompute(with_pend=False)
    # flip the pending commit: the same call now consumes its delta
    txn_commit(cat, {"orders": 3})
    m2 = catch_up_view_from_catalog(
        spark, view_dir, cat, "orders", "customer"
    )
    assert (m2["a_version"], m2["b_version"]) == (3, 2)
    assert m2["catalog_version"] == 3
    got2 = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in spark.read.parquet(m2["seg_view"]).collect()
    }
    assert got2 == recompute(with_pend=True)


def test_view_as_catalog_member_never_torn(spark, tmp_path):
    """VERDICT r12 ask #6: with the view registered as a catalog
    MEMBER, a catalog reader can never observe base/view versions
    from different snapshots — at EVERY catalog version, the view
    read through the catalog equals a from-scratch recompute of the
    base tables read through the SAME catalog version, including
    across the two crash windows (view refreshed but unflipped;
    base published but unflipped)."""
    import json
    import os

    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark.operators.incremental import (
        build_join_view,
        catalog_read_view,
        catch_up_join_view,
        refresh_view_txn,
    )
    from nyc_data_pipeline_spark.manifest_log import atomic_json_dump
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        catalog_log,
        catalog_load,
        txn_catalog_init,
    )

    a1 = spark.range(30).select(
        F.col("id").alias("k"),
        (F.col("id") % 6).alias("c"),
        (F.col("id") + 100).alias("cents"),
    )
    b1 = spark.range(6).select(
        F.col("id").alias("c"),
        F.concat(F.lit("S"), (F.col("id") % 2)).alias("segment"),
    )
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    cat, view_dir = str(tmp_path / "cat"), str(tmp_path / "view")
    mor_cdc_init(spark, a1.withColumn("version", F.lit(0)), a_dir, "k",
                 n_files=4)
    mor_cdc_init(spark, b1.withColumn("version", F.lit(0)), b_dir, "c",
                 n_files=2)
    build_join_view(a1, b1, view_dir)
    with open(os.path.join(view_dir, "manifest-v1.json")) as f:
        m1 = json.load(f)
    m1.update({"a_version": 1, "b_version": 1})
    atomic_json_dump(m1, os.path.join(view_dir, "manifest-v1.json"))
    txn_catalog_init(
        cat,
        {"orders": (a_dir, 1), "customer": (b_dir, 1),
         "seg_view": (view_dir, 1)},
    )

    def assert_consistent():
        """Every retained catalog version pairs base and view from
        the same snapshot: the catalog view == recompute from the
        catalog-resolved base states."""
        for v in range(1, catalog_log(cat).head() + 1):
            snap = catalog_load(cat, v)["tables"]
            base = (
                mor_cdc_read(spark, a_dir, snap["orders"]["version"])
                .select("k", "c", "cents")
                .join(
                    mor_cdc_read(
                        spark, b_dir, snap["customer"]["version"]
                    ).select("c", "segment"),
                    "c",
                )
                .groupBy("segment")
                .agg(
                    F.count("*").alias("n_rows"),
                    F.sum("cents").alias("sum_cents"),
                )
            )
            want = {
                r["segment"]: (r["n_rows"], r["sum_cents"])
                for r in base.collect()
            }
            got = {
                r["segment"]: (r["n_rows"], r["sum_cents"])
                for r in catalog_read_view(spark, cat, "seg_view", v)
                .collect()
            }
            assert got == want, (v, got, want)

    assert_consistent()  # v1
    # waves on both tables, then refresh+flip in ONE transaction
    mor_cdc_commit(
        spark,
        a1.filter(F.col("k") % 3 == 0)
        .withColumn("cents", F.col("cents") + 7)
        .withColumn("version", F.lit(1)).withColumn("op", F.lit("u")),
        a_dir, 2,
    )
    mor_cdc_commit(
        spark,
        b1.filter(F.col("c") % 5 == 0)
        .withColumn("segment", F.lit("MOVEDX"))
        .withColumn("version", F.lit(1)).withColumn("op", F.lit("u")),
        b_dir, 2,
    )
    assert_consistent()  # base published, nothing flipped: v1 intact
    new_cat = refresh_view_txn(
        spark, cat, "seg_view", "orders", "customer"
    )
    assert new_cat["version"] == 2
    assert new_cat["tables"]["seg_view"]["version"] == 2
    assert_consistent()  # v1 AND v2 both resolve consistently
    # crash window A: base wave published + view refreshed, NO flip
    mor_cdc_commit(
        spark,
        a1.filter(F.col("k") % 4 == 0)
        .withColumn("cents", F.col("cents") + 100)
        .withColumn("version", F.lit(2)).withColumn("op", F.lit("u")),
        a_dir, 3,
    )
    catch_up_join_view(spark, view_dir, a_dir, b_dir, a_to=3, b_to=2)
    assert_consistent()  # catalog still serves the OLD (base, view)
    # rerun completes the interrupted transaction: catch-up no-ops on
    # matching cursors, the commit flips base AND view together
    new_cat = refresh_view_txn(
        spark, cat, "seg_view", "orders", "customer"
    )
    assert new_cat["version"] == 3
    assert (
        new_cat["tables"]["orders"]["version"],
        new_cat["tables"]["seg_view"]["version"],
    ) == (3, 3)
    assert_consistent()  # all three snapshots, never torn
    # coordinated vacuum with a VIEW member: txn_vacuum detects the
    # manifest kind (view manifests carry artifact pointers, not
    # files/dvs) and clamps the view's reclaim to its catalog floor —
    # every retained snapshot still resolves for BASE AND VIEW
    from nyc_data_pipeline_spark.streaming.txn import txn_vacuum

    stats = txn_vacuum(cat, retain=2)
    assert stats["tables"]["seg_view"]["floor"] == 2
    for v in (2, 3):
        catalog_read_view(spark, cat, "seg_view", v)
    assert_consistent_v = {
        r["segment"]
        for r in catalog_read_view(spark, cat, "seg_view", 2).collect()
    }
    assert assert_consistent_v  # the floor-retained refresh is intact


def test_refresh_view_txn_crosses_base_evolution_one_flip(
    spark, tmp_path
):
    """The catalog-MEMBER leg of evolution-crossing catch-up (VERDICT
    r14 ask #4): a base-table rename + widen + a data wave under the
    NEW name advance the member view through `refresh_view_txn` in
    ONE catalog flip.  At every retained catalog version the view read
    through the catalog equals a from-scratch recompute of the SAME
    snapshot's base reads — under whichever column name that
    snapshot's schema carries — and the view's field-id map keeps
    resolving the renamed column across further catch-ups."""
    import json
    import os

    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark.operators.incremental import (
        build_join_view,
        catalog_read_view,
        refresh_view_txn,
    )
    from nyc_data_pipeline_spark.manifest_log import atomic_json_dump
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
        mor_cdc_rename_column,
        mor_cdc_widen_column,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        catalog_log,
        catalog_load,
        txn_catalog_init,
    )

    a1 = spark.range(36).select(
        F.col("id").alias("k"),
        (F.col("id") % 6).alias("c"),
        (F.col("id") * 10).cast("int").alias("cents"),
    )
    b1 = spark.range(6).select(
        F.col("id").alias("c"),
        F.concat(F.lit("S"), (F.col("id") % 2)).alias("segment"),
    )
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    cat, view_dir = str(tmp_path / "cat"), str(tmp_path / "view")
    mor_cdc_init(spark, a1.withColumn("version", F.lit(0)), a_dir,
                 "k", n_files=4)
    mor_cdc_init(spark, b1.withColumn("version", F.lit(0)), b_dir,
                 "c", n_files=2)
    build_join_view(a1, b1, view_dir)
    with open(os.path.join(view_dir, "manifest-v1.json")) as f:
        m1 = json.load(f)
    m1.update({"a_version": 1, "b_version": 1})
    atomic_json_dump(m1, os.path.join(view_dir, "manifest-v1.json"))
    txn_catalog_init(
        cat,
        {"orders": (a_dir, 1, "table"), "customer": (b_dir, 1, "table"),
         "seg_view": (view_dir, 1, "view")},
    )

    def assert_consistent():
        for v in range(1, catalog_log(cat).head() + 1):
            snap = catalog_load(cat, v)["tables"]
            a = mor_cdc_read(
                spark, a_dir, snap["orders"]["version"]
            )
            val = "amount" if "amount" in a.columns else "cents"
            want = {
                r["segment"]: (r["n_rows"], r["sum_cents"])
                for r in a.select("c", F.col(val).alias("cents"))
                .join(
                    mor_cdc_read(
                        spark, b_dir, snap["customer"]["version"]
                    ).select("c", "segment"),
                    "c",
                )
                .groupBy("segment")
                .agg(
                    F.count("*").alias("n_rows"),
                    F.sum("cents").alias("sum_cents"),
                )
                .collect()
            }
            got = {
                r["segment"]: (r["n_rows"], r["sum_cents"])
                for r in catalog_read_view(
                    spark, cat, "seg_view", v
                ).collect()
                if r["n_rows"] > 0
            }
            assert got == want, (v, got, want)

    # pre-evolution wave, refreshed+flipped: stamps the field-id map
    mor_cdc_commit(
        spark,
        a1.filter(F.col("k") % 3 == 0)
        .withColumn("cents", (F.col("cents") + 7).cast("int"))
        .withColumn("version", F.lit(1)).withColumn("op", F.lit("u")),
        a_dir, 2,
    )
    refresh_view_txn(spark, cat, "seg_view", "orders", "customer")
    assert_consistent()
    # rename + widen + a wave under the NEW name, all published on
    # the table chain, then ONE refresh_view_txn flip
    mor_cdc_rename_column(a_dir, "cents", "amount")   # A v3
    mor_cdc_widen_column(a_dir, "amount", "bigint")   # A v4
    mor_cdc_commit(
        spark,
        a1.filter(F.col("k") % 4 == 0)
        .withColumn("version", F.lit(2)).withColumn("op", F.lit("u"))
        .withColumn("amount", (F.col("cents") + 9000).cast("bigint"))
        .drop("cents"),
        a_dir, 5,
    )
    new_cat = refresh_view_txn(
        spark, cat, "seg_view", "orders", "customer"
    )
    assert new_cat["version"] == 3
    assert (
        new_cat["tables"]["orders"]["version"],
        new_cat["tables"]["seg_view"]["version"],
    ) == (5, 3)
    assert_consistent()  # every snapshot, rename and all
    # the view manifest's field-id map survived under canonical names
    with open(os.path.join(view_dir, "manifest-v3.json")) as f:
        m3 = json.load(f)
    assert m3["a_fields"]["cents"] == 3  # the renamed field's id
    assert (m3["a_version"], m3["b_version"]) == (5, 1)


def test_multi_table_wap_then_view_flip_end_to_end(spark, tmp_path):
    """The full production flow: stage a day's waves on branch 'audit'
    across BOTH base tables (invisible to main and to the catalog),
    audit the branch heads, publish both tables + flip the catalog in
    ONE transaction (txn_publish_branches), then refresh+flip the
    VIEW through refresh_view_txn — and AS OF reads reconstruct every
    intermediate consistent state."""
    import json
    import os

    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark.operators.incremental import (
        build_join_view,
        catalog_read_view,
        catalog_read_view_as_of,
        refresh_view_txn,
    )
    from nyc_data_pipeline_spark.manifest_log import atomic_json_dump
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_init,
        wap_read,
        wap_stage,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        catalog_load,
        txn_catalog_init,
        txn_publish_branches,
    )

    a1 = spark.range(24).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("c"),
        (F.col("id") * 100).alias("cents"),
    )
    b1 = spark.range(4).select(
        F.col("id").alias("c"),
        F.concat(F.lit("S"), F.col("id")).alias("segment"),
    )
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    cat, view_dir = str(tmp_path / "cat"), str(tmp_path / "view")
    mor_cdc_init(spark, a1.withColumn("version", F.lit(0)), a_dir, "k",
                 n_files=4)
    mor_cdc_init(spark, b1.withColumn("version", F.lit(0)), b_dir, "c",
                 n_files=2)
    build_join_view(a1, b1, view_dir)
    with open(os.path.join(view_dir, "manifest-v1.json")) as f:
        m1 = json.load(f)
    m1.update({"a_version": 1, "b_version": 1})
    atomic_json_dump(m1, os.path.join(view_dir, "manifest-v1.json"))
    txn_catalog_init(
        cat,
        {"orders": (a_dir, 1), "customer": (b_dir, 1),
         "seg_view": (view_dir, 1)},
    )
    # stage the day's waves on 'audit' across BOTH tables
    wap_stage(
        spark,
        a1.filter(F.col("k") % 2 == 0)
        .withColumn("cents", F.col("cents") + 1)
        .withColumn("version", F.lit(1)).withColumn("op", F.lit("u")),
        a_dir, "audit",
    )
    wap_stage(
        spark,
        b1.filter(F.col("c") == 0)
        .withColumn("segment", F.lit("MOVED"))
        .withColumn("version", F.lit(1)).withColumn("op", F.lit("u")),
        b_dir, "audit",
    )
    # audit gate: branch heads carry the staged state, catalog doesn't
    assert wap_read(spark, a_dir, "audit").filter(
        F.col("k") == 2
    ).collect()[0]["cents"] == 201
    assert catalog_load(cat)["version"] == 1
    # one call: both tables fast-forward AND the catalog flips
    new_cat = txn_publish_branches(cat, "audit", ["orders", "customer"])
    assert new_cat["version"] == 2
    assert new_cat["tables"]["orders"]["version"] == 2
    assert new_cat["tables"]["seg_view"]["version"] == 1  # view lags
    # the view catches up and flips with the (already-current) bases
    new_cat = refresh_view_txn(spark, cat, "seg_view", "orders", "customer")
    assert new_cat["tables"]["seg_view"]["version"] == 2
    got = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in catalog_read_view(spark, cat, "seg_view").collect()
    }
    want = {}
    for k in range(24):
        c = k % 4
        cents = k * 100 + (1 if k % 2 == 0 else 0)
        seg = "MOVED" if c == 0 else f"S{c}"
        n, s = want.get(seg, (0, 0))
        want[seg] = (n + 1, s + cents)
    assert got == want
    # AS OF the pre-publish instant: the v1 snapshot (base AND view)
    with open(os.path.join(cat, "catalog-v1.json")) as f:
        t1 = json.load(f)["committed_at_us"]
    old = {
        r["segment"]: r["n_rows"]
        for r in catalog_read_view_as_of(spark, cat, "seg_view", int(t1))
        .collect()
    }
    assert set(old) == {"S0", "S1", "S2", "S3"}  # pre-wave dashboard


def test_catalog_member_kind_persisted_and_routes_vacuum(
    spark, tmp_path
):
    """VERDICT r13 ask #4: member `kind` is written at registration
    (explicit or inferred once from the manifest shape), carried
    verbatim by txn_commit, and ROUTES txn_vacuum and the read APIs —
    shape-sniffing survives only as the legacy-catalog fallback."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark.operators.incremental import (
        build_join_view,
        catalog_read_view,
    )
    from nyc_data_pipeline_spark.manifest_log import atomic_json_dump
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_init,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        catalog_load,
        catalog_read,
        txn_catalog_init,
        txn_commit,
        txn_vacuum,
    )

    a1 = spark.range(20).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("c"),
        (F.col("id") + 10).alias("cents"),
    )
    b1 = spark.range(4).select(
        F.col("id").alias("c"), F.lit("S").alias("segment")
    )
    a_dir, view_dir = str(tmp_path / "a"), str(tmp_path / "view")
    art_dir, cat = str(tmp_path / "art"), str(tmp_path / "cat")
    mor_cdc_init(spark, a1.withColumn("version", F.lit(0)), a_dir,
                 "k", n_files=2)
    build_join_view(a1, b1, view_dir)
    with open(os.path.join(view_dir, "manifest-v1.json")) as f:
        m1 = json.load(f)
    m1.update({"a_version": 1, "b_version": 1})
    atomic_json_dump(m1, os.path.join(view_dir, "manifest-v1.json"))
    os.makedirs(art_dir)  # artifact lane: its own manifest prefix
    atomic_json_dump(
        {"version": 1}, os.path.join(art_dir, "tidx-manifest-v1.json")
    )
    txn_catalog_init(
        cat,
        {
            "orders": (a_dir, 1),            # inferred: table
            "seg_view": (view_dir, 1),       # inferred: view
            "tindex": (art_dir, 1, "artifact"),  # explicit
        },
    )
    kinds = {
        n: t["kind"]
        for n, t in catalog_load(cat)["tables"].items()
    }
    assert kinds == {
        "orders": "table", "seg_view": "view", "tindex": "artifact"
    }
    # kind flows through txn_commit verbatim
    mor_cdc_commit(
        spark,
        a1.limit(3).withColumn("cents", F.col("cents") + 1)
        .withColumn("version", F.lit(1)).withColumn("op", F.lit("u")),
        a_dir, 2,
    )
    cat2 = txn_commit(cat, {"orders": 2})
    assert cat2["tables"]["seg_view"]["kind"] == "view"
    # vacuum routes on the stored kind: table vacuumed, view vacuumed,
    # artifact skipped (lane-owned reclaim)
    stats = txn_vacuum(cat, retain=1)
    assert "skipped" in stats["tables"]["tindex"]
    assert "skipped" not in stats["tables"]["orders"]
    assert "skipped" not in stats["tables"]["seg_view"]
    # misroutes are named errors
    with pytest.raises(ValueError, match="not a MOR table"):
        catalog_read(spark, cat, "seg_view")
    with pytest.raises(ValueError, match="not a materialized view"):
        catalog_read_view(spark, cat, "orders")
    # legacy fallback: a catalog written before `kind` still routes by
    # shape (and reads stay readable)
    for v in (1, 2):
        p = os.path.join(cat, f"catalog-v{v}.json")
        if not os.path.exists(p):
            continue
        with open(p) as f:
            c = json.load(f)
        for t in c["tables"].values():
            t.pop("kind", None)
        with open(p, "w") as f:
            json.dump(c, f)
    stats = txn_vacuum(cat, retain=1)
    assert "skipped" in stats["tables"]["tindex"]
    assert "skipped" not in stats["tables"]["orders"]
    assert catalog_read(spark, cat, "orders").count() == 20
    assert catalog_read_view(spark, cat, "seg_view").count() >= 1


def test_catalog_catch_up_crosses_base_table_evolution(
    spark, tmp_path
):
    """catch_up_view_from_catalog over a base table that EVOLVED
    between catalog flips: the catalog commits (data wave, rename,
    widen, data wave under the new name) flip in one txn; the view
    catch-up folds the evolution-crossing span through the catalog
    cursor and lands on the recompute fixpoint."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark.operators.incremental import (
        build_join_view,
        catch_up_view_from_catalog,
    )
    from nyc_data_pipeline_spark.manifest_log import atomic_json_dump
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        _latest_main_version,
        mor_cdc_commit,
        mor_cdc_init,
        mor_cdc_read,
        mor_cdc_rename_column,
        mor_cdc_widen_column,
    )
    from nyc_data_pipeline_spark.streaming.txn import (
        txn_catalog_init,
        txn_commit,
    )

    a1 = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("c"),
        (F.col("id") * 10).cast("int").alias("cents"),
    )
    b1 = spark.range(5).select(
        F.col("id").alias("c"),
        F.concat(F.lit("S"), (F.col("id") % 2)).alias("segment"),
    )
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    cat, view_dir = str(tmp_path / "cat"), str(tmp_path / "view")
    mor_cdc_init(spark, a1.withColumn("version", F.lit(0)), a_dir,
                 "k", n_files=4)
    mor_cdc_init(spark, b1.withColumn("version", F.lit(0)), b_dir,
                 "c", n_files=2)
    build_join_view(a1, b1, view_dir)
    with open(os.path.join(view_dir, "manifest-v1.json")) as f:
        m1 = json.load(f)
    m1.update({"a_version": 1, "b_version": 1})
    atomic_json_dump(m1, os.path.join(view_dir, "manifest-v1.json"))
    txn_catalog_init(
        cat,
        {"orders": (a_dir, 1), "customer": (b_dir, 1)},
    )
    # catalog commit 2: a pre-evolution wave; the catch-up stamps the
    # view's field ids
    mor_cdc_commit(
        spark,
        a1.filter(F.col("k") % 4 == 0)
        .withColumn("cents", (F.col("cents") + 3).cast("int"))
        .withColumn("version", F.lit(1)).withColumn("op", F.lit("u")),
        a_dir, 2,
    )
    txn_commit(cat, {"orders": 2})
    m2 = catch_up_view_from_catalog(
        spark, view_dir, cat, "orders", "customer"
    )
    assert m2["catalog_version"] == 2
    assert m2["a_fields"]["cents"] == 3  # canonical name, stamped id
    # catalog commit 3: rename + widen + a wave under the NEW name,
    # all flipped in ONE txn
    mor_cdc_rename_column(a_dir, "cents", "amount")   # v3
    mor_cdc_widen_column(a_dir, "amount", "bigint")   # v4
    mor_cdc_commit(
        spark,
        a1.filter(F.col("k") % 6 == 0)
        .withColumn("version", F.lit(2)).withColumn("op", F.lit("u"))
        .withColumn("amount", (F.col("cents") + 7000).cast("bigint"))
        .drop("cents"),
        a_dir, 5,
    )
    txn_commit(cat, {"orders": _latest_main_version(a_dir)})
    m3 = catch_up_view_from_catalog(
        spark, view_dir, cat, "orders", "customer"
    )
    assert m3["catalog_version"] == 3
    assert m3["a_fields"]["cents"] == 3  # ids persist across catch-ups
    got = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in spark.read.parquet(m3["seg_view"]).collect()
        if r["n_rows"] > 0
    }
    want = {
        r["segment"]: (r["n_rows"], r["sum_cents"])
        for r in mor_cdc_read(spark, a_dir, 5)
        .select("c", "amount")
        .join(
            F.broadcast(
                mor_cdc_read(spark, b_dir, 1).select("c", "segment")
            ),
            "c",
        )
        .groupBy("segment")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("amount").cast("bigint").alias("sum_cents"),
        )
        .collect()
    }
    assert got == want
