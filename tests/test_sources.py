"""Source contracts: CSV/JSON scans with schema + corrupt-record
quarantine; Kafka wire projection; parquet round-trip sink."""

import json

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from nyc_data_pipeline_spark.sources.readers import (
    TAXI_TRIP_SCHEMA,
    read_csv,
    read_json,
    read_text,
    split_corrupt,
)
from nyc_data_pipeline_spark.sources.kafka import kafka_available, to_kafka_records
from nyc_data_pipeline_spark.sources.jdbc import jdbc_available, write_table

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("s", T.StringType()),
    ]
)


def test_csv_contract_and_quarantine(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,v,s\n1,1.5,a\n2,2.5,b\nnot_an_int,xxx_bad_yyy,c\n")
    df = read_csv(spark, str(p), SCHEMA)
    clean, bad = split_corrupt(df)
    assert clean.count() == 2
    assert bad.count() == 1
    assert "xxx_bad_yyy" in bad.collect()[0]._corrupt_record


def test_json_contract_and_quarantine(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    rows = [json.dumps({"id": 1, "v": 1.5, "s": "a"}), "{broken json", ""]
    p.write_text("\n".join(r for r in rows if r) + "\n")
    clean, bad = split_corrupt(read_json(spark, str(p), SCHEMA))
    assert clean.count() == 1
    assert bad.count() == 1


def test_text_scan(spark, tmp_path):
    p = tmp_path / "t.txt"
    p.write_text("alpha\nbeta\n")
    assert read_text(spark, str(p)).count() == 2


def test_taxi_schema_matches_reference_consumer():
    # The 8-field contract from spark_consumer.py:42-51.
    names = TAXI_TRIP_SCHEMA.fieldNames()
    assert names == [
        "VendorID",
        "tpep_pickup_datetime",
        "tpep_dropoff_datetime",
        "passenger_count",
        "trip_distance",
        "fare_amount",
        "tip_amount",
        "total_amount",
    ]


def test_taxi_trips_sink_contract(spark, tmp_path):
    """S5/S8 decimal contract golden test: the widened sink frame must
    carry exactly the reference warehouse schema
    (database_handler.py:76-108) — names, order, decimal types — and
    survive a parquet roundtrip unchanged."""
    from decimal import Decimal

    from nyc_data_pipeline_spark.operators.enrichment import enrich_trips
    from nyc_data_pipeline_spark.sources.contracts import (
        TAXI_TRIPS_SINK_SCHEMA,
        conform,
        to_taxi_trips_sink,
    )

    df = spark.createDataFrame(
        [
            (1, "2015-01-01 10:00:00", "2015-01-01 10:30:00", 2, 5.125, 20.0, 2.675, 25.0),
        ],
        "VendorID int, pickup_dt string, dropoff_dt string, passenger_count int,"
        "trip_distance double, fare_amount double, tip_amount double, total_amount double",
    )
    sink = to_taxi_trips_sink(enrich_trips(df))
    # Names, order, and types must match exactly; a non-nullable column
    # (trip_category's CASE has an ELSE) satisfies a nullable contract.
    assert [(f.name, f.dataType) for f in sink.schema.fields] == [
        (f.name, f.dataType) for f in TAXI_TRIPS_SINK_SCHEMA.fields
    ]
    assert all(
        c.nullable or not s.nullable
        for s, c in zip(sink.schema.fields, TAXI_TRIPS_SINK_SCHEMA.fields)
    )

    row = sink.collect()[0]
    # Decimal quantization is HALF_UP on the double's shortest repr.
    assert row.trip_distance == Decimal("5.13")
    assert row.tip_amount == Decimal("2.68")
    assert row.trip_duration_minutes == Decimal("30.00")
    assert row.average_speed == Decimal("10.25")  # 5.125/(30/60)
    # 2.675/20*100 computes to the double 13.374999999999998 (2.675
    # itself is below the decimal midpoint in binary), so HALF_UP on
    # the shortest repr rounds DOWN — while tip_amount's literal
    # "2.675" rounds UP.  Both are the contract's defined behavior.
    assert row.tip_percentage == Decimal("13.37")
    assert row.pickup_day_of_week == 5  # 2015-01-01 is a Thursday (1=Sun)
    # Columns the pipeline doesn't carry are typed NULL pass-throughs.
    assert row.pickup_longitude is None and row.kafka_offset is None

    out = str(tmp_path / "taxi_trips")
    write_table(sink, out)
    assert [(f.name, f.dataType) for f in spark.read.parquet(out).schema.fields] == [
        (f.name, f.dataType) for f in TAXI_TRIPS_SINK_SCHEMA.fields
    ]

    # conform without fill is strict: a missing contract column raises.
    with pytest.raises(ValueError, match="missing contract column"):
        conform(df, TAXI_TRIPS_SINK_SCHEMA)


def test_kafka_wire_projection(spark):
    df = spark.createDataFrame([(1, "x", 2.5)], "k int, name string, val double")
    rec = to_kafka_records(df, "k").collect()[0]
    assert rec.key == "1"
    parsed = json.loads(rec.value)
    assert parsed == {"k": 1, "name": "x", "val": 2.5}


def test_kafka_connector_gate(spark):
    # No broker/jar in this container; the gate must say so (not raise).
    assert kafka_available(spark) in (False, True)


def test_jdbc_gate_and_parquet_sink(spark, tmp_path):
    assert jdbc_available(spark) in (False, True)
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], "id int, dt string"
    )
    out = str(tmp_path / "t")
    write_table(df, out, partition_by=["dt"])
    back = spark.read.parquet(out)
    assert back.count() == 2
    # partition column became a directory key (pruning-capable layout)
    assert (tmp_path / "t" / "dt=2024-01-01").exists()


def test_dynamic_partition_overwrite_touches_one_partition(spark, tmp_path):
    """partitionOverwriteMode=dynamic must replace ONLY the partitions
    present in the incoming frame; every other partition's files stay
    byte-identical (static mode would truncate the whole table — the
    backfill footgun sink_partition_overwrite exists to avoid)."""
    import os

    df = spark.createDataFrame(
        [(1, 10.0, "2024-01-01"), (2, 20.0, "2024-01-02"), (3, 30.0, "2024-01-03")],
        "id int, v double, ds string",
    )
    out = str(tmp_path / "t")
    df.write.mode("overwrite").partitionBy("ds").parquet(out)

    def files_of(day):
        p = os.path.join(out, f"ds={day}")
        return {
            f: os.path.getmtime(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        }

    before_d1, before_d3 = files_of("2024-01-01"), files_of("2024-01-03")
    fix = spark.createDataFrame([(2, 99.0, "2024-01-02")], "id int, v double, ds string")
    (
        fix.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ds")
        .parquet(out)
    )
    assert files_of("2024-01-01") == before_d1
    assert files_of("2024-01-03") == before_d3
    # partition-column type inference reads ds back as a DATE
    back = {str(r.ds): r.v for r in spark.read.parquet(out).collect()}
    assert back == {"2024-01-01": 10.0, "2024-01-02": 99.0, "2024-01-03": 30.0}


def test_partitioned_write_prunes(spark, sf_dir):
    """The date predicate must become PartitionFilters (directory
    pruning), not a post-scan filter."""
    import io
    import contextlib

    from nyc_data_pipeline_spark.sources.scans import sink_partitioned_pruning

    df = sink_partitioned_pruning(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "ds" in plan.split("PartitionFilters", 1)[1][:200]


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """S8 co-location: a join of two tables bucketed+sorted on the join
    key must be a SortMergeJoin with NO Exchange on either side — the
    layout, not a runtime shuffle, co-locates the keys."""
    from nyc_data_pipeline_spark.sources.scans import write_bucketed

    li, od = write_bucketed(spark, sf_dir)
    joined = li.join(od.hint("merge"), li["l_orderkey"] == od["o_orderkey"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    # bucket pruning metadata is present on both scans
    assert plan.count("Bucketed: true") == 2, plan


def test_kafka_wire_roundtrip_lossless(spark, sf_dir):
    """S4→P1: to_kafka_records output must parse back through the
    consumer path (from_json) to the original rows exactly."""
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.streaming.ingest import parse_wire_records

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    wire = to_kafka_records(ev, key_col="user_id")
    back = parse_wire_records(wire, schema)
    orig = {tuple(r) for r in ev.collect()}
    rt = {tuple(r) for r in back.collect()}
    assert rt == orig


def test_scan_column_pruning(spark, sf_dir):
    """Projections must reach the parquet scan: a 3-column query over
    the 5-column documents table (and a 2-column query over embeddings)
    reads ONLY what it uses — at 100 TB the unread columns are the
    difference between scanning 3 TB and 100 TB."""
    import re

    from nyc_data_pipeline_spark import registry

    registry.load_all()

    def read_schema(name):
        df = registry.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return re.findall(r"ReadSchema: struct<([^>]*)>", plan)

    for schema in read_schema("text_token_count"):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"doc_id", "text", "n_chars"}, cols

    for schema in read_schema("sim_topk_bruteforce"):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert "lang" not in cols and "source" not in cols, cols


def test_bucketed_agg_has_no_exchange(spark, sf_dir):
    """groupBy on the bucket key of a bucketed table must aggregate
    with ZERO Exchange nodes — the write-time layout satisfies the
    distribution."""
    from nyc_data_pipeline_spark.sources.scans import write_bucketed

    li, _od = write_bucketed(spark, sf_dir)
    agg = li.groupBy("l_orderkey").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan


def test_zorder_layout_prunes_on_zbucket_and_bounds_both_dims(spark, sf_dir):
    """The z-ordered layout must (a) directory-prune on zbucket and
    (b) give every bucket a bounded sub-rectangle in BOTH dimensions —
    the multi-column data-skipping property a 1-D sort cannot give."""
    from nyc_data_pipeline_spark.registry import QUERIES
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    stats = QUERIES["sink_zorder_stats"](spark, sf_dir).collect()
    assert len(stats) > 1
    # Clustering must happen on the customer dimension too, not just
    # time: at least 3/4 of the buckets cover a strict sub-range of
    # the customer domain (a z-curve boundary jump legitimately makes
    # the occasional wide file; a 1-D date sort makes EVERY file span
    # the full customer range).
    glo = (min(r.min_cust for r in stats), max(r.max_cust for r in stats))
    narrow = sum((r.min_cust, r.max_cust) != glo for r in stats)
    assert narrow >= len(stats) * 3 // 4, (narrow, len(stats))
    out = scratch_dir("zorder", sf_dir)
    scan = spark.read.parquet(out).filter("zbucket = 3")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "zbucket" in plan.split("PartitionFilters", 1)[1][:200]


def _window_subtrees(plan: str) -> list[str]:
    """Each Window node's full subtree from a Catalyst plan toString
    (tree depth = width of the ' :+-' line prefix)."""
    lines = plan.splitlines()

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    out = []
    for i, ln in enumerate(lines):
        if ln.lstrip(" :+-").startswith("Window "):
            d = depth(ln)
            j = i + 1
            while j < len(lines) and depth(lines[j]) > d:
                j += 1
            out.append("\n".join(lines[i:j]))
    assert out, plan  # the builder must window over the sample
    return out


def test_zorder_prod_skips_like_the_referee_without_global_sorts(spark, sf_dir):
    """The production (sampled-boundary) z-order layout must keep the
    referee's skipping property — most buckets bounded to a strict
    customer sub-range, zbucket directory pruning — while its plan
    contains NO full-table window: the only Window/Sort inputs are the
    1/ZP_SAMPLE_MOD systematic sample."""
    from nyc_data_pipeline_spark.registry import QUERIES
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    stats = QUERIES["sink_zorder_stats_prod"](spark, sf_dir).collect()
    assert len(stats) > 1
    glo = (min(r.min_cust for r in stats), max(r.max_cust for r in stats))
    narrow = sum((r.min_cust, r.max_cust) != glo for r in stats)
    assert narrow >= len(stats) * 3 // 4, (narrow, len(stats))
    # Bucket sizes near-balanced: sampled boundaries may wobble, but no
    # bucket should exceed 4x the ideal share (a degenerate boundary
    # table would pile everything into one file).
    total = sum(r.n for r in stats)
    assert max(r.n for r in stats) <= 4 * total // len(stats) + 1
    out = scratch_dir("zorder_prod", sf_dir)
    scan = spark.read.parquet(out).filter("zbucket = 3")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "zbucket" in plan.split("PartitionFilters", 1)[1][:200]
    # Scale shape: every single-partition window in the build plan sits
    # strictly above the systematic-sample filter — the full table is
    # never globally sorted.
    from nyc_data_pipeline_spark.sources.scans import (
        ZP_SAMPLE_MOD,
        zorder_prod_frame,
    )

    frame_plan = (
        zorder_prod_frame(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    for subtree in _window_subtrees(frame_plan):
        assert f"% {ZP_SAMPLE_MOD})" in subtree, subtree


def test_compaction_collapses_files_and_preserves_rows(spark, sf_dir):
    """The sweep must collapse the 200-file fragmented layout to the
    byte-sized target count and keep every row."""
    import os

    from nyc_data_pipeline_spark.registry import QUERIES
    from nyc_data_pipeline_spark.sources.scans import (
        COMPACT_TARGET_BYTES,
        scratch_dir,
    )

    QUERIES["sink_compaction"](spark, sf_dir).collect()

    def parquet_files(d):
        return [
            os.path.join(dp, fn)
            for dp, _dn, fns in os.walk(d)
            for fn in fns
            if fn.endswith(".parquet")
        ]

    frag = parquet_files(scratch_dir("fragmented", sf_dir))
    comp = parquet_files(scratch_dir("compacted", sf_dir))
    assert len(frag) == 200
    nbytes = sum(os.path.getsize(f) for f in frag)
    want = max(1, -(-nbytes // COMPACT_TARGET_BYTES))
    assert len(comp) == want
    n_frag = spark.read.parquet(scratch_dir("fragmented", sf_dir)).count()
    n_comp = spark.read.parquet(scratch_dir("compacted", sf_dir)).count()
    assert n_frag == n_comp


def test_persist_scoped_keeps_one_live_cache_entry_per_site(spark, sf_dir):
    """Repeated invocations through persist_scoped must not accumulate
    cache entries: the site's previous plan is unpersisted before the
    new one is persisted (the bench-loop / registry-sweep leak the r5
    review flagged on pagerank and the chunk-fingerprint table)."""
    from pyspark import StorageLevel

    from nyc_data_pipeline_spark.catalog import load_table, persist_scoped

    a = persist_scoped("test.site", load_table(spark, sf_dir, "nation"))
    a.count()
    assert a.storageLevel != StorageLevel.NONE
    b = persist_scoped("test.site", load_table(spark, sf_dir, "region"))
    b.count()
    assert a.storageLevel == StorageLevel.NONE  # previous entry released
    assert b.storageLevel != StorageLevel.NONE
    persist_scoped("test.site", load_table(spark, sf_dir, "nation")).count()
    assert b.storageLevel == StorageLevel.NONE


def test_rank_expr_matches_bisect_on_adversarial_arrays(spark):
    """The unrolled binary-search rank must equal bisect_left (count of
    sorted elements strictly below the probe) on duplicates, probes at
    boundaries, below-min, above-max, and degenerate arrays."""
    import bisect
    import random

    from nyc_data_pipeline_spark.sources.scans import _rank_expr

    rng = random.Random(20260814)
    cases = []
    for _ in range(200):
        n = rng.randint(0, 255)
        arr = sorted(rng.randrange(0, 50) for _ in range(n))  # heavy dupes
        probe = rng.choice(
            [rng.randrange(-5, 55)] + (arr[:1] or []) + (arr[-1:] or [])
        )
        cases.append((arr, probe, bisect.bisect_left(arr, probe)))
    cases += [([], 3, 0), ([7], 7, 0), ([7], 8, 1), ([5] * 255, 5, 0),
              ([5] * 255, 6, 255)]
    df = spark.createDataFrame(
        [(a, p, w) for a, p, w in cases],
        "arr array<bigint>, probe bigint, want int",
    )
    got = df.selectExpr(
        "want", f"{_rank_expr('arr', 'probe', 255)} AS got"
    ).collect()
    assert all(r.got == r.want for r in got)


def test_time_travel_snapshot_isolation_and_partial_rewrite(spark, sf_dir):
    """v1 numbers must be identical before and after the v2 commit
    (snapshot isolation), and the v2 commit must write ONLY the
    partition it touches."""
    import os

    from nyc_data_pipeline_spark.registry import QUERIES
    from nyc_data_pipeline_spark.sources.scans import scratch_dir
    from nyc_data_pipeline_spark.sources.timetravel import TT_PARTS

    rows = {r.version: r for r in QUERIES["src_time_travel"](spark, sf_dir).collect()}
    base = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = base.count()
    assert rows[1].n_rows == n  # v1 == the full snapshot, read after v2
    assert rows[2].n_rows < n  # deletes landed
    assert rows[2].sum_cents != rows[1].sum_cents  # updates landed
    table_dir = scratch_dir("timetravel", sf_dir)
    v1_parts = {d for d in os.listdir(os.path.join(table_dir, "v1")) if d.startswith("pb=")}
    v2_parts = {d for d in os.listdir(os.path.join(table_dir, "v2")) if d.startswith("pb=")}
    assert v1_parts == {f"pb={i}" for i in range(TT_PARTS)}
    assert v2_parts == {"pb=0"}  # untouched partitions were not rewritten


def test_zone_map_read_lists_only_overlapping_files(spark, sf_dir):
    """File skipping must happen at the metadata layer: the pruned
    DataFrame's file listing contains exactly the manifest-selected
    files, and a full-range read lists all of them."""
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.sources.scans import scratch_dir
    from nyc_data_pipeline_spark.sources.zonemap import (
        ZM_FILES,
        ZM_HI_DAY,
        ZM_LO_DAY,
        _US_PER_DAY,
        read_pruned,
        write_zone_mapped,
    )

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(
            f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_US_PER_DAY}"
        ).alias("day"),
    )
    table_dir = scratch_dir("zonemap_plan", sf_dir)
    manifest = write_zone_mapped(base, table_dir, "day", ["cents"])
    assert len(manifest["files"]) == ZM_FILES

    narrow, n_scan, n_total = read_pruned(
        spark, table_dir, "day", ZM_LO_DAY, ZM_HI_DAY
    )
    assert 0 < n_scan < n_total == ZM_FILES
    assert len(narrow.inputFiles()) == n_scan  # unopened files never listed

    full, n_all, _ = read_pruned(spark, table_dir, "day", -10**9, 10**9)
    assert n_all == ZM_FILES
    assert len(full.inputFiles()) == ZM_FILES
    # nothing lost: pruned read + residual filter == full-scan filter
    pred = F.col("day").between(ZM_LO_DAY, ZM_HI_DAY)
    assert narrow.filter(pred).count() == full.filter(pred).count()

    # stats honesty: every file's manifest interval contains its rows
    for _zb, meta in manifest["files"].items():
        lo, hi = meta["stats"]["day"]
        assert lo <= hi and meta["n_rows"] > 0


def test_bloom_file_skipping_never_false_negative(spark, sf_dir):
    """Bloom admission must be a superset of true containment (no
    false negatives), and absent keys at healthy sizing should open
    few or zero files."""
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.plans.two_phase import range_buckets
    from nyc_data_pipeline_spark.sources.scans import scratch_dir
    from nyc_data_pipeline_spark.sources.zonemap import (
        ZM_FILES,
        _US_PER_DAY,
        bloom_probe_files,
        write_bloom_manifest,
    )

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_US_PER_DAY}"
        ).alias("day"),
    )
    table_dir = scratch_dir("bloomskip_test", sf_dir)
    manifest = write_bloom_manifest(base, table_dir, "o_orderkey")

    # true containment per file, from the same bucketing rule
    truth = {
        str(r.zb): set(r.keys)
        for r in range_buckets(base, "day", ZM_FILES)
        .withColumnRenamed("bucket", "zb")
        .groupBy("zb")
        .agg(F.collect_set("o_orderkey").alias("keys"))
        .collect()
    }
    some_keys = [r.o_orderkey for r in base.limit(25).collect()]
    for key in some_keys:
        admitted = set(bloom_probe_files(manifest, key))
        holders = {zb for zb, ks in truth.items() if key in ks}
        assert holders <= admitted, (key, holders, admitted)
    # absent keys: tiny admission rate under adaptive sizing
    absent_admits = sum(
        len(bloom_probe_files(manifest, 10**13 + i)) for i in range(20)
    )
    assert absent_admits <= 0.25 * 20 * ZM_FILES


def test_cow_merge_rewrites_only_touched_files(spark, sf_dir):
    """Copy-on-write economy: after the v2 commit, untouched buckets'
    v2 manifest entries still point at the v1 files (inherited paths),
    and only the stats-overlapping buckets have v2 data files."""
    import json as _json
    import os as _os
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    load_all()

    rows = {r.version: r for r in
            QUERIES["merge_zone_map_cow"](spark, sf_dir).collect()}
    assert rows[1].files_rewritten == 0
    assert 0 < rows[2].files_rewritten < rows[2].files_total

    table_dir = scratch_dir("zm_merge", sf_dir)
    with open(_os.path.join(table_dir, "manifest-v1.json")) as f:
        m1 = _json.load(f)
    with open(_os.path.join(table_dir, "manifest-v2.json")) as f:
        m2 = _json.load(f)
    inherited = [z for z in m2["files"] if m2["files"][z] == m1["files"][z]]
    rewritten = [z for z in m2["files"] if m2["files"][z] != m1["files"][z]]
    assert len(rewritten) == rows[2].files_rewritten
    assert len(inherited) == rows[2].files_total - rows[2].files_rewritten
    assert all("v2" in m2["files"][z] for z in rewritten)
    assert m2["bounds"] == m1["bounds"]  # partition spec frozen


def test_zone_map_append_inherits_and_isolates(spark, sf_dir):
    """Append-commit invariants: every v2 manifest entry appears
    verbatim in v3's per-bucket file lists (no rewrite), the appended
    entries are new v3 paths only, and reading v2 AFTER the v3 commit
    reproduces the pre-append totals (snapshot isolation for
    appends)."""
    import json as _json
    import os as _os
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir
    from nyc_data_pipeline_spark.sources.zonemap import _zm_read_version

    load_all()
    import pyspark.sql.functions as F

    # drive the append (builds v1/v2 if needed)
    QUERIES["src_zone_map_append"](spark, sf_dir).collect()
    table_dir = scratch_dir("zm_merge", sf_dir)
    with open(_os.path.join(table_dir, "manifest-v2.json")) as f:
        m2 = _json.load(f)
    with open(_os.path.join(table_dir, "manifest-v3.json")) as f:
        m3 = _json.load(f)
    for z, path in m2["files"].items():
        assert path in m3["files"][z], z  # inherited verbatim
    extra = [
        p
        for z, paths in m3["files"].items()
        for p in paths
        if p not in m2["files"].values()
    ]
    assert extra and all("/v3/" in p for p in extra)
    # snapshot isolation: v2 read-back unchanged post-append
    v2_total = (
        _zm_read_version(spark, table_dir, 2)
        .agg(F.count("*").alias("n"), F.sum("cents").alias("s"))
        .collect()[0]
    )
    v3_rows = {
        r.zb: r
        for r in QUERIES["src_zone_map_append"](spark, sf_dir).collect()
    }
    assert v2_total.n == sum(
        r.n_rows - r.n_appended for r in v3_rows.values()
    )


def test_cow_delete_prunes_and_isolates(spark, sf_dir):
    """DELETE-commit invariants: only stats-overlapping files are
    rewritten (the 2001+ slice lands in exactly one of the 8 date
    buckets), untouched v1 entries are inherited verbatim by the v2
    manifest, reading v1 AFTER the v2 commit reproduces the pre-delete
    totals (snapshot isolation), and no surviving row matches the
    delete predicate."""
    import json as _json
    import os as _os
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir
    from nyc_data_pipeline_spark.sources.zonemap import (
        DEL_HI_DAY,
        DEL_LO_DAY,
        DEL_MOD,
        _zm_read_version,
    )

    load_all()
    import pyspark.sql.functions as F

    rows = {
        r.version: r
        for r in QUERIES["src_cow_delete"](spark, sf_dir).collect()
    }
    assert rows[2].files_rewritten == 1  # the one overlapping bucket
    assert rows[2].n_rows < rows[1].n_rows  # something was deleted
    table_dir = scratch_dir("zm_delete", sf_dir)
    with open(_os.path.join(table_dir, "manifest-v1.json")) as f:
        m1 = _json.load(f)
    with open(_os.path.join(table_dir, "manifest-v2.json")) as f:
        m2 = _json.load(f)
    inherited = [z for z in m1["files"] if m2["files"][z] == m1["files"][z]]
    assert len(inherited) == 8 - rows[2].files_rewritten
    # snapshot isolation: v1 read-back reproduces pre-delete totals
    v1 = (
        _zm_read_version(spark, table_dir, 1)
        .agg(F.count("*").alias("n"), F.sum("cents").alias("s"))
        .collect()[0]
    )
    assert (v1.n, v1.s) == (rows[1].n_rows, rows[1].sum_cents)
    # no surviving row matches the delete predicate (the versioned
    # files store `day` alongside k/cents, so check it directly)
    leftover = (
        _zm_read_version(spark, table_dir, 2)
        .filter(
            F.col("day").between(DEL_LO_DAY, DEL_HI_DAY)
            & (F.col("k") % DEL_MOD == 0)
        )
        .count()
    )
    assert leftover == 0


def test_vacuum_deletes_only_unreachable_dirs(spark, sf_dir):
    """Reachability rule: after expiring v1, the deleted directories
    are exactly the touched buckets' superseded v1 files; untouched v1
    dirs SURVIVE because v2/v3 still reference them (age alone never
    deletes).  The v1 manifest is gone, retained manifests stay, and a
    re-run reports the recorded reclamation (idempotent commit)."""
    import json as _json
    import os as _os
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    load_all()
    q = QUERIES["src_manifest_vacuum"]
    first = sorted(tuple(r) for r in q(spark, sf_dir).collect())
    table_dir = scratch_dir("zm_vacuum", sf_dir)
    assert not _os.path.exists(
        _os.path.join(table_dir, "manifest-v1.json")
    )
    with open(_os.path.join(table_dir, "manifest-v2.json")) as f:
        m2 = _json.load(f)
    # every retained reference still exists on disk
    for z, path in m2["files"].items():
        for p in path if isinstance(path, list) else [path]:
            assert _os.path.isdir(p), p
    # v1 untouched dirs survive; v1 touched dirs are gone
    v1_dirs = {
        d for d in _os.listdir(_os.path.join(table_dir, "v1"))
        if d.startswith("zb=")
    }
    referenced_v1 = {
        _os.path.basename(p)
        for path in m2["files"].values()
        for p in (path if isinstance(path, list) else [path])
        if "/v1/" in p
    }
    assert v1_dirs == referenced_v1  # survivors == exactly the referenced
    dirs_removed = first[0][4]
    assert dirs_removed > 0
    # idempotent re-run: identical output incl. the reclamation stats
    second = sorted(tuple(r) for r in q(spark, sf_dir).collect())
    assert second == first


def test_partition_evolution_prunes_per_epoch(spark, sf_dir):
    """Spec-evolution invariants: the straddling slice scans 1 of 4
    coarse epoch-1 files and 2 of 8 fine epoch-2 files (each epoch
    pruned under its OWN bucket rule), rows come from both epochs, and
    the two epochs' data directories are disjoint (no rewrite at the
    spec change)."""
    import os as _os
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    load_all()
    rows = QUERIES["src_partition_evolution"](spark, sf_dir).collect()
    assert {r.epoch for r in rows} == {1, 2}
    r = rows[0]
    assert (r.files_scanned_e1, r.files_scanned_e2) == (1, 2)
    assert r.files_total == 12
    table_dir = scratch_dir("zm_evolution", sf_dir)
    e1_files = set(_os.listdir(_os.path.join(table_dir, "e1", "data")))
    e2_files = set(_os.listdir(_os.path.join(table_dir, "e2", "data")))
    assert len([d for d in e1_files if d.startswith("zb=")]) == 4
    assert len([d for d in e2_files if d.startswith("zb=")]) == 8


def test_mor_delete_rewrites_nothing_and_reads_apply_vectors(spark, sf_dir):
    """Merge-on-read invariants: after the DV commit every v1 data
    file is byte-identical (no rewrite — the strategy's whole point),
    the sidecar only covers stats-overlapping buckets, v2 reads equal
    COW-delete semantics, and v1 reads still see the deleted rows
    (snapshot isolation without copying a single file)."""
    import json as _json
    import os as _os
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    load_all()
    rows = {
        r.version: r
        for r in QUERIES["src_mor_delete_vectors"](spark, sf_dir).collect()
    }
    assert rows[1].files_rewritten == rows[2].files_rewritten == 0
    assert rows[2].n_rows == rows[1].n_rows - rows[1].dv_rows
    assert rows[1].dv_files == 1  # only the overlapping bucket
    table_dir = scratch_dir("zm_mor", sf_dir)
    with open(_os.path.join(table_dir, "manifest-v1.json")) as f:
        m1 = _json.load(f)
    with open(_os.path.join(table_dir, "manifest-v2.json")) as f:
        m2 = _json.load(f)
    assert m2["files"] == m1["files"]  # identical data-file pointers
    # the same predicate under COW must yield the same surviving table
    cow = {
        r.version: r
        for r in QUERIES["src_cow_delete"](spark, sf_dir).collect()
    }
    assert (rows[2].n_rows, rows[2].sum_cents) == (
        cow[2].n_rows, cow[2].sum_cents,
    )


def test_mor_compaction_freezes_vectors_into_clean_files(spark, sf_dir):
    """Compaction invariants: v3 totals equal the v2 vector-applied
    read (semantics preserved), only the DV bucket was rewritten
    (other pointers inherited verbatim), the v3 manifest carries no
    delete vectors, and the v2 snapshot still reads THROUGH its
    vectors afterward."""
    import json as _json
    import os as _os
    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    load_all()
    comp = QUERIES["src_mor_compaction"](spark, sf_dir).collect()[0]
    mor = {
        r.version: r
        for r in QUERIES["src_mor_delete_vectors"](spark, sf_dir).collect()
    }
    assert (comp.n_rows, comp.sum_cents) == (
        mor[2].n_rows, mor[2].sum_cents,
    )
    table_dir = scratch_dir("zm_mor", sf_dir)
    with open(_os.path.join(table_dir, "manifest-v2.json")) as f:
        m2 = _json.load(f)
    with open(_os.path.join(table_dir, "manifest-v3.json")) as f:
        m3 = _json.load(f)
    assert "delete_vectors" not in m3
    assert comp.files_rewritten == len(m2["dv_buckets"]) == 1
    for z, p in m2["files"].items():
        if z in m2["dv_buckets"]:
            assert m3["files"][z] != p and "/v3/" in m3["files"][z]
        else:
            assert m3["files"][z] == p


def test_variant_roundtrip_and_malformed_path(spark):
    """VARIANT contract on constructed JSON: nested paths extract
    typed, absent paths are NULL under try_variant_get, malformed JSON
    fails parse_json loudly (ansi) while try_parse_json yields NULL —
    the quarantine-not-corrupt discipline of the CSV/JSON readers."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [('{"a": {"b": [1, 2, 3]}, "s": "x"}',), ("{broken",)],
        "j string",
    )
    ok = df.filter(~F.col("j").startswith("{b")).selectExpr(
        "parse_json(j) AS v"
    )
    row = ok.selectExpr(
        "variant_get(v, '$.a.b[1]', 'bigint') AS b1",
        "variant_get(v, '$.s', 'string') AS s",
        "try_variant_get(v, '$.nope', 'bigint') AS nope",
        "schema_of_variant(v) AS sch",
    ).collect()[0]
    assert (row.b1, row.s, row.nope) == (2, "x", None)
    assert "OBJECT" in row.sch and "ARRAY" in row.sch
    bad = df.selectExpr("try_parse_json(j) AS v").collect()
    assert sum(1 for r in bad if r.v is None) == 1
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception):
        df.selectExpr("parse_json(j) AS v").collect()


def test_cow_merge_with_empty_range_bucket_reports_real_file_count(
    spark, tmp_path
):
    """files_total must be the ACTUAL manifest entry count, not the
    bucket fan-out (ADVICE r8 / VERDICT r8 ask #3): a base whose day
    values leave one of the 8 range buckets EMPTY writes only 7 files,
    the manifest lists 7, no entry dangles, and the v1/v2 totals match
    a directly computed merge algebra."""
    import os as _os

    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.sources.zonemap import (
        ZM_FILES,
        ZM_HI_DAY,
        ZM_LO_DAY,
        MRG_DEL_MOD,
        MRG_INS_MOD,
        MRG_UPD_MOD,
        cow_merge,
    )

    # days span [9000, 10599] => 8 buckets of 200 days each; leave
    # bucket 5 ([10000, 10199]) EMPTY.  Pin the global min/max so the
    # bucket bounds are exact, keep the merge slice (9131..9677,
    # buckets 0-3) populated.
    rows = [(9000,), (10599,)] + [
        (d,) for d in range(9001, 10599, 7) if not 10000 <= d <= 10199
    ]
    base = spark.createDataFrame(rows, "day bigint").select(
        (F.col("day") * 1000).alias("k"),
        (F.col("day") % 997).alias("cents"),
        "day",
    )
    table_dir = str(tmp_path / "zm_empty_bucket")
    got = {
        r.version: r for r in cow_merge(spark, base, table_dir).collect()
    }
    import json as _json

    m1 = _json.load(open(_os.path.join(table_dir, "manifest-v1.json")))
    m2 = _json.load(open(_os.path.join(table_dir, "manifest-v2.json")))
    assert len(m1["files"]) == ZM_FILES - 1 == 7
    assert got[1].files_total == 7 and got[2].files_total == 7
    for m in (m1, m2):
        for path in m["files"].values():
            assert _os.path.isdir(path), f"dangling manifest entry {path}"
    # totals vs the directly computed merge algebra on the raw rows
    pdf = base.toPandas()
    in_slice = pdf["day"].between(ZM_LO_DAY, ZM_HI_DAY)
    v1_sum = int(pdf["cents"].sum())
    deleted = pdf[in_slice & (pdf["k"] % MRG_DEL_MOD == 0)]
    updated = pdf[in_slice & (pdf["k"] % MRG_UPD_MOD == 0) & ~(pdf["k"] % MRG_DEL_MOD == 0)]
    inserted = pdf[in_slice & (pdf["k"] % MRG_INS_MOD == 0)]
    assert got[1].n_rows == len(pdf) and got[1].sum_cents == v1_sum
    assert got[2].n_rows == len(pdf) - len(deleted) + len(inserted)


def test_zm_append_clamps_below_bounds_arrivals_into_bucket_zero(
    spark, tmp_path
):
    """A streamed arrival with day BELOW the frozen v1 lower bound must
    route into edge bucket 0, never mint a zb=-1 directory outside the
    0..n-1 manifest invariant (ADVICE r8)."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.plans.two_phase import range_buckets
    from nyc_data_pipeline_spark.sources.zonemap import (
        ZM_FILES,
        _zm_append,
        _zm_versioned_write,
    )

    base = spark.range(100, 1100).select(
        F.col("id").alias("k"),
        F.lit(1).cast("bigint").alias("cents"),
        F.col("id").alias("day"),
    )
    table_dir = str(tmp_path / "zm_clamp")
    b1 = range_buckets(base, "day", ZM_FILES).withColumnRenamed(
        "bucket", "zb"
    ).drop("lo", "hi")
    _zm_versioned_write(
        b1, table_dir, 1, [str(z) for z in range(ZM_FILES)], None,
        (100, 1099),
    )
    # arrivals below (day=5) and above (day=5000) the frozen bounds
    batch = spark.createDataFrame(
        [(1, 1, 5), (2, 1, 5000), (3, 1, 600)],
        "k bigint, cents bigint, day bigint",
    )
    m2 = _zm_append(spark, batch, table_dir, 2)
    assert all(0 <= int(z) < ZM_FILES for z in m2["appended_buckets"])
    assert "0" in m2["appended_buckets"]  # below-bounds row clamped low
    assert str(ZM_FILES - 1) in m2["appended_buckets"]  # clamped high
    assert not any(
        d.startswith("zb=-") for d in _os.listdir(_os.path.join(table_dir, "v2"))
    )


def _cow_evo_table(spark, tmp_path, name):
    """k / cents INT / day clustered COW chain with field ids and
    per-file cluster stats (v1), plus an append (v2)."""
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.plans.two_phase import range_buckets
    from nyc_data_pipeline_spark.sources.zonemap import (
        _zm_append,
        _zm_versioned_write,
    )

    base = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("int").alias("cents"),
        (F.col("id") + 100).alias("day"),
    )
    table_dir = str(tmp_path / name)
    b1 = range_buckets(base, "day", 4).withColumnRenamed(
        "bucket", "zb"
    ).drop("lo", "hi")
    _zm_versioned_write(
        b1, table_dir, 1, [str(z) for z in range(4)], None,
        (100, 299), cluster_col="day", collect_stats=True,
    )
    batch = spark.range(50).select(
        (F.col("id") + 1000).alias("k"),
        (F.col("id") * 3).cast("int").alias("cents"),
        (F.col("id") + 100).alias("day"),
    )
    _zm_append(spark, batch, table_dir, 2)
    return table_dir


def test_cow_rename_widen_is_metadata_only_and_id_resolved(
    spark, tmp_path
):
    """COW-lane evolution (VERDICT r13 ask #3, the
    stream_mor_cdc_rename twin): rename + widen publish new manifests
    without touching ANY data file; reads resolve both version
    directories' files by field id; renaming the CLUSTER column keeps
    zone-map pruning working (stats key on its field id)."""
    import os as _os

    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.sources.zonemap import (
        _zm_read_version,
        cow_read_pruned,
        cow_rename_column,
        cow_widen_column,
    )

    table_dir = _cow_evo_table(spark, tmp_path, "cow_evo")
    files_before = {
        _os.path.join(dp, f)
        for dp, _, fs in _os.walk(table_dir)
        for f in fs
        if not f.startswith("manifest-")
    }
    cow_rename_column(table_dir, "cents", "amount")   # v3
    cow_widen_column(table_dir, "amount", "bigint")   # v4
    cow_rename_column(table_dir, "day", "event_day")  # v5: cluster col
    assert files_before == {
        _os.path.join(dp, f)
        for dp, _, fs in _os.walk(table_dir)
        for f in fs
        if not f.startswith("manifest-")
    }
    got = _zm_read_version(spark, table_dir, 5)
    assert dict(got.dtypes)["amount"] == "bigint"
    rows = {r["k"]: r["amount"] for r in got.collect()}
    assert rows[7] == 70 and rows[1003] == 9  # both vdirs id-resolve
    # pruning by the RENAMED cluster column's stats still skips files
    df, scanned, total = cow_read_pruned(
        spark, table_dir, 5, 100, 149
    )
    assert scanned < total  # the slice prunes non-overlapping files
    assert "event_day" in df.columns
    want = {r["k"] for r in got.filter(
        F.col("event_day").between(100, 149)).collect()}
    have = {r["k"] for r in df.filter(
        F.col("event_day").between(100, 149)).collect()}
    assert have == want
    # time travel: v2 still reads the OLD names/types
    v2 = _zm_read_version(spark, table_dir, 2)
    assert dict(v2.dtypes)["cents"] == "int"


def test_cow_legacy_chain_adopts_field_ids_via_cow_compact(
    spark, tmp_path
):
    """A COW chain predating field ids refuses evolution with a named
    error pointing at cow_compact, and the compaction REALLY adopts:
    fresh ids synthesized from the rewritten frame, per-bucket file
    lists collapsed to one file, stats re-recorded — after which a
    rename is metadata-only."""
    import json as _json
    import os as _os

    import pytest
    from nyc_data_pipeline_spark.sources.zonemap import (
        _zm_read_version,
        cow_compact,
        cow_rename_column,
    )

    table_dir = _cow_evo_table(spark, tmp_path, "cow_legacy")
    for v in (1, 2):
        mpath = _os.path.join(table_dir, f"manifest-v{v}.json")
        with open(mpath) as f:
            m = _json.load(f)
        for k in ("schema", "commit_cols", "cluster_field",
                  "file_stats"):
            m.pop(k, None)
        with open(mpath, "w") as f:
            _json.dump(m, f)
    with pytest.raises(ValueError, match="predates field-id"):
        cow_rename_column(table_dir, "cents", "amount")
    m3 = cow_compact(spark, table_dir)                 # v3 adopts
    assert {f["name"] for f in m3["schema"]} == {"k", "cents", "day"}
    assert all(
        len(p) if isinstance(p, list) else 1 == 1
        for p in m3["files"].values()
    )  # append-grown lists collapsed
    cow_rename_column(table_dir, "cents", "amount")    # now works
    rows = {
        r["k"]: r["amount"]
        for r in _zm_read_version(spark, table_dir, 4).collect()
    }
    assert rows[7] == 70 and rows[1003] == 9


def test_atomic_json_dump_replaces_and_leaves_no_temp(tmp_path):
    """Manifest/ledger commits go through write-temp + os.replace: the
    committed file parses, the old content is fully superseded, and no
    temp residue remains in the directory."""
    import json as _json
    import os as _os

    from nyc_data_pipeline_spark.manifest_log import atomic_json_dump

    p = str(tmp_path / "meta" / "manifest.json")
    atomic_json_dump({"v": 1}, p)
    atomic_json_dump({"v": 2, "files": ["a"]}, p)
    assert _json.load(open(p)) == {"v": 2, "files": ["a"]}
    assert [f for f in _os.listdir(_os.path.dirname(p))] == ["manifest.json"]


def test_time_travel_write_is_crash_safe(spark, tmp_path, monkeypatch):
    """A failure while serializing a version's manifest must leave no
    (torn or empty) manifest behind: `TIMESTAMP AS OF` lists and parses
    every manifest of the table, so one empty file would break every
    as-of read on it."""
    import json as _json
    import os as _os

    import pytest
    from nyc_data_pipeline_spark.sources.timetravel import (
        read_version,
        resolve_version_as_of,
        write_version,
    )

    table_dir = str(tmp_path / "tt")
    df = spark.range(8).selectExpr("id AS k", "id % 2 AS pb")
    m1 = write_version(df, table_dir, 1, [0, 1], None)

    def boom(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(_json, "dump", boom)
    with pytest.raises(OSError, match="disk full"):
        write_version(df, table_dir, 2, [0], m1)
    monkeypatch.undo()
    assert not _os.path.exists(_os.path.join(table_dir, "manifest-v2.json"))
    assert not [f for f in _os.listdir(table_dir) if f.endswith(".tmp")]
    assert resolve_version_as_of(table_dir, 10**18) == 1
    assert read_version(spark, table_dir, 1).count() == 8


def test_timestamp_as_of_resolution_boundaries(tmp_path):
    """The latest-commit-<=-ts rule, at every boundary (hypothesis
    over random commit clocks): a ts between two commits resolves to
    the EARLIER one, a ts exactly at a commit resolves to THAT commit,
    a ts after the last commit resolves to the last, and a ts before
    the earliest retained commit raises the named retention error —
    including after a vacuum reclaimed the head of the chain."""
    import pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nyc_data_pipeline_spark.manifest_log import atomic_json_dump
    from nyc_data_pipeline_spark.sources.timetravel import (
        TimeTravelRetentionError,
        commit_wallclock_us,
        resolve_version_as_of,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        gaps=st.lists(
            st.integers(min_value=1, max_value=10_000),
            min_size=2, max_size=8,
        ),
        data=st.data(),
    )
    def check(gaps, data):
        import shutil
        import uuid

        d = str(tmp_path / uuid.uuid4().hex[:10])
        ts = []
        t = 1_000_000
        for i, g in enumerate(gaps, start=1):
            t += g
            ts.append(t)
            atomic_json_dump(
                {"version": i, "committed_at_us": t},
                f"{d}/manifest-v{i}.json",
            )
        # at a commit instant -> that commit
        i = data.draw(st.integers(0, len(ts) - 1), label="at")
        assert resolve_version_as_of(d, ts[i]) == i + 1
        # strictly between commits -> the earlier one
        if i + 1 < len(ts) and ts[i + 1] - ts[i] > 1:
            mid = data.draw(
                st.integers(ts[i] + 1, ts[i + 1] - 1), label="between"
            )
            assert resolve_version_as_of(d, mid) == i + 1
        # after the last commit -> the last
        assert resolve_version_as_of(d, ts[-1] + 10_000) == len(ts)
        # before the earliest -> loud retention error
        with pytest.raises(TimeTravelRetentionError):
            resolve_version_as_of(d, ts[0] - 1)
        # vacuum the head: the floor moves with the retained set
        import os as _os

        _os.unlink(f"{d}/manifest-v1.json")
        if len(ts) > 1:
            with pytest.raises(TimeTravelRetentionError):
                resolve_version_as_of(d, ts[0])
            assert resolve_version_as_of(d, ts[1]) == 2
        shutil.rmtree(d, ignore_errors=True)

    check()
    # the monotonic stamp: equal-microsecond commits still advance
    assert commit_wallclock_us(10) > 10
    big = 10**18  # far-future prev: stamp must still be strictly later
    assert commit_wallclock_us(big) == big + 1


def test_cow_maintenance_cas_names_conflicts(spark, tmp_path):
    """The COW lane's evolution/compaction publish through the same
    link(2) CAS as the MOR lane (VERDICT r13 ask #6): a concurrent
    pair targeting the same next version is one winner + a named
    CommitConflictError, and two equivalent compactions resolve by
    adoption."""
    import os as _os

    import pytest
    from nyc_data_pipeline_spark import manifest_log
    from nyc_data_pipeline_spark.sources.zonemap import (
        _zm_read_version,
        cow_compact,
        cow_rename_column,
        cow_widen_column,
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        CommitConflictError,
    )

    table_dir = _cow_evo_table(spark, tmp_path, "cow_cas")  # v1+v2
    real = manifest_log.atomic_json_publish_once

    def inject_once(op):
        state = {"fired": False}

        def wrapper(obj, path):
            if not state["fired"] and _os.path.basename(
                path
            ).startswith("manifest-v"):
                state["fired"] = True
                op()
            return real(obj, path)

        manifest_log.atomic_json_publish_once = wrapper

    inject_once(lambda: cow_widen_column(table_dir, "cents", "bigint"))
    try:
        with pytest.raises(CommitConflictError, match="concurrent"):
            cow_rename_column(table_dir, "cents", "amount")
    finally:
        manifest_log.atomic_json_publish_once = real
    cow_rename_column(table_dir, "cents", "amount")  # rebased: v4
    inject_once(lambda: cow_compact(spark, table_dir))
    try:
        adopted = cow_compact(spark, table_dir)  # equivalent pair
    finally:
        manifest_log.atomic_json_publish_once = real
    assert adopted["version"] == 5 and adopted["compacted_from"] == 4
    assert len([
        d for d in _os.listdir(table_dir)
        if d.startswith("v5-")
        and _os.path.isdir(_os.path.join(table_dir, d))
    ]) == 1  # the loser's staged dir is gone
    rows = {
        r["k"]: r["amount"]
        for r in _zm_read_version(spark, table_dir, 5).collect()
    }
    assert rows[7] == 70 and dict(
        _zm_read_version(spark, table_dir, 5).dtypes
    )["amount"] == "bigint"


def test_cow_add_and_drop_columns_metadata_only(spark, tmp_path):
    """add-with-default / drop on the COW chain (MOR parity): pre-add
    rows read the default with no file rewrite, dropped fields stop
    projecting but time travel still sees them, re-adding a dropped
    name is a fresh field, and dropping the cluster column is a named
    error."""
    import os as _os

    import pytest
    from nyc_data_pipeline_spark.sources.zonemap import (
        _zm_read_version,
        cow_add_column,
        cow_drop_column,
    )

    table_dir = _cow_evo_table(spark, tmp_path, "cow_add_drop")
    files_before = {
        _os.path.join(dp, f)
        for dp, _, fs in _os.walk(table_dir)
        for f in fs
        if not f.startswith("manifest-")
    }
    cow_add_column(table_dir, "quality", "bigint", default=100)  # v3
    cow_drop_column(table_dir, "cents")                          # v4
    with pytest.raises(ValueError, match="cluster column"):
        cow_drop_column(table_dir, "day")
    cow_add_column(table_dir, "cents", "int")                    # v5
    assert files_before == {
        _os.path.join(dp, f)
        for dp, _, fs in _os.walk(table_dir)
        for f in fs
        if not f.startswith("manifest-")
    }
    got = _zm_read_version(spark, table_dir, 5)
    rows = {r["k"]: (r["quality"], r["cents"]) for r in got.collect()}
    assert rows[7] == (100, None)  # default read, old cents NEVER
    # resurrected under the re-added fresh id
    v2 = _zm_read_version(spark, table_dir, 2)
    assert dict(v2.dtypes)["cents"] == "int"  # time travel pre-drop
    assert "quality" not in v2.columns
    # MAX-id drop/re-add (VERDICT r14's confirmed bug): append a batch
    # that physically STORES the re-added cents — now the chain's
    # highest field id — then drop it and re-add a new name.  The
    # fresh id must come from the persisted high-water mark: reusing
    # cents' id would resolve `refund` onto the batch file's stored
    # cents values (silent resurrection of dropped data).
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.sources.zonemap import _zm_append

    batch = spark.range(3).select(
        (F.col("id") + 9000).alias("k"),
        (F.col("id") * 11 + 1).cast("int").alias("cents"),
        (F.col("id") + 100).alias("day"),
        F.lit(7).cast("bigint").alias("quality"),
    )
    _zm_append(spark, batch, table_dir, 6)
    cow_drop_column(table_dir, "cents")            # v7: max-id field
    m8 = cow_add_column(table_dir, "refund", "int")  # v8
    ids = {f["name"]: f["id"] for f in m8["schema"]}
    assert ids["refund"] > 5  # fresh id past the dropped max (5)
    assert m8["last_field_id"] == ids["refund"]
    rows8 = {
        r["k"]: r["refund"]
        for r in _zm_read_version(spark, table_dir, 8).collect()
    }
    assert rows8[9001] is None  # stored cents=12 must NOT resurrect
    assert rows8[7] is None
    # time travel to v6 still reads the dropped column's stored data
    v6 = {
        r["k"]: r["cents"]
        for r in _zm_read_version(spark, table_dir, 6).collect()
    }
    assert v6[9001] == 12


def test_cow_evolve_append_compact_interleavings_serialize(
    spark, tmp_path
):
    """VERDICT r14 ask #5 — the COW maintenance-CAS pin widened to
    the full op triangle: every pairwise interleaving of evolution,
    EXCLUSIVE append, and compaction targeting the same next version
    resolves to ONE winner; the loser raises the named
    CommitConflictError (its staged artifacts removed), a retry
    against the new head serializes, and the head read conserves
    every committed row afterwards."""
    import json as _json
    import os as _os

    import pytest
    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark import manifest_log
    from nyc_data_pipeline_spark.sources.zonemap import (
        cow_log,
        _zm_append,
        _zm_read_version,
        cow_compact,
        cow_rename_column,
        cow_widen_column,
    )
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        CommitConflictError,
    )

    table_dir = _cow_evo_table(spark, tmp_path, "cow_ilv")  # v1+v2
    appended = {"n": 0}

    def batch_now(tag: int):
        # a 5-row batch under the head's CURRENT schema names/types
        with open(_os.path.join(
            table_dir, f"manifest-v{cow_log(table_dir).head()}.json"
        )) as f:
            m = _json.load(f)
        names = {f["id"]: (f["name"], f["type"]) for f in m["schema"]}
        vname, vtype = names[2]  # the cents field, whatever its name
        return spark.range(5).select(
            (F.col("id") + 10000 * tag).alias(names[1][0]),
            (F.col("id") + tag).cast(vtype).alias(vname),
            (F.col("id") + 100).alias(names[3][0]),
        )

    def do_append(tag: int):
        _zm_append(
            spark, batch_now(tag), table_dir,
            cow_log(table_dir).head() + 1, exclusive=True,
        )
        appended["n"] += 5

    ops = {
        "widen": lambda: cow_widen_column(table_dir, "cents", "bigint"),
        "rename": lambda: cow_rename_column(table_dir, "cents", "amt"),
        "compact": lambda: cow_compact(spark, table_dir),
    }
    real = manifest_log.atomic_json_publish_once

    def race(first, injected):
        """Run `first`, injecting `injected` immediately before its
        manifest CAS: the injected op wins the version, `first` must
        raise the named conflict; then `first` retries cleanly."""
        state = {"fired": False}

        def wrapper(obj, path):
            if not state["fired"] and _os.path.basename(
                path
            ).startswith("manifest-v"):
                state["fired"] = True
                injected()
            return real(obj, path)

        manifest_log.atomic_json_publish_once = wrapper
        try:
            with pytest.raises(CommitConflictError):
                first()
        finally:
            manifest_log.atomic_json_publish_once = real
        first()  # retry against the new head serializes

    race(lambda: do_append(1), ops["widen"])     # append loses evolve
    race(lambda: do_append(2), ops["compact"])   # append loses compact
    race(ops["compact"], lambda: do_append(3))   # compact loses append
    race(ops["rename"], lambda: do_append(4))    # evolve loses append
    # no staged loser directories remain (v{N}-{token} with no
    # manifest referencing them beyond the winners')
    head_v = cow_log(table_dir).head()
    with open(
        _os.path.join(table_dir, f"manifest-v{head_v}.json")
    ) as f:
        head = _json.load(f)
    referenced = {
        _os.path.dirname(p)
        for paths in head["files"].values()
        for p in (paths if isinstance(paths, list) else [paths])
    }
    assert referenced  # sanity
    # row conservation: initial 250 + every successful append
    got = _zm_read_version(spark, table_dir, head_v)
    assert got.count() == 250 + appended["n"]
    assert "amt" in got.columns  # the retried rename stands


def test_cow_feed_across_append_reads_only_appended_buckets(
    spark, tmp_path
):
    """The only-rewritten-files read contract across an APPEND commit
    (ADVICE r14): _zm_append normalizes every bucket's manifest entry
    from a path string to a list, so the feed's rewritten-bucket
    detection must compare normalized entries — a raw != would mark
    ALL buckets rewritten and scan the whole table (correct rows,
    defeated economy)."""
    import json as _json
    import os as _os

    from nyc_data_pipeline_spark.sources.zonemap import change_feed_from

    table_dir = _cow_evo_table(spark, tmp_path, "cow_feed_app")
    with open(_os.path.join(table_dir, "manifest-v2.json")) as f:
        appended = set(_json.load(f)["appended_buckets"])
    assert appended and len(appended) < 4  # the contract is testable
    feed = change_feed_from(spark, table_dir, 1, 2)
    rows = feed.collect()
    assert len(rows) == 50  # the append batch, all inserts
    assert {r["change"] for r in rows} == {"insert"}
    scanned_zb = {
        part[len("zb="):]
        for p in feed.inputFiles()
        for part in p.split("/")
        if part.startswith("zb=")
    }
    assert scanned_zb <= appended  # untouched buckets never opened


def test_cow_compact_race_different_cluster_col_not_adopted(
    spark, tmp_path
):
    """cow_compact's CAS-loser path adopts a winner only when it is
    EQUIVALENT (ADVICE r14, the mor_cdc_compact rule): same source
    version, same occupied-bucket count, same cluster_field.  Two
    concurrent legacy-adoption compactions with different cluster
    columns are different layouts — the loser must raise the named
    conflict, not silently adopt; an equivalent pair still adopts."""
    import json as _json
    import os as _os

    import pytest
    from nyc_data_pipeline_spark import manifest_log
    from nyc_data_pipeline_spark.sources.zonemap import cow_compact
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        CommitConflictError,
    )

    table_dir = _cow_evo_table(spark, tmp_path, "cow_race_cc")
    for v in (1, 2):  # strip to a legacy chain (adoption path)
        mpath = _os.path.join(table_dir, f"manifest-v{v}.json")
        with open(mpath) as f:
            m = _json.load(f)
        for k in ("schema", "commit_cols", "cluster_field",
                  "file_stats", "last_field_id"):
            m.pop(k, None)
        with open(mpath, "w") as f:
            _json.dump(m, f)
    real = manifest_log.atomic_json_publish_once

    def inject_once(op):
        state = {"fired": False}

        def wrapper(obj, path):
            if not state["fired"] and _os.path.basename(
                path
            ).startswith("manifest-v"):
                state["fired"] = True
                op()
            return real(obj, path)

        manifest_log.atomic_json_publish_once = wrapper

    inject_once(lambda: cow_compact(spark, table_dir, cluster_col="k"))
    try:
        with pytest.raises(CommitConflictError, match="concurrent"):
            cow_compact(spark, table_dir, cluster_col="day")
    finally:
        manifest_log.atomic_json_publish_once = real
    with open(_os.path.join(table_dir, "manifest-v3.json")) as f:
        m3 = _json.load(f)
    kid = next(f["id"] for f in m3["schema"] if f["name"] == "k")
    assert m3["cluster_field"] == kid  # the winner's layout stands
    # an EQUIVALENT concurrent pair (same cluster col) still adopts
    inject_once(lambda: cow_compact(spark, table_dir))
    try:
        adopted = cow_compact(spark, table_dir)
    finally:
        manifest_log.atomic_json_publish_once = real
    assert adopted["version"] == 4 and adopted["compacted_from"] == 3


def test_src_cow_lifecycles_rerun_after_partial_state(spark, sf_dir):
    """The scratch lifecycle builders converge after a simulated crash
    between evolution commits (ADVICE r14): a rerun with a missing
    head manifest rebuilds from v1 instead of raising
    CommitConflictError off the leftover evolution CAS names."""
    import os as _os

    from nyc_data_pipeline_spark.registry import QUERIES, load_all
    from nyc_data_pipeline_spark.sources.scans import scratch_dir

    load_all()
    for qname, scratch, head in (
        ("src_cow_rename", "cow_evo", 4),
        ("src_cow_readd", "cow_readd", 6),
    ):
        first = sorted(
            (r["zb"], r["n_rows"]) for r in QUERIES[qname](
                spark, sf_dir
            ).collect()
        )
        table_dir = scratch_dir(scratch, sf_dir)
        # crash window: head manifest gone, earlier commits remain
        _os.unlink(
            _os.path.join(table_dir, f"manifest-v{head}.json")
        )
        again = sorted(
            (r["zb"], r["n_rows"]) for r in QUERIES[qname](
                spark, sf_dir
            ).collect()
        )
        assert again == first, qname


def test_cow_stale_producer_rejected_after_rename(spark, tmp_path):
    """A producer still writing a renamed column's OLD name into the
    COW chain fails loudly on both write paths (append + versioned
    rewrite) instead of silently shearing values into files no
    projection will ever read; the NEW name works."""
    import pyspark.sql.functions as F
    import pytest
    from nyc_data_pipeline_spark.sources.zonemap import (
        _zm_append,
        _zm_read_version,
        cow_rename_column,
    )

    table_dir = _cow_evo_table(spark, tmp_path, "cow_stale")
    cow_rename_column(table_dir, "cents", "amount")  # v3
    stale = spark.range(5).select(
        (F.col("id") + 5000).alias("k"),
        (F.col("id") * 2).cast("int").alias("cents"),  # pre-rename!
        (F.col("id") + 100).alias("day"),
    )
    with pytest.raises(ValueError, match="stale schema"):
        _zm_append(spark, stale, table_dir, 4)
    fresh = stale.withColumnRenamed("cents", "amount")
    _zm_append(spark, fresh, table_dir, 4)  # new name: fine
    rows = {
        r["k"]: r["amount"]
        for r in _zm_read_version(spark, table_dir, 4).collect()
    }
    assert rows[5002] == 4 and rows[7] == 70


def test_cow_change_feed_composes_across_evolution(spark, tmp_path):
    """change_feed_from across version pairs and evolution commits:
    an evolution commit feeds EMPTY, a rewrite after a rename surfaces
    pre/post images under the CURRENT name, and a feed SPANNING the
    rename maps the pre-side's old-named files to the current schema
    by field id."""
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.sources.zonemap import (
        _zm_read_version,
        _zm_versioned_write,
        change_feed_from,
        cow_rename_column,
    )

    table_dir = _cow_evo_table(spark, tmp_path, "cow_feed_evo")
    # v1 -> v2 (append): every appended key surfaces as an insert
    feed12 = change_feed_from(spark, table_dir, 1, 2)
    rows12 = {r["k"]: r for r in feed12.collect()}
    assert all(r["change"] == "insert" for r in rows12.values())
    assert set(rows12) == {1000 + i for i in range(50)}
    assert rows12[1003]["post_cents"] == 9

    cow_rename_column(table_dir, "cents", "amount")       # v3
    # evolution commit: no files rewritten -> EMPTY typed feed
    feed23 = change_feed_from(spark, table_dir, 2, 3)
    assert feed23.count() == 0
    assert "post_amount" in feed23.columns

    # v4: rewrite bucket 0 under the NEW name (+1000 on k%3 rows)
    v3 = _zm_read_version(spark, table_dir, 3)
    b0 = v3.filter(F.col("zb") == 0)
    rewritten = b0.withColumn(
        "amount",
        F.col("amount")
        + F.when(F.col("k") % 3 == 0, 1000).otherwise(0),
    )
    import json as _json
    import os as _os

    with open(_os.path.join(table_dir, "manifest-v3.json")) as f:
        m3 = _json.load(f)
    _zm_versioned_write(
        rewritten, table_dir, 4, ["0"], m3, tuple(m3["bounds"])
    )
    feed34 = change_feed_from(spark, table_dir, 3, 4)
    rows34 = {r["k"]: r for r in feed34.collect()}
    assert rows34 and all(
        r["change"] == "update" for r in rows34.values()
    )
    for k, r in rows34.items():
        assert k % 3 == 0
        assert r["post_amount"] - r["pre_amount"] == 1000
    # feed SPANNING the rename (v2 -> v4): the pre side's files store
    # 'cents' but surface as pre_amount by field id
    feed24 = change_feed_from(spark, table_dir, 2, 4)
    rows24 = {r["k"]: r for r in feed24.collect()}
    assert rows24 == {
        k: r for k, r in rows24.items() if r["change"] == "update"
    }
    sample = next(iter(rows24.values()))
    assert "pre_amount" in feed24.columns
    assert sample["post_amount"] - sample["pre_amount"] == 1000
    assert set(rows34) == set(rows24)
    # WIDEN leg (ADVICE r13 hazard #2 parity — post-image types under
    # the commit schema): a feed SPANNING amount's int->bigint widen
    # surfaces BOTH images as bigint, values intact
    from nyc_data_pipeline_spark.sources.zonemap import (
        cow_widen_column,
    )

    cow_widen_column(table_dir, "amount", "bigint")       # v5
    feed25 = change_feed_from(spark, table_dir, 2, 5)
    dt = dict(feed25.dtypes)
    assert dt["pre_amount"] == "bigint"
    assert dt["post_amount"] == "bigint"
    rows25 = {r["k"]: r for r in feed25.collect()}
    assert set(rows25) == set(rows24)  # the widen itself feeds empty
    s = next(iter(rows25.values()))
    assert s["post_amount"] - s["pre_amount"] == 1000


def test_cow_change_feed_across_readd_reads_fresh_field_as_null(
    spark, tmp_path
):
    """A feed spanning a drop/re-add of the same NAME projects the
    FROM side by field id: the re-added field is a fresh id the from
    version never stored, so its pre-image is NULL, not the dropped
    column's values — untouched rows in the appended buckets must not
    surface as updates."""
    import pyspark.sql.functions as F
    from nyc_data_pipeline_spark.sources.zonemap import (
        _zm_append,
        change_feed_from,
        cow_add_column,
        cow_drop_column,
    )

    table_dir = _cow_evo_table(spark, tmp_path, "cow_feed_readd")
    cow_drop_column(table_dir, "cents")                  # v3
    cow_add_column(table_dir, "cents", "int")            # v4: fresh id
    batch = spark.range(5).select(
        (F.col("id") + 5000).alias("k"),
        (F.col("id") * 7).cast("int").alias("cents"),
        (F.col("id") + 100).alias("day"),
    )
    _zm_append(spark, batch, table_dir, 5)
    rows = {r["k"]: r for r in change_feed_from(
        spark, table_dir, 2, 5
    ).collect()}
    assert set(rows) == set(range(5000, 5005))
    assert all(
        r["change"] == "insert" and r["pre_cents"] is None
        and r["post_cents"] == (k - 5000) * 7
        for k, r in rows.items()
    )


def test_cow_guard_parity_sweep_pins(spark, tmp_path):
    """VERDICT r14 ask #6 — the three r13 MOR-lane ADVICE hazards
    audited on the COW lane, each pinned:

    1. stale-guard scope: COW is STRICTER than MOR (any stray batch
       column is a named error; adds must go through cow_add_column),
       so a name freed by a rename chain is re-addable and its
       pre-rename stored values never leak into the fresh field;
    2. post-image casts after a widen — covered by the feed test's
       widen leg (types under the TO schema);
    3. head resolution: `cow_log(...).head()` is one fullmatch-parsed
       listdir — stray manifest-like names and staged v{N}-{token}
       dirs never leak into the head."""
    import os as _os

    from nyc_data_pipeline_spark.sources.zonemap import (
        cow_log,
        _zm_read_version,
        cow_add_column,
        cow_rename_column,
    )

    table_dir = _cow_evo_table(spark, tmp_path, "cow_parity")
    cow_rename_column(table_dir, "cents", "amount")       # v3
    # hazard 1: re-adding the pre-rename NAME is a fresh field — the
    # old files still store a 'cents' column (under amount's id), and
    # it must never resolve into the new field
    m4 = cow_add_column(table_dir, "cents", "int")        # v4
    ids = {f["name"]: f["id"] for f in m4["schema"]}
    assert ids["cents"] != ids["amount"]
    rows = {
        r["k"]: (r["amount"], r["cents"])
        for r in _zm_read_version(spark, table_dir, 4).collect()
    }
    assert rows[7] == (70, None)     # stored 'cents' reads as amount
    assert rows[1003] == (9, None)   # ...and never as the new field
    # hazard 3: stray names and staged dirs are invisible to head
    # resolution (single fullmatch-parsed listdir)
    open(_os.path.join(table_dir, "manifest-audit-v9.json"), "w").write(
        "{}"
    )
    _os.makedirs(_os.path.join(table_dir, "v9-deadbeef"))
    assert cow_log(table_dir).head() == 4


def test_vacuum_never_collects_inflight_staged_dirs(spark, tmp_path):
    """An exclusive append/compaction stages its v{N}-{token} files
    BEFORE its manifest CAS; a vacuum landing in that window must not
    collect them (the writer's subsequent successful publish would
    reference deleted paths — committed-data loss).  A crashed
    loser's staged dir at a version <= the head IS garbage and goes."""
    import os as _os

    from nyc_data_pipeline_spark.sources.zonemap import (
        _zm_read_version,
        manifest_vacuum,
    )

    table_dir = _cow_evo_table(spark, tmp_path, "cow_vac_inflight")
    # in-flight writer targeting head+1: staged, manifest not yet CAS'd
    inflight = _os.path.join(table_dir, "v3-deadbeef", "zb=0")
    _os.makedirs(inflight)
    open(_os.path.join(inflight, "part-0.parquet"), "w").write("x")
    # crashed loser at a version <= head: unreferenced garbage
    loser = _os.path.join(table_dir, "v2-feedface", "zb=0")
    _os.makedirs(loser)
    open(_os.path.join(loser, "part-0.parquet"), "w").write("x")
    manifest_vacuum(table_dir, 2)
    assert _os.path.isdir(inflight)      # protected: version > latest
    assert not _os.path.isdir(loser)     # collected: version <= latest
    # the head read is intact after the sweep
    assert _zm_read_version(spark, table_dir, 2).count() == 250
