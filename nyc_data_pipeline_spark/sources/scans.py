"""Registered scan-path queries (S9): JSON-file source with an explicit
schema contract, proven by a write→read roundtrip.

The reference reads only CSV/Parquet (reference kafka_producer.py:34-49);
the engine adds JSON-line files because that's the wire format of its
own Kafka hop and the dominant raw-crawl interchange format.  The query
writes the `documents` table as JSON-lines, reads it back through
``readers.read_json`` (PERMISSIVE + _corrupt_record contract), and
aggregates — the DuckDB oracle computes the same aggregate straight off
the parquet, so the hash match certifies the roundtrip is lossless.

Scale shape: the write and read are both distributed (one task per
partition, no driver materialization); at 100 TB the same plan holds
with the temp dir on a shared object store instead of local /tmp.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..exprs import dsum, sql_dsum, ts_us
from ..registry import register
from .readers import read_csv, read_json, read_text, split_corrupt

# Per-run scratch root for write→read roundtrip queries: pid-suffixed
# (override via NYC_ENGINE_SCRATCH) so two concurrent runs on the same
# scale factor — bench + tests, parallel CI jobs — never clobber each
# other's files between the write and the read-back.
_SCRATCH_ROOT = os.environ.get("NYC_ENGINE_SCRATCH") or os.path.join(
    "/tmp", f"nyc_engine_scratch_{os.getpid()}"
)


def _cleanup_scratch() -> None:
    """Remove this run's scratch root at interpreter exit, and prune
    stale pid-suffixed roots left by crashed runs (their pid no longer
    alive).  Env-overridden roots are the caller's to manage."""
    if not os.environ.get("NYC_ENGINE_SCRATCH"):
        shutil.rmtree(_SCRATCH_ROOT, ignore_errors=True)
    parent = os.path.dirname(_SCRATCH_ROOT)
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for name in entries:
        m = re.fullmatch(r"nyc_engine_scratch_(\d+)", name)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
        except OSError:
            pass  # pid alive but not ours (EPERM) — leave it


atexit.register(_cleanup_scratch)


def scratch_dir(kind: str, sf_dir: str) -> str:
    """Unique-per-run scratch path for a roundtrip query family."""
    return os.path.join(
        _SCRATCH_ROOT, kind, os.path.basename(sf_dir.rstrip("/"))
    )


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


@register(
    "sink_partitioned_pruning",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS ds,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
    GROUP BY 1, 2
    """,
)
def sink_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/§5 layout: the engine's replacement for the reference's
    Postgres DDL + B-tree indexes (reference database_handler.py:65-195)
    is a date-partitioned parquet layout.  Writes events partitioned by
    `ds`, reads back with a date predicate — Catalyst turns it into
    PartitionFilters (directory pruning: at 100 TB a one-week query
    touches 7 directories, not the table; asserted in
    tests/test_sources.py)."""
    out = scratch_dir("partitioned", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    ev.withColumn("ds", F.to_date("ts")).write.mode("overwrite").partitionBy(
        "ds"
    ).parquet(out)
    return (
        spark.read.parquet(out)
        .filter((F.col("ds") >= "2024-01-08") & (F.col("ds") < "2024-01-15"))
        .groupBy(F.col("ds").cast("string").alias("ds"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_purchase"),
        )
    )


N_BUCKETS = 8


def write_bucketed(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Write lineitem/orders bucketed + sorted on the join key and return
    the bucketed table frames.

    Bucketing is the engine's co-located-join layout (S8): both tables
    hash-partitioned into the same N_BUCKETS files on the join key at
    WRITE time, so every subsequent join on that key reads bucket i
    against bucket i — no Exchange on either side, at any scale.  On a
    100 TB warehouse this turns the nightly fact-to-fact join from the
    largest shuffle in the plant into a local merge per bucket
    (tests/test_sources.py asserts the Exchange-free plan).
    """
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = scratch_dir("bucketed", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    specs = [("bkt_lineitem", li, "l_orderkey"), ("bkt_orders", od, "o_orderkey")]
    for name, df, key in specs:
        table = f"{name}_{tag}"
        (
            df.write.mode("overwrite")
            .option("path", os.path.join(base, name))
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .saveAsTable(table)
        )
    return spark.table(f"bkt_lineitem_{tag}"), spark.table(f"bkt_orders_{tag}")


@register(
    "sink_bucketed_join",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 co-located join: write both fact tables bucketed on the join
    key, then join WITHOUT a shuffle (merge hint pins sort-merge so the
    bucket layout, not a broadcast, is what's exercised) and aggregate.
    The oracle joins the raw parquet — a hash match certifies the
    bucketed layout changed the physical plan, never the result."""
    li, od = write_bucketed(spark, sf_dir)
    joined = li.join(
        od.hint("merge"), li["l_orderkey"] == od["o_orderkey"]
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
    )


ORDERS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        # Parquet naive timestamps are TIMESTAMP_NTZ in Spark 4; the CSV
        # contract must match or every row lands in quarantine.
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

# Microsecond NTZ timestamp format for the CSV roundtrip — Spark's
# default is millisecond-only and silently truncates (same pitfall as
# streaming/ingest.MICROS_TS_FORMAT); NTZ columns are governed by
# `timestampNTZFormat`, not `timestampFormat`.
_CSV_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


@register(
    "src_csv_scan",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
           {sql_dsum('o_totalprice')} AS sum_price,
           CAST(MIN(epoch_us(o_orderdate)) AS BIGINT) AS min_date_us,
           CAST(MAX(epoch_us(o_orderdate)) AS BIGINT) AS max_date_us
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def src_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: schema-contracted CSV scan (the reference's input format,
    kafka_producer.py:34-49, CSV branch :38) proven by a write→read
    roundtrip: doubles (shortest-roundtrip strings), timestamps
    (microsecond format), and quoted text must all survive exactly for
    the oracle hash — computed straight off the parquet — to match.
    The read is PERMISSIVE with a _corrupt_record quarantine, never
    silent coercion; at scale both write and read are one task per
    partition with no driver hop."""
    out = scratch_dir("csv_scan", sf_dir)
    od = load_table(spark, sf_dir, "orders")
    od.write.mode("overwrite").option("header", True).option(
        "timestampNTZFormat", _CSV_TS_FORMAT
    ).csv(out)
    back = read_csv(
        spark, out, ORDERS_CSV_SCHEMA, timestampNTZFormat=_CSV_TS_FORMAT
    )
    clean, _bad = split_corrupt(back)
    return clean.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum("o_custkey").alias("sum_cust"),
        dsum("o_totalprice").alias("sum_price"),
        F.min(ts_us("o_orderdate")).alias("min_date_us"),
        F.max(ts_us("o_orderdate")).alias("max_date_us"),
    )


@register(
    "src_json_scan",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(length(text)) AS BIGINT) AS total_text_len
    FROM documents
    GROUP BY lang, source
    """,
)
def src_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: JSON-lines scan with explicit StructType.  Roundtrips the
    documents table through JSON files; text content (arbitrary
    unicode) must survive exactly for the oracle hash to match."""
    out = scratch_dir("json_scan", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").json(out)
    clean, _bad = split_corrupt(read_json(spark, out, DOCUMENTS_SCHEMA))
    return clean.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_text_len"),
    )


@register(
    "src_text_scan",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_lines,
           CAST(SUM(length(lang || chr(9) || coalesce(text, ''))) AS BIGINT)
               AS total_len,
           CAST(SUM(length(coalesce(text, ''))) AS BIGINT) AS total_text_len
    FROM documents
    GROUP BY lang
    """,
)
def src_text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: raw line-oriented text scan — the rawest crawl interchange
    format (one record per line, no schema).  Writes documents as
    tab-delimited lines, reads back with ``read_text`` (single
    `value` column), and re-derives fields by splitting — the classic
    schema-on-read pattern.  The oracle aggregates off the parquet, so
    the hash certifies the line roundtrip and the split are lossless
    (fixture text contains no newlines/tabs; a real crawl escapes
    them at write time).  One task per partition both directions."""
    out = scratch_dir("text_scan", sf_dir)
    d = load_table(spark, sf_dir, "documents")
    # NULL text is coalesced to '' at write time so the tab separator is
    # always present (concat_ws would silently drop the field and the
    # split would swallow the line into lang) — the roundtrip contract
    # is enforced in code, not assumed of the fixture.
    d.select(
        F.concat_ws(
            "\t", "lang", F.coalesce(F.col("text"), F.lit(""))
        ).alias("value")
    ).write.mode("overwrite").text(out)
    back = read_text(spark, out)
    parsed = back.select(
        F.substring_index("value", "\t", 1).alias("lang"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
        F.length("value").alias("line_len"),
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_lines"),
        F.sum("line_len").cast("bigint").alias("total_len"),
        F.sum(F.length("text")).cast("bigint").alias("total_text_len"),
    )


@register(
    "src_orc_scan",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
           {sql_dsum('l_extendedprice')} AS sum_price,
           CAST(MIN(epoch_us(l_shipdate)) AS BIGINT) AS min_ship_us,
           CAST(MAX(epoch_us(l_shipdate)) AS BIGINT) AS max_ship_us
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def src_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-format coverage: ORC write→read roundtrip of the fact table.
    ORC is Spark-native (vectorized reader, predicate pushdown, column
    pruning — the same scan contract as parquet), and the second
    columnar interchange format a warehouse migration meets in
    practice.  The oracle aggregates straight off the parquet, so the
    hash match certifies doubles, timestamps (microsecond NTZ), and
    strings all survive the format hop exactly.  At scale: one task
    per partition both ways, zstd-compressed stripes, no driver hop."""
    out = scratch_dir("orc_scan", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").option("compression", "zstd").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum("l_orderkey").alias("sum_okey"),
        dsum("l_extendedprice").alias("sum_price"),
        F.min(ts_us("l_shipdate")).alias("min_ship_us"),
        F.max(ts_us("l_shipdate")).alias("max_ship_us"),
    )


@register(
    "sink_partition_overwrite",
    oracle="""
    WITH replaced AS (
        SELECT strftime(ts, '%Y-%m-%d') AS ds, event_type, value FROM events
        WHERE strftime(ts, '%Y-%m-%d') <> '2024-01-10'
        UNION ALL
        SELECT strftime(ts, '%Y-%m-%d') AS ds, event_type, value * 2 AS value
        FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-10'
    )
    SELECT ds, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               AS sum_value
    FROM replaced GROUP BY ds
    """,
)
def sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S8 partition maintenance: DYNAMIC partition overwrite — the
    daily-backfill operation (recompute one day, replace exactly that
    directory, touch nothing else).  Writes events date-partitioned,
    then overwrites only ds=2024-01-10 with a corrected (value
    doubled) recompute under partitionOverwriteMode=dynamic; every
    other partition's files are untouched (static mode would have
    truncated the whole table — the classic backfill footgun).  The
    oracle reproduces replace-one-day semantics over the raw table;
    the hash match certifies exactly one partition changed.  At
    100 TB: the rewrite cost is one day's data, and readers see the
    old day until the atomic directory swap."""
    from ..exprs import dsum

    out = scratch_dir("partition_overwrite", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").cast("string").alias("ds"), "event_type", "value"
    )
    ev.write.mode("overwrite").partitionBy("ds").parquet(out)
    fixed = ev.where(F.col("ds") == "2024-01-10").withColumn(
        "value", F.col("value") * 2
    )
    (
        fixed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ds")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy(F.col("ds").cast("string").alias("ds")).agg(
        F.count("*").alias("n"),
        dsum("value").alias("sum_value"),
    )


@register(
    "sink_bucketed_agg",
    oracle=f"""
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def sink_bucketed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 layout-aware aggregation: a groupBy on the BUCKET KEY of a
    bucketed table needs NO Exchange — the scan's hash-partitioning
    already satisfies the aggregate's distribution, so the plan is
    scan → partial+final agg with zero shuffles (plan-asserted in
    tests/test_sources.py).  At 100 TB this is why fact tables get
    bucketed on their hottest aggregation key: the nightly per-order
    rollup costs a scan, not the warehouse's largest shuffle.  The
    oracle aggregates the raw parquet — layout changes the plan,
    never the result."""
    li, _od = write_bucketed(spark, sf_dir)
    return li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"),
        dsum("l_quantity").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustered layout — multi-dimensional data skipping.
# ---------------------------------------------------------------------------

# Partition pruning (sink_partitioned_pruning) skips on ONE dimension;
# real warehouses filter on several.  The lakehouse answer (Delta
# OPTIMIZE ZORDER BY, Iceberg sort orders, Hudi clustering) is Morton
# interleaving: map each row to the bit-interleave of its dimension
# values, then range-partition files by that z-value — rows close in
# EITHER dimension land in few files, so per-file min/max stats prune
# scans on BOTH columns.  The engine's pure-parquet form: compute z,
# bucket by the top bits, write a bucket-partitioned layout.  At
# 100 TB this replaces "cluster by date, full-scan on customer" with
# bounded file sets for either predicate.

_Z_MASKS = [(8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765)]


def _spread16(expr: str, shl) -> str:
    """Bit-spreading (x -> x with zeros interleaved) of the low 16
    bits, as expression text; `shl(e, n)` renders a left shift."""
    e = f"({expr} & 65535)"
    for sh, mask in _Z_MASKS:
        e = f"(({e} | {shl(e, sh)}) & {mask})"
    return e


def _z_value(cust: str, day: str, shl) -> str:
    return f"({_spread16(cust, shl)} | {shl(_spread16(day, shl), 1)})"


_SPARK_SHL = lambda e, n: f"shiftleft({e}, {n})"  # noqa: E731
_DUCK_SHL = lambda e, n: f"({e} << {n})"  # noqa: E731

_DAY_SPARK = "(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000)"
_DAY_DUCK = "(epoch_us(o_orderdate) // 86400000000)"

Z_FILES = 16  # range-partitioned z files


Z_RANKS = 256  # per-dimension quantile ranks (8 bits each)


@register(
    "sink_zorder_stats",
    oracle=f"""
    WITH r AS (
        SELECT o_orderkey, o_custkey,
               {_DAY_DUCK} AS day,
               ntile({Z_RANKS}) OVER (ORDER BY o_custkey, o_orderkey) - 1
                 AS cr,
               ntile({Z_RANKS}) OVER (ORDER BY {_DAY_DUCK}, o_orderkey) - 1
                 AS dr
        FROM orders
    ),
    z AS (
        SELECT o_orderkey, o_custkey, day,
               {_z_value('cr', 'dr', _DUCK_SHL)} AS zv
        FROM r
    ),
    b AS (
        SELECT o_custkey, day,
               ntile({Z_FILES}) OVER (ORDER BY zv, o_orderkey) AS zbucket
        FROM z
    )
    SELECT CAST(zbucket AS INTEGER) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
           CAST(MAX(o_custkey) AS BIGINT) AS max_cust,
           CAST(MIN(day) AS BIGINT) AS min_day,
           CAST(MAX(day) AS BIGINT) AS max_day
    FROM b GROUP BY 1
    """,
)
def sink_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering of orders on (o_custkey, order day): map
    each dimension to its {Z_RANKS}-quantile RANK (raw values would
    let the wider dimension's high bits dominate the interleave — the
    TPC-H date range is 12 bits vs 8 for custkey, and a raw interleave
    degenerates to a date sort; rank-space interleaving is what Delta
    OPTIMIZE ZORDER does too), Morton-interleave the ranks,
    range-partition into {Z_FILES} files by z, write the layout, read
    it back, and emit the per-file statistics a scan planner skips
    with — each file's (min, max) range on BOTH dimensions is a
    bounded sub-rectangle, which a 1-D sort cannot give.

    Determinism: ranks and file boundaries are exact ntile quantiles
    with (value, o_orderkey) total orders, so both engines reproduce
    the assignment bit-for-bit.  REFEREE FORM: the three unpartitioned
    ntile windows are full-table single-reducer sorts — correct, and
    the exactness certifies the skipping property, but not the shape
    to run at 100 TB.  The production twin `sink_zorder_stats_prod`
    (below) builds the same layout from sampled-CDF boundaries with
    no full-table sort; pruning on both layouts is plan-asserted in
    tests/test_sources.py."""
    out = scratch_dir("zorder", sf_dir)
    od = load_table(spark, sf_dir, "orders")
    r0 = od.select("o_orderkey", "o_custkey", F.expr(_DAY_SPARK).alias("day"))
    # One copy of the referee pipeline: the same zorder_assign_exact
    # the scale probe measures, so benchmark and oracle can't drift.
    (
        zorder_assign_exact(r0)
        .repartition("zbucket")
        .sortWithinPartitions("zv")
        .write.mode("overwrite")
        .partitionBy("zbucket")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .groupBy(F.col("zbucket").cast("bigint").alias("zbucket"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("o_custkey").cast("bigint").alias("min_cust"),
            F.max("o_custkey").cast("bigint").alias("max_cust"),
            F.min("day").cast("bigint").alias("min_day"),
            F.max("day").cast("bigint").alias("max_day"),
        )
    )


# Production z-order: deterministic systematic sample for boundary
# estimation.  Fixture keeps ~1/16 of rows; in production the modulus
# scales with the corpus so the sample stays ~10^6 rows regardless of
# table size (the same contract as repartitionByRange's reservoir).
ZP_SAMPLE_MOD = 16


def _rank_expr(arr: str, val: str, max_n: int) -> str:
    """#elements of the sorted array `arr` strictly below `val`, as an
    unrolled binary search (log2(max_n) fold steps over element_at).

    The obvious `size(filter(arr, b -> b < val))` runs the lambda
    interpreted per ELEMENT and allocates the filtered array per row —
    measured ~7 µs/row at 255 boundaries; the 8-step fold is ~5×
    faster and bit-identical (verified over the full orders table).
    Correct for any sorted array with duplicates: the search lands on
    the last position whose value < val, which IS the strict-rank."""
    steps, s = [], 1
    while s * 2 <= max_n:
        s *= 2
    while s >= 1:
        steps.append(str(s))
        s //= 2
    return (
        f"aggregate(array({','.join(steps)}), 0, (p, s) -> p + "
        f"IF(p+s <= size({arr}) AND element_at({arr}, p+s) < {val}, s, 0))"
    )


def zorder_prod_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, o_custkey, day, zv, zbucket) for every order, with
    ranks and file assignment derived ONLY from sampled-CDF boundary
    arrays — the full table is never globally sorted.  See
    sink_zorder_stats_prod for the design commentary; split out so
    tests can assert the build plan's window/sample structure."""
    od = load_table(spark, sf_dir, "orders")
    r0 = od.select(
        "o_orderkey", "o_custkey", F.expr(_DAY_SPARK).alias("day")
    )
    return zorder_assign_sampled(r0)


def zorder_assign_sampled(r0: DataFrame) -> DataFrame:
    """Sampled-boundary z-bucket assignment over any
    (o_orderkey, o_custkey, day) frame (scale_probe entry point).

    The FULL table takes exactly one pass: crossJoin with the 1-row
    boundary struct, rank-map both dims, interleave, rank-map the
    z-value — all map-side.  Every window (the two dimension CDFs and
    the z-file CDF) runs over the 1/ZP_SAMPLE_MOD sample only; the
    z boundaries in particular come from the SAMPLE's own rank-mapped
    rows, not from filtering the full mapped table (a first draft did
    the latter — the probe measured the resulting diamond recomputing
    the full-table map inside the boundary branch, the containment.py
    lesson again)."""
    samp = r0.filter(F.col("o_orderkey") % ZP_SAMPLE_MOD == 0)

    def dim_boundaries(col: str) -> DataFrame:
        """≤(Z_RANKS-1) upper-edge boundary values of the sampled CDF,
        as a single sorted array in one row (broadcastable)."""
        t = samp.select(
            F.ntile(Z_RANKS)
            .over(Window.orderBy(F.col(col), F.col("o_orderkey")))
            .alias("t"),
            F.col(col).alias("x"),
        )
        return (
            t.filter(F.col("t") < Z_RANKS)
            .groupBy("t")
            .agg(F.max("x").alias("b"))
            .agg(F.sort_array(F.collect_list("b")).alias(f"{col}_bl"))
        )

    bounds = dim_boundaries("o_custkey").crossJoin(dim_boundaries("day"))

    def with_z(df: DataFrame) -> DataFrame:
        """Rank-map both dims via the broadcast boundary arrays and
        Morton-interleave — pure map-side, no shuffle of `df`."""
        return (
            df.crossJoin(F.broadcast(bounds))
            .selectExpr(
                "o_orderkey",
                "o_custkey",
                "day",
                f"{_rank_expr('o_custkey_bl', 'o_custkey', Z_RANKS - 1)} AS cr",
                f"{_rank_expr('day_bl', 'day', Z_RANKS - 1)} AS dr",
            )
            .selectExpr(
                "o_orderkey",
                "o_custkey",
                "day",
                f"{_z_value('cr', 'dr', _SPARK_SHL)} AS zv",
            )
        )

    zs = with_z(samp).select(
        F.ntile(Z_FILES).over(Window.orderBy("zv", "o_orderkey")).alias("t"),
        "zv",
    )
    zbl = (
        zs.filter(F.col("t") < Z_FILES)
        .groupBy("t")
        .agg(F.max("zv").alias("b"))
        .agg(F.sort_array(F.collect_list("b")).alias("zbl"))
    )
    return with_z(r0).crossJoin(F.broadcast(zbl)).selectExpr(
        "o_orderkey",
        "o_custkey",
        "day",
        "zv",
        f"1 + {_rank_expr('zbl', 'zv', Z_FILES - 1)} AS zbucket",
    )


def zorder_assign_exact(r0: DataFrame) -> DataFrame:
    """Exact (referee) z-bucket assignment over any (o_orderkey,
    o_custkey, day) frame: three unpartitioned ntile windows — the
    full-table global sorts the production form exists to avoid.
    Exposed for scale_probe so the two forms' scaling is measured
    side by side."""
    r = r0.select(
        "o_orderkey",
        "o_custkey",
        "day",
        (
            F.ntile(Z_RANKS).over(Window.orderBy("o_custkey", "o_orderkey")) - 1
        ).alias("cr"),
        (
            F.ntile(Z_RANKS).over(Window.orderBy("day", "o_orderkey")) - 1
        ).alias("dr"),
    )
    z = r.selectExpr(
        "o_orderkey",
        "o_custkey",
        "day",
        f"{_z_value('cr', 'dr', _SPARK_SHL)} AS zv",
    )
    return z.withColumn(
        "zbucket", F.ntile(Z_FILES).over(Window.orderBy("zv", "o_orderkey"))
    )


@register(
    "sink_zorder_stats_prod",
    oracle=f"""
    WITH r0 AS (
        SELECT o_orderkey, o_custkey, {_DAY_DUCK} AS day FROM orders
    ),
    samp AS (SELECT * FROM r0 WHERE o_orderkey % {ZP_SAMPLE_MOD} = 0),
    ct AS (
        SELECT ntile({Z_RANKS}) OVER (ORDER BY o_custkey, o_orderkey) AS t,
               o_custkey
        FROM samp
    ),
    cb AS (
        SELECT list(b ORDER BY b) AS cbl FROM (
            SELECT MAX(o_custkey) AS b FROM ct
            WHERE t < {Z_RANKS} GROUP BY t)
    ),
    dt AS (
        SELECT ntile({Z_RANKS}) OVER (ORDER BY day, o_orderkey) AS t, day
        FROM samp
    ),
    db AS (
        SELECT list(b ORDER BY b) AS dbl FROM (
            SELECT MAX(day) AS b FROM dt WHERE t < {Z_RANKS} GROUP BY t)
    ),
    rk AS (
        SELECT o_orderkey, o_custkey, day,
               CAST(len(list_filter(cbl, b -> b < o_custkey)) AS INTEGER)
                 AS cr,
               CAST(len(list_filter(dbl, b -> b < day)) AS INTEGER) AS dr
        FROM r0, cb, db
    ),
    z AS (
        SELECT o_orderkey, o_custkey, day,
               {_z_value('cr', 'dr', _DUCK_SHL)} AS zv
        FROM rk
    ),
    zs AS (
        SELECT ntile({Z_FILES}) OVER (ORDER BY zv, o_orderkey) AS t, zv
        FROM z WHERE o_orderkey % {ZP_SAMPLE_MOD} = 0
    ),
    zb AS (
        SELECT list(b ORDER BY b) AS zbl FROM (
            SELECT MAX(zv) AS b FROM zs WHERE t < {Z_FILES} GROUP BY t)
    ),
    b AS (
        SELECT z.*, 1 + len(list_filter(zbl, bb -> bb < zv)) AS zbucket
        FROM z, zb
    )
    SELECT CAST(zbucket AS INTEGER) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
           CAST(MAX(o_custkey) AS BIGINT) AS max_cust,
           CAST(MIN(day) AS BIGINT) AS min_day,
           CAST(MAX(day) AS BIGINT) AS max_day
    FROM b GROUP BY 1
    """,
)
def sink_zorder_stats_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION z-order layout: identical Morton-interleave and
    per-file statistics as `sink_zorder_stats`, but every global sort
    is confined to a deterministic 1/{ZP_SAMPLE_MOD} systematic sample
    (o_orderkey % {ZP_SAMPLE_MOD} == 0) — the full table is NEVER
    range-sorted.

    The exact form runs three unpartitioned ntile windows over the
    whole table — a single-reducer total sort ×3, fine as a referee
    but a driver-adjacent bottleneck at 100 TB.  Here each dimension's
    {Z_RANKS} rank boundaries are the per-tile maxima of an ntile over
    the SAMPLE (the sampled-CDF boundary estimate — the same recipe
    repartitionByRange and Delta OPTIMIZE use, made deterministic so
    the DuckDB oracle reproduces it bit-for-bit), collected into one
    ≤{Z_RANKS}-element array and broadcast onto the table; the per-row
    rank is an unrolled binary search over the broadcast array (see
    `_rank_expr`) — JVM-side, no shuffle, no window.  File assignment repeats the trick on the z-value: {Z_FILES}
    boundaries from the sampled z CDF, broadcast rank-lookup, then a
    zbucket-partitioned write.  Total cost at any scale: one linear
    sample scan (tiny sort), two broadcast map passes, one
    partitioned write — vs three full-table single-reducer sorts.

    Boundary placement is approximate (buckets are near-equal, not
    exactly n/{Z_FILES}); the SKIPPING property — every file bounded
    in BOTH dimensions — is identical and asserted in
    tests/test_sources.py alongside the exact referee's."""
    out = scratch_dir("zorder_prod", sf_dir)
    (
        zorder_prod_frame(spark, sf_dir)
        .repartition("zbucket")
        .sortWithinPartitions("zv")
        .write.mode("overwrite")
        .partitionBy("zbucket")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .groupBy(F.col("zbucket").cast("bigint").alias("zbucket"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("o_custkey").cast("bigint").alias("min_cust"),
            F.max("o_custkey").cast("bigint").alias("max_cust"),
            F.min("day").cast("bigint").alias("min_day"),
            F.max("day").cast("bigint").alias("max_day"),
        )
    )


# ---------------------------------------------------------------------------
# Small-file compaction — the table-maintenance sweep.
# ---------------------------------------------------------------------------

COMPACT_TARGET_BYTES = 32 * 1024 * 1024  # production target file size


@register(
    "sink_compaction",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_micro,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the OPTIMIZE/rewrite-data-files table
    sweep): streaming ingestion writes one file per trigger per
    partition — here simulated by a 200-way fragmented write — and
    query latency then dies on file-open overhead and starved row-group
    statistics.  The sweep reads the fragmented table, re-partitions to
    ceil(bytes / target_file_size) output files, and rewrites; readers
    see identical rows (the oracle checks the post-compaction content
    against the source), pytest asserts the file-count collapse and
    byte sizing.  At 100 TB this is the nightly maintenance job —
    partition-wise (each date partition compacts independently, so the
    sweep is embarrassingly parallel and restartable per partition);
    sizing from the FRAGMENTED table's actual bytes, not row counts,
    is what keeps output files near target across skewed partitions."""
    frag = scratch_dir("fragmented", sf_dir)
    compact = scratch_dir("compacted", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(200).write.mode("overwrite").parquet(frag)
    fragmented = spark.read.parquet(frag)
    # Size the output from the fragmented table's actual bytes (driver-
    # side directory listing — metadata only, no data moves; on a real
    # object store this is the same listing the commit protocol does).
    nbytes = sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _dn, fns in os.walk(frag)
        for fn in fns
        if fn.endswith(".parquet")
    )
    n_out = max(1, -(-nbytes // COMPACT_TARGET_BYTES))  # ceil div
    fragmented.repartition(n_out).write.mode("overwrite").parquet(compact)
    return (
        spark.read.parquet(compact)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.floor(F.col("value") * 1_000_000).cast("bigint"))
            .cast("bigint")
            .alias("sum_micro"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Schema evolution: widening a parquet dataset batch-by-batch.
# ---------------------------------------------------------------------------


@register(
    "src_schema_evolution",
    oracle="""
    WITH early AS (
        SELECT event_id, event_type,
               CAST(floor(value * 1000000) AS BIGINT) AS v_micro,
               CAST(NULL AS BIGINT) AS user_id
        FROM events WHERE event_id % 2 = 0
    ),
    late AS (
        SELECT event_id, event_type,
               CAST(floor(value * 1000000) AS BIGINT) AS v_micro,
               user_id
        FROM events WHERE event_id % 2 = 1
    ),
    unioned AS (
        SELECT * FROM early UNION ALL SELECT * FROM late
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(user_id) AS BIGINT) AS n_with_user,
           CAST(SUM(v_micro) AS BIGINT) AS sum_micro
    FROM unioned GROUP BY event_type
    """,
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a growing parquet dataset: an early batch
    written WITHOUT the user_id column and a later batch written WITH
    it land in the same directory tree; `mergeSchema` unifies the read
    schema and backfills the missing column with NULLs — the
    add-a-column migration every long-lived ingestion pipeline goes
    through (the reference would ALTER TABLE its Postgres DDL,
    database_handler.py:65-108; parquet datasets evolve by union of
    file footers instead).  The aggregate proves row counts, NULL
    backfill (n_with_user counts only late-batch rows), and values all
    survive.  Scale note: footer merging is driver-side metadata work
    over per-file schemas — keep it off hot paths by pinning the
    unified schema in a catalog/table format once known; `mergeSchema`
    is the discovery tool, not the steady state."""
    out = scratch_dir("evolve", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1_000_000).cast("bigint").alias("v_micro"),
        "user_id",
    )
    (
        ev.where(F.col("event_id") % 2 == 0)
        .drop("user_id")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "batch=early"))
    )
    (
        ev.where(F.col("event_id") % 2 == 1)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "batch=late"))
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "batch=early"), os.path.join(out, "batch=late")
    )
    return merged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.count("user_id").cast("bigint").alias("n_with_user"),
        F.sum("v_micro").cast("bigint").alias("sum_micro"),
    )
