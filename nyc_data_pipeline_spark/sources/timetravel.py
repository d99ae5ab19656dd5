"""Manifest-tracked table versions: snapshot isolation and time-travel
reads over plain parquet.

Delta/Iceberg `VERSION AS OF` is descoped in this sandbox (no table-
format jars — pipelines/cdc.py:22-29), but the MECHANISM underneath is
buildable from first principles and is worth having as a real surface:
data files are immutable; a commit writes NEW files plus a tiny
manifest that lists which files are live; old manifests keep working
because nothing they reference is ever mutated.  Readers pick a
version by picking a manifest — no locks, no copy of unchanged data.

This module implements the partition-granular form (Hive-ACID-shaped):
the table is hash-partitioned on its key, a new version rewrites ONLY
the partitions it touches, and the manifest maps each partition to the
version directory that owns it.  `src_time_travel` commits two
versions of an orders snapshot — v2 applies updates and deletes to the
single partition they land in — then reads BOTH versions back through
their manifests in one query and emits each version's row count and
exact cents total.  That the v1 numbers still reproduce after v2
committed IS snapshot isolation, and the driver hash checks it.

Scale shape: a commit costs one shuffle-free filtered write of the
touched partitions plus an O(#partitions) manifest (driver-side JSON,
KBs); readers scan only the files their manifest names, so time travel
adds zero read amplification.  At 100 TB the partition count grows but
the mechanism is unchanged — which is exactly why the table formats
scale; their manifests add file-level stats on top (the z-order /
min-max machinery lives in sources/scans.py).

Reference parity: extends the reference's warehouse sink
(database_handler.py ON CONFLICT upsert) with the versioned-read
surface the reference lacks; SURVEY §2 S8 family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..manifest_log import ManifestLog, TimeTravelRetentionError
from ..registry import register
from .scans import scratch_dir

TT_PARTS = 4  # partitions: o_orderkey % TT_PARTS
TT_DEL_MOD = 97  # v2 deletes bucket-0 rows with o_orderkey % 97 == 0
TT_UPLIFT_CENTS = 100  # v2 adds $1.00 to surviving bucket-0 rows

# Manifest key carrying the commit wall-clock (microseconds).  It is
# prefixed so read_version's partition loop skips it; the mor_cdc /
# zonemap manifests (named-field dicts) carry the same value under
# `committed_at_us`.  Writers stamp max(now, prev+1) so the per-table
# commit clock is STRICTLY increasing even when two commits land in
# the same microsecond — the as-of resolver depends on it.
COMMITTED_AT_KEY = "_committed_at_us"


def commit_wallclock_us(prev_ts_us: int | None) -> int:
    """Wall-clock stamp for a new commit, strictly after `prev_ts_us`."""
    import time

    now = time.time_ns() // 1000
    return now if prev_ts_us is None or now > prev_ts_us else prev_ts_us + 1


def tt_log(table_dir: str) -> ManifestLog:
    """The table's version chain (`manifest-v{N}.json`)."""
    return ManifestLog(table_dir, "manifest-v", TimeTravelRetentionError)


def resolve_version_as_of(table_dir: str, ts_us: int) -> int:
    """`TIMESTAMP AS OF` → version over any `manifest-v` chain that
    stamps its commits (timetravel, mor_cdc, zonemap): the latest
    retained commit at or before `ts_us` (`ManifestLog.as_of`)."""
    return tt_log(table_dir).as_of(ts_us)


def write_version(df: DataFrame, table_dir: str, version: int,
                  parts: list[int], prev_manifest: dict | None) -> dict:
    """Commit `df`'s rows for the named partitions as version
    `version`: write ONLY those partitions' files under v{version}/,
    then publish a manifest mapping every partition to its owning
    version directory (untouched partitions inherit from the previous
    manifest).  The manifest records the commit wall-clock (strictly
    increasing per table) for `TIMESTAMP AS OF` resolution.  Returns
    the new manifest dict."""
    vdir = os.path.join(table_dir, f"v{version}")
    (
        df.filter(F.col("pb").isin(parts))
        .write.mode("overwrite")
        .partitionBy("pb")
        .parquet(vdir)
    )
    manifest = dict(prev_manifest or {})
    for p in parts:
        manifest[str(p)] = os.path.join(vdir, f"pb={p}")
    prev_ts = (prev_manifest or {}).get(COMMITTED_AT_KEY)
    manifest[COMMITTED_AT_KEY] = commit_wallclock_us(
        int(prev_ts) if prev_ts is not None else None
    )
    tt_log(table_dir).publish(version, manifest)
    return manifest


def read_version(spark: SparkSession, table_dir: str, version: int) -> DataFrame:
    """Time-travel read: union exactly the files the version's manifest
    names (each path carries its partition id back as a column)."""
    manifest = tt_log(table_dir).load(version)
    parts = None
    for p, path in sorted(manifest.items()):
        if not p.isdigit():
            continue  # metadata keys (commit wall-clock), not partitions
        piece = spark.read.parquet(path).withColumn("pb", F.lit(int(p)))
        parts = piece if parts is None else parts.unionByName(piece)
    return parts


@register(
    "src_time_travel",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey % {TT_PARTS} AS pb
        FROM orders
    ),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN pb = 0 THEN cents + {TT_UPLIFT_CENTS}
                    ELSE cents END AS cents,
               pb
        FROM base
        WHERE NOT (pb = 0 AND o_orderkey % {TT_DEL_MOD} = 0)
    )
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM base
    UNION ALL
    SELECT 2 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM v2
    """,
)
def src_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit v1 (full snapshot) and v2 (updates + deletes confined to
    partition 0, which alone is rewritten), then read BOTH versions
    through their manifests: (version, n_rows, sum_cents).  v1's
    numbers reproducing after the v2 commit is snapshot isolation,
    hash-checked."""
    table_dir = scratch_dir("timetravel", sf_dir)
    base = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents",
        f"o_orderkey % {TT_PARTS} AS pb",
    )
    m1 = write_version(base, table_dir, 1, list(range(TT_PARTS)), None)
    v2_part0 = (
        base.filter(F.col("pb") == 0)
        .filter(~(F.col("o_orderkey") % TT_DEL_MOD == 0))
        .withColumn("cents", F.col("cents") + TT_UPLIFT_CENTS)
    )
    write_version(v2_part0, table_dir, 2, [0], m1)

    def summarize(version: int) -> DataFrame:
        return (
            read_version(spark, table_dir, version)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .select(F.lit(version).alias("version"), "n_rows", "sum_cents")
        )

    return summarize(1).unionByName(summarize(2))


@register(
    "src_time_travel_ts",
    # The oracle pins the RESOLVED VERSION per probe, not just the
    # stats: probe 1 (= v1's commit instant) and probe 2 (strictly
    # between the commits) must both serve version 1 — the
    # latest-commit-<=-ts rule — and probe 3 (= v2's instant) serves
    # version 2.  Wall-clock values never appear in the output, so the
    # result is deterministic though the clocks are real.
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey % {TT_PARTS} AS pb
        FROM orders
    ),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN pb = 0 THEN cents + {TT_UPLIFT_CENTS}
                    ELSE cents END AS cents,
               pb
        FROM base
        WHERE NOT (pb = 0 AND o_orderkey % {TT_DEL_MOD} = 0)
    ),
    s1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(cents) AS BIGINT) AS sum_cents FROM base),
    s2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(cents) AS BIGINT) AS sum_cents FROM v2)
    SELECT 1 AS probe, 1 AS version, n_rows, sum_cents FROM s1
    UNION ALL
    SELECT 2 AS probe, 1 AS version, n_rows, sum_cents FROM s1
    UNION ALL
    SELECT 3 AS probe, 2 AS version, n_rows, sum_cents FROM s2
    """,
)
def src_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`TIMESTAMP AS OF` over the manifest chain (VERDICT r11 ask #5):
    commit v1 and v2 with recorded wall-clocks, then answer three
    timestamp-pinned reads — AT v1's commit instant, STRICTLY BETWEEN
    the two commits (the boundary case: must resolve to the EARLIER
    version), and AT v2's instant — each resolved to a version by the
    latest-commit-<=-ts rule and read through that version's manifest.
    The resolved version ships in the output, so a resolver that
    rounds the between-commits probe forward (or serves the wrong
    snapshot) breaks the hash.  Same summarize shape as
    `src_time_travel`; timestamps before the earliest retained commit
    raise `TimeTravelRetentionError` (property-tested)."""
    table_dir = scratch_dir("timetravel_ts", sf_dir)
    log = tt_log(table_dir)
    if not log.exists(2):
        base = load_table(spark, sf_dir, "orders").selectExpr(
            "o_orderkey",
            "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents",
            f"o_orderkey % {TT_PARTS} AS pb",
        )
        m1 = write_version(
            base, table_dir, 1, list(range(TT_PARTS)), None
        )
        v2_part0 = (
            base.filter(F.col("pb") == 0)
            .filter(~(F.col("o_orderkey") % TT_DEL_MOD == 0))
            .withColumn("cents", F.col("cents") + TT_UPLIFT_CENTS)
        )
        write_version(v2_part0, table_dir, 2, [0], m1)
    ts1 = int(log.load(1)[COMMITTED_AT_KEY])
    ts2 = int(log.load(2)[COMMITTED_AT_KEY])
    # strictly between: ts2 > ts1 is guaranteed by the monotonic stamp
    probes = [(1, ts1), (2, (ts1 + ts2) // 2), (3, ts2)]

    out = None
    for probe, ts in probes:
        version = resolve_version_as_of(table_dir, ts)
        piece = (
            read_version(spark, table_dir, version)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .select(
                F.lit(probe).alias("probe"),
                F.lit(version).alias("version"),
                "n_rows",
                "sum_cents",
            )
        )
        out = piece if out is None else out.unionByName(piece)
    return out
