"""Zone-map file skipping: manifest min/max stats prune data files
BEFORE the scan — the lakehouse metadata layer, built on plain parquet.

Delta/Iceberg's practical read-side win at 100 TB is not the format —
it is FILE SKIPPING: every data file carries per-column min/max stats
in the table metadata, and a predicate eliminates whole files without
opening them.  The jar-gated formats are descoped here
(pipelines/cdc.py:22-29), but the mechanism is buildable from first
principles, completing the story started by sources/timetravel.py
(manifest-pinned versions) and sources/scans.py (partitioned layouts):

- the WRITE side clusters the table on a sort column via the shared
  order-aligned range bucketing (plans/two_phase.py — the same
  phase-1 primitive the rank/skyline/ABC operators use), one file per
  bucket, and records per-FILE min/max of the cluster column (and any
  other audited columns) in a JSON manifest;
- the READ side evaluates the predicate against the MANIFEST, reads
  only files whose [min, max] interval overlaps, and applies the
  residual row filter to just those files.

Crucially the file paths are opaque bucket ids, NOT predicate-readable
partition values — the pruning power comes from the stats in the
metadata layer, exactly like a lakehouse data-skipping index and
unlike Hive-style partition-path pruning (which sources/scans.py
already covers).  The oracle proves the pruning LOGIC, not just the
data: it recomputes the bucket assignment rule, derives each file's
min/max from raw rows, and predicts `files_scanned`/`files_total`
independently — if the engine scanned a file it should have skipped
(or vice versa), the hash breaks.

Scale shape: the write is one range-bucketed shuffle (linear, the
two_phase discipline); the manifest is O(#files) driver-side KBs; a
pruned read costs only the overlapping files — at 100 TB with
date-clustered files, a one-month predicate reads ~1/84th of the
corpus and the planner never lists the rest.

Reference parity: extends database_handler.py:167-180 (B-tree indexes
on query columns — the reference's only scan-acceleration surface)
into the distributed-layout equivalent; SURVEY §2 S8 family.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import field_ids
from ..catalog import load_table
from ..manifest_log import (
    CommitConflictError,
    ManifestLog,
    TimeTravelRetentionError,
    atomic_json_dump,
)
from ..plans.two_phase import bucket_expr, range_buckets
from ..registry import register
from .scans import scratch_dir


def cow_log(table_dir: str) -> ManifestLog:
    """A COW table's version chain (`manifest-v{N}.json`)."""
    return ManifestLog(table_dir, "manifest-v", TimeTravelRetentionError)


def _read_json_table(path: str) -> list[dict]:
    """Assemble manifest entries from a DataFrame-written JSON-lines
    table (the executor-side stats/bitmap write).  The driver's role
    is reduced to this metadata assembly + the manifest-pointer swap —
    it never computes per-file stats or packs bitmaps itself."""
    rows: list[dict] = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-") and not name.endswith(".crc"):
            with open(os.path.join(path, name)) as f:
                rows.extend(
                    json.loads(line) for line in f if line.strip()
                )
    return rows

ZM_FILES = 8
_US_PER_DAY = 86_400_000_000

# The demo predicate: an ~18-month slice of the 7-year order history —
# wide enough to span file boundaries, narrow enough that most files
# must be skipped.  Days since epoch, inclusive.
ZM_LO_DAY = 9131   # 1995-01-01
ZM_HI_DAY = 9677   # 1996-06-30


def write_zone_mapped(
    df: DataFrame, table_dir: str, day_col: str, stat_cols: list[str],
    n_files: int = ZM_FILES,
) -> dict:
    """Cluster `df` into `n_files` range buckets of `day_col` (one data
    file per bucket, written under an opaque zb=<id> path), and publish
    a manifest with per-file row counts and min/max stats for `day_col`
    plus every `stat_cols` entry.  Returns the manifest dict."""
    b = range_buckets(df, day_col, n_files).withColumnRenamed(
        "bucket", "zb"
    ).drop("lo", "hi")
    data_dir = os.path.join(table_dir, "data")
    (
        # hash-repartition on the bucket id so each bucket's rows land
        # in one task -> exactly one file per zb=<id> directory.
        b.repartition(F.col("zb"))
        .write.mode("overwrite")
        .partitionBy("zb")
        .parquet(data_dir)
    )
    # Per-file stats are computed AND persisted executor-side (one
    # aggregate per bucket, written as a JSON-lines table by the
    # DataFrame writer — the Iceberg manifest-file shape); the driver
    # only assembles the written rows into the manifest pointer.  No
    # `.collect()` over per-file rows anywhere in the build path.
    files_dir = os.path.join(table_dir, "manifest_files")
    (
        b.groupBy("zb")
        .agg(
            F.count("*").alias("n_rows"),
            *[
                agg(c).alias(f"{name}_{c}")
                for c in [day_col, *stat_cols]
                for name, agg in (("min", F.min), ("max", F.max))
            ],
        )
        .write.mode("overwrite")
        .json(files_dir)
    )
    manifest = {
        "files": {
            str(r["zb"]): {
                "path": os.path.join(data_dir, f"zb={r['zb']}"),
                "n_rows": r["n_rows"],
                "stats": {
                    c: [r[f"min_{c}"], r[f"max_{c}"]]
                    for c in [day_col, *stat_cols]
                },
            }
            for r in _read_json_table(files_dir)
        },
        "cluster_col": day_col,
    }
    atomic_json_dump(manifest, os.path.join(table_dir, "manifest.json"))
    return manifest


def read_pruned(
    spark: SparkSession, table_dir: str, col: str, lo, hi
) -> tuple[DataFrame | None, int, int]:
    """Manifest-driven pruned read: open ONLY the files whose [min,max]
    interval for `col` overlaps [lo, hi]; the caller applies the
    residual row predicate.  Returns (df_or_None, files_scanned,
    files_total)."""
    with open(os.path.join(table_dir, "manifest.json")) as f:
        manifest = json.load(f)
    files = manifest["files"]
    keep = [
        meta["path"]
        for _zb, meta in sorted(files.items())
        if meta["stats"][col][0] <= hi and meta["stats"][col][1] >= lo
    ]
    if not keep:
        return None, 0, len(files)
    df = spark.read.option(
        "basePath", os.path.join(table_dir, "data")
    ).parquet(*keep)
    return df, len(keep), len(files)


@register(
    "src_zone_map_pruning",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               epoch_us(CAST(o_orderdate AS TIMESTAMP)) // {_US_PER_DAY}
                   AS day
        FROM orders
    ),
    rng AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM base),
    b AS (
        SELECT base.*,
               LEAST((day - rng.lo) * {ZM_FILES} // (rng.hi - rng.lo + 1),
                     {ZM_FILES - 1}) AS zb
        FROM base, rng
    ),
    file_stats AS (
        SELECT zb, MIN(day) AS f_lo, MAX(day) AS f_hi
        FROM b GROUP BY zb
    ),
    pruned AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS files_scanned,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM file_stats)
                   AS files_total
        FROM file_stats
        WHERE f_lo <= {ZM_HI_DAY} AND f_hi >= {ZM_LO_DAY}
    )
    SELECT CAST(b.zb AS BIGINT) AS zb,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(b.cents) AS BIGINT) AS sum_cents,
           p.files_scanned, p.files_total
    FROM b JOIN file_stats fs USING (zb), pruned p
    WHERE fs.f_lo <= {ZM_HI_DAY} AND fs.f_hi >= {ZM_LO_DAY}
      AND b.day BETWEEN {ZM_LO_DAY} AND {ZM_HI_DAY}
    GROUP BY b.zb, p.files_scanned, p.files_total
    """,
)
def src_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders date-clustered into {ZM_FILES} files with a
    min/max-stats manifest, then answer an 18-month revenue slice
    reading ONLY the files the manifest says can match.  Output: the
    per-file aggregate of matching rows plus the files_scanned /
    files_total evidence; the oracle re-derives the clustering rule and
    the per-file stats from raw rows, so both the layout and the
    pruning decision are hash-checked."""
    table_dir = scratch_dir("zonemap", sf_dir)
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(
            f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_US_PER_DAY}"
        ).alias("day"),
    )
    write_zone_mapped(base, table_dir, "day", ["cents"])
    df, n_scanned, n_total = read_pruned(
        spark, table_dir, "day", ZM_LO_DAY, ZM_HI_DAY
    )
    return (
        df.filter(F.col("day").between(ZM_LO_DAY, ZM_HI_DAY))
        .groupBy(F.col("zb").cast("bigint").alias("zb"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .withColumn("files_scanned", F.lit(n_scanned).cast("bigint"))
        .withColumn("files_total", F.lit(n_total).cast("bigint"))
    )


# --- Per-file Bloom filters: point-lookup file skipping --------------------
#
# Zone maps (above) prune RANGE predicates on the cluster column; an
# equality probe on a high-cardinality column that is NOT the sort key
# (the "find this order id" lookup) overlaps every file's min/max and
# zone maps prune nothing.  The lakehouse answer is a per-file BLOOM
# bitset in the metadata layer (Parquet bloom filters, Delta/Iceberg
# file stats): k hash bits per key, a probe opens only files whose
# bitset has ALL the probe's bits set.  False positives cost one extra
# file read; false negatives are impossible.
#
# The bitset arithmetic is plain modular hashing, so the DuckDB oracle
# can recompute every file's bloom bits from raw rows and predict the
# exact file-skip decision — including the false positives — making
# the skipping LOGIC hash-checked, not just the returned rows.
#
# SIZING is scale-adaptive, not a constant: bits = BLOOM_BITS_PER_KEY ×
# (rows ÷ files) — a fixed width saturates as the table grows and the
# filter silently admits everything (the r6 CMS width-sizing lesson; a
# 4096-bit draft of this op measured 8/8 files admitted at sf0.1).
# Both engines derive the width from the same COUNT(*), so the oracle
# stays exact at every SF.

BLOOM_BITS_PER_KEY = 16  # with 2 hashes: 1/8 fill, ~1.6% FP per probe
BLOOM_HASHES = [(1_804_289_383, 846_930_886), (1_681_692_777, 1_714_636_915)]
# Probe keys: three present at every SF (low orderkeys exist in the
# TPC-H-shaped fixtures) and three absent (far beyond any fixture's
# max orderkey).
BLOOM_PROBES = [1, 7, 32, 10**14 + 1, 10**14 + 2, 10**14 + 3]


def bloom_width(n_rows: int, n_files: int = ZM_FILES) -> int:
    """Deterministic width rule shared with the oracle:
    BLOOM_BITS_PER_KEY × (rows ÷ files + 1)."""
    return BLOOM_BITS_PER_KEY * (n_rows // n_files + 1)


def _bloom_pos_sql(key: str, a: int, b: int, bits) -> str:
    return f"(({key} % 2147483647) * {a} + {b}) % 2147483647 % {bits}"


def write_bloom_manifest(
    df: DataFrame, table_dir: str, key_col: str, n_files: int = ZM_FILES
) -> dict:
    """Extend the zone-mapped layout with per-file bloom bitsets on
    `key_col`: bucket exactly as write_zone_mapped's range clustering
    did, then record each file's set-bit list (sorted, deduplicated) in
    a bloom manifest."""
    b = range_buckets(df, "day", n_files).withColumnRenamed(
        "bucket", "zb"
    ).drop("lo", "hi")
    n_bits = bloom_width(df.count(), n_files)
    pos_cols = [
        F.expr(_bloom_pos_sql(key_col, a, h, n_bits)).alias(f"p{j}")
        for j, (a, h) in enumerate(BLOOM_HASHES)
    ]

    def pack(pdf):
        # packed bitmap, hex-encoded — the parquet-bloom metadata shape
        # (~bits/8 bytes/file) instead of a set-bit integer list (~10×).
        # Runs EXECUTOR-side (one Arrow batch per file): at 10⁵-10⁶
        # files × MB-scale bitmaps the pack is distributed work, never
        # a driver loop.
        import numpy as np
        import pandas as pd

        w = pdf["pos"].to_numpy(dtype=np.int64)
        bm = np.zeros((n_bits + 7) // 8, dtype=np.uint8)
        np.bitwise_or.at(bm, w >> 3, (1 << (w & 7)).astype(np.uint8))
        return pd.DataFrame(
            {"zb": [int(pdf["zb"].iloc[0])], "hexmap": [bm.tobytes().hex()]}
        )

    bloom_dir = os.path.join(table_dir, "bloom_files")
    (
        b.select("zb", *pos_cols)
        .selectExpr(
            "zb",
            "explode(array(" + ", ".join(
                f"p{j}" for j in range(len(BLOOM_HASHES))
            ) + ")) AS pos",
        )
        .distinct()
        .groupBy("zb")
        .applyInPandas(pack, "zb bigint, hexmap string")
        .write.mode("overwrite")
        .json(bloom_dir)
    )
    manifest = {
        "bits": n_bits,
        "files": {
            str(r["zb"]): r["hexmap"] for r in _read_json_table(bloom_dir)
        },
    }
    atomic_json_dump(manifest, os.path.join(table_dir, "bloom.json"))
    return manifest


def bloom_probe_files(manifest: dict, key: int) -> list[str]:
    """File ids whose bloom bitmap admits `key` (all hash bits set)."""
    P = 2_147_483_647
    want = [
        ((key % P) * a + b) % P % manifest["bits"]
        for a, b in BLOOM_HASHES
    ]
    out = []
    for zb, hexmap in sorted(manifest["files"].items()):
        bm = bytes.fromhex(hexmap)
        if all((bm[w >> 3] >> (w & 7)) & 1 for w in want):
            out.append(zb)
    return out


def _bloom_oracle() -> str:
    probes = ", ".join(f"({k})" for k in BLOOM_PROBES)
    p0 = _bloom_pos_sql("o_orderkey", *BLOOM_HASHES[0], "bv.bits")
    p1 = _bloom_pos_sql("o_orderkey", *BLOOM_HASHES[1], "bv.bits")
    q0 = _bloom_pos_sql("p.probe", *BLOOM_HASHES[0], "bv.bits")
    q1 = _bloom_pos_sql("p.probe", *BLOOM_HASHES[1], "bv.bits")
    return f"""
    WITH base AS (
        SELECT o_orderkey,
               epoch_us(CAST(o_orderdate AS TIMESTAMP)) // {_US_PER_DAY}
                   AS day
        FROM orders
    ),
    bv AS (
        SELECT {BLOOM_BITS_PER_KEY} * (COUNT(*) // {ZM_FILES} + 1)
                   AS bits
        FROM base
    ),
    rng AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM base),
    b AS (
        SELECT base.o_orderkey,
               LEAST((day - rng.lo) * {ZM_FILES} // (rng.hi - rng.lo + 1),
                     {ZM_FILES - 1}) AS zb
        FROM base, rng
    ),
    bits AS (
        SELECT DISTINCT zb, pos FROM (
            SELECT zb, {p0} AS pos FROM b, bv
            UNION ALL
            SELECT zb, {p1} FROM b, bv
        )
    ),
    probes(probe) AS (VALUES {probes}),
    admit AS (
        SELECT p.probe, f.zb
        FROM probes p, (SELECT DISTINCT zb FROM b) f, bv
        WHERE EXISTS (SELECT 1 FROM bits x
                      WHERE x.zb = f.zb AND x.pos = {q0})
          AND EXISTS (SELECT 1 FROM bits x
                      WHERE x.zb = f.zb AND x.pos = {q1})
    ),
    hits AS (
        SELECT p.probe, CAST(COUNT(b.o_orderkey) AS BIGINT) AS n_rows
        FROM probes p LEFT JOIN b ON b.o_orderkey = p.probe
        GROUP BY p.probe
    )
    SELECT h.probe AS probe_key, h.n_rows,
           CAST(COALESCE(a.n_admitted, 0) AS BIGINT) AS files_admitted,
           (SELECT CAST(COUNT(DISTINCT zb) AS BIGINT) FROM b)
               AS files_total,
           h.n_rows > 0 AS found
    FROM hits h
    LEFT JOIN (SELECT probe, COUNT(*) AS n_admitted
               FROM admit GROUP BY probe) a
      ON a.probe = h.probe
    """


@register("src_bloom_file_skipping", oracle=_bloom_oracle())
def src_bloom_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup file skipping: build per-file bloom bitsets over the
    date-clustered orders layout, probe six order keys (three present,
    three absent), and for each report how many files the bloom admits
    vs the total, plus the actual row hits from reading ONLY admitted
    files.  Absent keys are typically answered from metadata alone
    (zero files opened, modulo bloom false positives — which the oracle
    predicts exactly)."""
    table_dir = scratch_dir("bloomskip", sf_dir)
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_US_PER_DAY}"
        ).alias("day"),
    )
    # data files: same clustered write as the zone-map layout
    b = range_buckets(base, "day", ZM_FILES).withColumnRenamed(
        "bucket", "zb"
    ).drop("lo", "hi")
    data_dir = os.path.join(table_dir, "data")
    (
        b.repartition(F.col("zb"))
        .write.mode("overwrite")
        .partitionBy("zb")
        .parquet(data_dir)
    )
    manifest = write_bloom_manifest(base, table_dir, "o_orderkey")

    out = None
    for key in BLOOM_PROBES:
        admitted = bloom_probe_files(manifest, key)
        if admitted:
            hits = (
                spark.read.option("basePath", data_dir)
                .parquet(*[os.path.join(data_dir, f"zb={z}") for z in admitted])
                .filter(F.col("o_orderkey") == key)
                .agg(F.count("*").cast("bigint").alias("n_rows"))
            )
        else:
            hits = spark.range(1).select(
                F.lit(0).cast("bigint").alias("n_rows")
            )
        one = hits.select(
            F.lit(key).cast("bigint").alias("probe_key"),
            "n_rows",
            F.lit(len(admitted)).cast("bigint").alias("files_admitted"),
            # actual manifest entry count, not the nominal ZM_FILES —
            # an empty range bucket writes no file and the evidence
            # column must say so (the oracle counts DISTINCT zb).
            F.lit(len(manifest["files"])).cast("bigint").alias(
                "files_total"
            ),
            (F.col("n_rows") > 0).alias("found"),
        )
        out = one if out is None else out.unionByName(one)
    return out


# --- Copy-on-write MERGE at file granularity -------------------------------
#
# The write-side half of the lakehouse story (`MERGE INTO` semantics,
# descoped as SQL syntax in pipelines/cdc.py because no Delta/Iceberg
# jar exists here — but the MECHANISM is buildable): apply a CDC batch
# of updates + deletes + inserts by REWRITING ONLY the data files whose
# zone-map stats overlap the batch's key span, leaving every other file
# byte-identical and inherited by the new manifest version.  This is
# exactly Delta's copy-on-write MERGE: candidate-file selection from
# stats, per-file rewrite, atomic manifest swap, old versions still
# readable (snapshot isolation — proven by reading BOTH versions back
# in one query).
#
# Bucket bounds are FROZEN in the v1 manifest and reused to route
# inserted rows: re-deriving bounds from post-merge data would shift
# every file's key range — a real table keeps its partition spec
# stable across commits.
#
# Scale shape: candidate selection is O(#files) manifest arithmetic;
# the rewrite reads + writes only the touched files (2 of 8 here; at
# 100 TB a keyed CDC batch touches the files its keys land in, not the
# table); the manifest swap is O(#files) JSON.

MRG_UPD_MOD, MRG_UPLIFT = 131, 500   # cents += 500 on matched updates
MRG_DEL_MOD = 977                     # matched deletes
MRG_INS_MOD, MRG_INS_KEY = 1009, 10**12  # inserts: new key = key + 1e12


# --- ONE source of truth for the oracle-side COW algebra --------------------
#
# Seven storage oracles (merge, change feed, append, vacuum, delete,
# MOR delete, MOR compaction) re-derive the same (k, cents, day)
# clustering prelude, and three of them re-derive the same merge
# algebra.  Textual copies drift (the r7 ADVICE bucket-rule lesson),
# so the shared CTE text is emitted by these helpers and composed per
# oracle — change the algebra HERE and every referee moves together.

_ZM_BASE_CTES = f"""base AS (
        SELECT o_orderkey AS k,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               epoch_us(CAST(o_orderdate AS TIMESTAMP)) // {_US_PER_DAY}
                   AS day
        FROM orders
    ),
    rng AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM base),
    b AS (
        SELECT base.*,
               LEAST((day - rng.lo) * {ZM_FILES} // (rng.hi - rng.lo + 1),
                     {ZM_FILES - 1}) AS zb
        FROM base, rng
    ),
    file_stats AS (
        SELECT zb, MIN(day) AS f_lo, MAX(day) AS f_hi FROM b GROUP BY zb
    )"""


def _zm_touched_cte(lo_day: int, hi_day: int) -> str:
    """The stats-overlap candidate set for a [lo_day, hi_day] slice."""
    return f"""touched AS (
        SELECT zb FROM file_stats
        WHERE f_lo <= {hi_day} AND f_hi >= {lo_day}
    )"""


def _zm_merge_v2_cte(with_zb: bool) -> str:
    """The CDC merge algebra over the merge slice: update uplift,
    delete, re-keyed insert — `with_zb` keeps the bucket id when the
    consumer needs per-file routing (append/vacuum oracles)."""
    zb = ", zb" if with_zb else ""
    return f"""v2 AS (
        SELECT k, cents{zb} FROM b
        WHERE zb NOT IN (SELECT zb FROM touched)
        UNION ALL
        SELECT k,
               cents + CASE WHEN day BETWEEN {ZM_LO_DAY} AND {ZM_HI_DAY}
                             AND k % {MRG_UPD_MOD} = 0
                            THEN {MRG_UPLIFT} ELSE 0 END{zb}
        FROM b
        WHERE zb IN (SELECT zb FROM touched)
          AND NOT (day BETWEEN {ZM_LO_DAY} AND {ZM_HI_DAY}
                   AND k % {MRG_DEL_MOD} = 0)
        UNION ALL
        SELECT k + {MRG_INS_KEY}, cents + 1{zb}
        FROM b
        WHERE zb IN (SELECT zb FROM touched)
          AND day BETWEEN {ZM_LO_DAY} AND {ZM_HI_DAY}
          AND k % {MRG_INS_MOD} = 0
    )"""


def _zm_versioned_write(
    b: DataFrame, table_dir: str, version: int, touched: list[str],
    prev: dict | None, bounds: tuple[int, int],
    cluster_col: str | None = None, collect_stats: bool = False,
) -> dict:
    """Write `b`'s rows for the `touched` buckets under v{version}/ and
    publish manifest-v{version}.json: touched buckets point at the new
    files, untouched inherit the previous manifest's paths.  A touched
    bucket that wrote NO rows (empty range bucket, or a merge that
    deleted a file's last row) gets no manifest entry at all — the
    manifest lists files that exist, so `files_total` is the real file
    count and readers never chase a dangling path.

    FIELD IDS: a fresh chain is born with ids and every commit is
    stamped (see field_ids), so evolution is metadata-only and reads
    resolve every version directory's files by id.  A chain whose v1
    predates ids stays legacy (by-name) until `cow_compact`
    re-manifests it.  When `cluster_col` is given, the
    commit also records per-FILE min/max stats of the cluster column
    (`file_stats`, path-keyed) plus the column's field id
    (`cluster_field`) — zone-map file skipping that survives renaming
    the cluster column, because the id never changes."""
    vdir = os.path.join(table_dir, f"v{version}")
    (
        b.filter(F.col("zb").isin([int(z) for z in touched]))
        .repartition(F.col("zb"))
        .write.mode("overwrite")
        .partitionBy("zb")
        .parquet(vdir)
    )
    files = dict((prev or {}).get("files", {}))
    for z in touched:
        if os.path.isdir(os.path.join(vdir, f"zb={z}")):
            files[str(z)] = os.path.join(vdir, f"zb={z}")
        else:
            files.pop(str(z), None)  # bucket empty in this version
    from .timetravel import commit_wallclock_us

    manifest = {
        "files": files,
        "bounds": list(bounds),
        "version": version,
        "committed_at_us": commit_wallclock_us(
            (prev or {}).get("committed_at_us")
        ),
    }
    dtypes = {c: t for c, t in b.dtypes if c != "zb"}
    if prev is None:
        schema = field_ids.fresh_fields(dtypes.items())
    else:
        schema = prev.get("schema")  # None = legacy chain, stays so
        if schema is not None:
            # stale-producer guard (see _zm_append): columns outside
            # the current schema fail loudly instead of silently
            # shearing into un-projected files
            names = {f["name"] for f in schema}
            stray = [c for c in dtypes if c not in names]
            if stray:
                raise ValueError(
                    f"write columns {stray} are not in {table_dir}'s "
                    f"current schema {sorted(names)}; the producer is "
                    "writing a stale schema (or add the column first "
                    "via cow_add_column)"
                )
    if schema is not None:
        field_ids.stamp(manifest, prev, schema, version)
        if cluster_col is not None and prev is None:
            manifest["cluster_field"] = next(
                f["id"] for f in schema if f["name"] == cluster_col
            )
        elif (prev or {}).get("cluster_field") is not None:
            manifest["cluster_field"] = prev["cluster_field"]
    cf = (
        cluster_col
        if cluster_col is not None
        else _cluster_col_now(prev)
    )
    # Per-file stats are OPT-IN (collect_stats at chain birth; later
    # commits follow the chain): the extra agg is one pass over the
    # written batch — the standard Iceberg stats-collection cost —
    # which chains that never take the pruned-read path (their
    # candidate selection runs in Spark) should not pay.  The
    # cluster_field POINTER is free and always stamped, so
    # change_feed_from's value-column rule and id-resolved append
    # routing work on every declared chain.
    if cf is not None and not (
        collect_stats or (prev or {}).get("file_stats") is not None
    ):
        cf = None
    if cf is not None:
        # per-file stats of the written files (executor-side agg,
        # bucket-fan-out-bounded collect); inherited entries keep
        # their stats from the previous manifest
        stats = {
            str(r["zb"]): [r["lo"], r["hi"]]
            for r in b.filter(
                F.col("zb").isin([int(z) for z in touched])
            )
            .groupBy("zb")
            .agg(F.min(cf).alias("lo"), F.max(cf).alias("hi"))
            .collect()
        }
        prev_fs = (prev or {}).get("file_stats", {})
        manifest["file_stats"] = {
            p: (
                stats[z]
                if p.startswith(vdir + os.sep) and z in stats
                else prev_fs.get(p)
            )
            for z, path in files.items()
            for p in (path if isinstance(path, list) else [path])
        }
    cow_log(table_dir).publish(version, manifest)
    return manifest


def _cluster_col_now(manifest: dict | None) -> str | None:
    """The cluster column's CURRENT name: resolved through its field
    id when the chain carries one (so a rename keeps stats and append
    routing working), else None."""
    if not manifest or manifest.get("cluster_field") is None:
        return None
    fid = manifest["cluster_field"]
    for f in manifest.get("schema", []):
        if f["id"] == fid:
            return f["name"]
    return None


def _grouped_manifest_scan(
    spark: SparkSession, files: dict, manifest: dict | None = None
) -> DataFrame:
    """One parquet scan per VERSION DIRECTORY, not per bucket file.

    `files` maps bucket id -> path (or list of paths); every path is a
    `.../v{N}/zb={z}` directory, so grouping by the parent directory
    and reading each group in one scan with `basePath` recovers zb as
    a partition column for free.  The union branch count is the number
    of commit versions in the manifest — O(#versions), not O(#files) —
    which is what keeps the driver-side plan bounded at a 10^5-file
    manifest (SCALE.md §22 measured the per-bucket form 3.5× slower at
    just 80 files)."""
    if not files:
        # every bucket empty: a descriptive error beats the opaque
        # AttributeError `None.withColumn` below (ADVICE r10) — callers
        # that can legitimately see an empty manifest guard upstream
        raise ValueError(
            "manifest lists no data files (all buckets empty); "
            "nothing to scan"
        )
    by_vdir: dict[str, list[str]] = {}
    for _z, path in files.items():
        for p in path if isinstance(path, list) else [path]:
            by_vdir.setdefault(os.path.dirname(p), []).append(p)
    schema = (manifest or {}).get("schema")
    out = None
    for vdir, paths in sorted(by_vdir.items()):
        piece = spark.read.option("basePath", vdir).parquet(*sorted(paths))
        if schema is not None:
            # field-id resolution (see field_ids) under the commit of
            # the version directory: v{N}, or the writer-unique
            # v{N}-{token} a CAS'd compaction stages under
            import re as _re

            mm = _re.fullmatch(
                r"v(\d+)(?:-[0-9a-f]+)?", os.path.basename(vdir)
            )
            stored = (
                field_ids.commit_names(manifest, mm.group(1)) if mm else None
            )
            piece = piece.select(
                *field_ids.project(schema, stored, piece.columns),
                F.col("zb"),
            )
        out = piece if out is None else out.unionByName(piece)
    return out.withColumn("zb", F.col("zb").cast("int"))


def _zm_read_version(
    spark: SparkSession, table_dir: str, version: int
) -> DataFrame:
    manifest = cow_log(table_dir).load(version)
    return _grouped_manifest_scan(spark, manifest["files"], manifest)


def cow_merge(
    spark: SparkSession, base: DataFrame, table_dir: str,
    n_files: int = ZM_FILES,
) -> DataFrame:
    """The composable MERGE core behind `merge_zone_map_cow` (also
    driven by scripts/storage_probe.py at 10× data / 10× files):
    commit v1 of `base` (k, cents, day) date-clustered over `n_files`
    buckets, apply the fixed CDC batch by rewriting only the
    stats-overlapping files, and return the two-version summary."""
    lo, hi = base.agg(F.min("day"), F.max("day")).collect()[0]
    b1 = range_buckets(base, "day", n_files).withColumnRenamed(
        "bucket", "zb"
    ).drop("lo", "hi")
    m1 = _zm_versioned_write(
        b1, table_dir, 1, [str(z) for z in range(n_files)], None,
        (lo, hi), cluster_col="day",
    )
    # candidate-file selection: the stats overlap test runs in Spark,
    # and only the SURVIVING file ids reach the driver (the planner's
    # pruned file list), never the full per-file stats rows.
    touched = sorted(
        str(r["zb"])
        for r in b1.groupBy("zb")
        .agg(F.min("day").alias("f_lo"), F.max("day").alias("f_hi"))
        .filter(
            (F.col("f_lo") <= ZM_HI_DAY) & (F.col("f_hi") >= ZM_LO_DAY)
        )
        .select("zb")
        .collect()
    )

    # rewrite ONLY the touched files: read them via the v1 manifest,
    # apply the batch, re-bucket inserts under the FROZEN v1 bounds.
    tdf = None
    for z in touched:
        piece = spark.read.parquet(m1["files"][z]).withColumn(
            "zb", F.lit(int(z))
        )
        tdf = piece if tdf is None else tdf.unionByName(piece)
    in_slice = F.col("day").between(ZM_LO_DAY, ZM_HI_DAY)
    merged = (
        tdf.filter(~(in_slice & (F.col("k") % MRG_DEL_MOD == 0)))
        .withColumn(
            "cents",
            F.col("cents")
            + F.when(
                in_slice & (F.col("k") % MRG_UPD_MOD == 0), MRG_UPLIFT
            ).otherwise(0),
        )
        .unionByName(
            tdf.filter(in_slice & (F.col("k") % MRG_INS_MOD == 0)).select(
                (F.col("k") + MRG_INS_KEY).alias("k"),
                (F.col("cents") + 1).alias("cents"),
                "day",
                # frozen-bounds routing: the SAME shared bucket rule
                # as the v1 clustered write (plans/two_phase.py
                # bucket_expr), with the v1 manifest's frozen (lo, hi)
                # — one expression, so the rules cannot drift.
                bucket_expr(
                    F.col("day"), F.lit(int(lo)), F.lit(int(hi)), n_files
                ).alias("zb"),
            )
        )
    )
    m2 = _zm_versioned_write(merged, table_dir, 2, touched, m1, (lo, hi))

    def summarize(version: int, rewritten: int, manifest: dict) -> DataFrame:
        return (
            _zm_read_version(spark, table_dir, version)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .select(
                F.lit(version).alias("version"),
                "n_rows",
                "sum_cents",
                F.lit(rewritten).cast("bigint").alias("files_rewritten"),
                # the ACTUAL manifest entry count for this version, not
                # the requested bucket fan-out — an empty range bucket
                # writes no file and must not be counted (ADVICE r8).
                F.lit(len(manifest["files"]))
                .cast("bigint")
                .alias("files_total"),
            )
        )

    return summarize(1, 0, m1).unionByName(summarize(2, len(touched), m2))


def _orders_kcd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, cents, day) projection of orders — the COW fixture base."""
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(
            f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_US_PER_DAY}"
        ).alias("day"),
    )


@register(
    "merge_zone_map_cow",
    oracle=f"""
    WITH {_ZM_BASE_CTES},
    {_zm_touched_cte(ZM_LO_DAY, ZM_HI_DAY)},
    {_zm_merge_v2_cte(with_zb=True)}
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(0 AS BIGINT) AS files_rewritten,
           -- files that actually exist per version: DISTINCT occupied
           -- buckets, independently recomputed — an empty range bucket
           -- writes no file and the engine must not overstate it.
           CAST((SELECT COUNT(DISTINCT zb) FROM b) AS BIGINT)
               AS files_total
    FROM b
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM touched),
           CAST((SELECT COUNT(DISTINCT zb) FROM v2) AS BIGINT)
    FROM v2
    """,
)
def merge_zone_map_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE: commit v1 date-clustered, apply a CDC batch
    (update/delete/insert confined to the {ZM_LO_DAY}-{ZM_HI_DAY}
    slice) by rewriting ONLY the stats-overlapping files, then read
    BOTH manifest versions back — v1 totals reproducing after the v2
    commit is snapshot isolation at file granularity, and
    files_rewritten records the copy-on-write economy."""
    return cow_merge(
        spark, _orders_kcd(spark, sf_dir), scratch_dir("zm_merge", sf_dir)
    )


# --- Change data feed: version diff reading only rewritten files -----------
#
# Delta's CHANGE DATA FEED answers "what changed between v1 and v2"
# without diffing the table: a copy-on-write commit can only change
# rows in the files it REWROTE, so the feed reads exactly those files
# from both versions (plus nothing else) and emits row-level
# insert/update_pre+post/delete records.  Read amplification is the
# touched-file fraction — here 2/8 — independent of table size, which
# is why downstream incremental consumers (sync jobs, CDC mirrors,
# audit trails) can follow a 100 TB table commit-by-commit.
#
# The diff itself is one full-outer join on the key, confined to the
# rewritten buckets' rows; with ≤7-line orders-per-file bounds this is
# the touched-slice cost only.

@register(
    "src_cow_change_feed",
    oracle=f"""
    WITH {_ZM_BASE_CTES},
    {_zm_touched_cte(ZM_LO_DAY, ZM_HI_DAY)},
    v1_rows AS (SELECT b.* FROM b JOIN touched USING (zb)),
    v2_rows AS (
        SELECT k,
               cents + CASE WHEN day BETWEEN {ZM_LO_DAY} AND {ZM_HI_DAY}
                             AND k % {MRG_UPD_MOD} = 0
                            THEN {MRG_UPLIFT} ELSE 0 END AS cents
        FROM v1_rows
        WHERE NOT (day BETWEEN {ZM_LO_DAY} AND {ZM_HI_DAY}
                   AND k % {MRG_DEL_MOD} = 0)
        UNION ALL
        SELECT k + {MRG_INS_KEY}, cents + 1
        FROM v1_rows
        WHERE day BETWEEN {ZM_LO_DAY} AND {ZM_HI_DAY}
          AND k % {MRG_INS_MOD} = 0
    )
    SELECT COALESCE(a.k, c.k) AS k,
           CASE WHEN a.k IS NULL THEN 'insert'
                WHEN c.k IS NULL THEN 'delete'
                ELSE 'update' END AS change,
           CAST(a.cents AS BIGINT) AS pre_cents,
           CAST(c.cents AS BIGINT) AS post_cents
    FROM v1_rows a FULL OUTER JOIN v2_rows c ON a.k = c.k
    WHERE a.k IS NULL OR c.k IS NULL OR a.cents <> c.cents
    """,
)
def src_cow_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed of the copy-on-write merge commit: runs
    (or reuses) `merge_zone_map_cow`'s two commits, then diffs v1 vs v2
    reading ONLY the files the v2 manifest marks rewritten — inherited
    files cannot contain changes, so feed cost tracks the touched-file
    fraction, not the table.  Emits (key, insert/update/delete,
    pre_cents, post_cents)."""
    table_dir = scratch_dir("zm_merge", sf_dir)
    # Ensure the two commits exist; REUSE them when the v2 manifest is
    # already committed (scratch is pid-scoped, so an existing v2 was
    # written by this process with this code — a change-feed consumer
    # reads committed history, it never re-runs the producer's merge).
    if not cow_log(table_dir).exists(2):
        merge_zone_map_cow(spark, sf_dir).collect()
    return change_feed_from(spark, table_dir)


def change_feed_from(
    spark: SparkSession, table_dir: str,
    from_version: int = 1, to_version: int = 2, key: str = "k",
) -> DataFrame:
    """The composable feed core: diff an ALREADY-COMMITTED version
    pair reading only the files whose manifest entries DIFFER (also
    driven by scripts/storage_probe.py against 10×-file layouts).

    Composes across SCHEMA EVOLUTION (r14, the
    mor_cdc_change_feed_span rule on this lane): both sides are
    id-projected, the FROM side's names are mapped to the TO-version
    schema by field id and cast to its types, so a feed across a
    rename/widen surfaces pre/post images under the CURRENT names
    with matching types.  An evolution commit itself rewrites no
    files and therefore feeds EMPTY — any contiguous version pair is
    diffable.  Value columns are the TO-schema's non-key, non-cluster
    fields; legacy chains (no field ids) keep the original k/cents
    shape."""
    m1 = cow_log(table_dir).load(from_version)
    m2 = cow_log(table_dir).load(to_version)
    # normalize entries before comparing (ADVICE r14): _zm_append
    # rewrites every bucket's entry from a path STRING to a LIST, so
    # a raw != across an append commit would mark ALL buckets
    # rewritten ('p' != ['p']) and defeat the only-rewritten-files
    # read contract (results stayed correct — unchanged rows filter
    # out — but the feed read the whole table)
    def _norm(entry):
        if entry is None:
            return None
        return sorted(entry) if isinstance(entry, list) else [entry]

    rewritten = sorted(
        z
        for z in set(m1["files"]) | set(m2["files"])
        if _norm(m1["files"].get(z)) != _norm(m2["files"].get(z))
    )
    schema_to = m2.get("schema")
    if schema_to is not None:
        ccol = _cluster_col_now(m2)
        vals = [
            f["name"] for f in schema_to
            if f["name"] not in (key, ccol)
        ]
    else:
        vals = ["cents"]

    def side(manifest: dict) -> DataFrame | None:
        files = {
            z: manifest["files"][z]
            for z in rewritten
            if z in manifest["files"]
        }
        if not files:
            return None
        # id-projected under the manifest's OWN schema (current
        # names at that version)
        return _grouped_manifest_scan(spark, files, manifest)

    def to_current(df: DataFrame | None) -> DataFrame | None:
        """Map a FROM-side frame to the TO-version names/types by
        field id (rename), cast (widen), default/NULL (add), and
        drop-by-omission — the span projection rule."""
        if df is None or schema_to is None:
            return df
        stored = (
            field_ids.id_names(m1["schema"])
            if m1.get("schema") is not None
            else None
        )
        return df.select(*field_ids.project(schema_to, stored, df.columns))

    a, c = to_current(side(m1)), side(m2)
    if a is None and c is None:
        # nothing rewritten (e.g. an evolution commit): a typed empty
        # feed derived from the head read
        empty = _zm_read_version(spark, table_dir, to_version).limit(0)
        return empty.select(
            F.col(key).alias("k") if key != "k" else F.col("k"),
            F.lit("update").alias("change"),
            *[
                x
                for v in vals
                for x in (
                    F.col(v).alias(f"pre_{v}"),
                    F.col(v).alias(f"post_{v}"),
                )
            ],
        )
    base = side(m2) if a is None else a
    if a is None:
        a = base.limit(0)
    if c is None:
        c = a.limit(0)
    a = a.select(
        F.col(key).alias("a_k"),
        *[F.col(v).alias(f"pre_{v}") for v in vals],
    )
    c = c.select(
        F.col(key).alias("c_k"),
        *[F.col(v).alias(f"post_{v}") for v in vals],
    )
    changed = None
    for v in vals:
        p = ~F.col(f"pre_{v}").eqNullSafe(F.col(f"post_{v}"))
        changed = p if changed is None else (changed | p)
    return (
        a.join(c, a["a_k"] == c["c_k"], "full_outer")
        .filter(
            F.col("a_k").isNull() | F.col("c_k").isNull() | changed
        )
        .select(
            F.coalesce("a_k", "c_k").alias("k"),
            F.when(F.col("a_k").isNull(), "insert")
            .when(F.col("c_k").isNull(), "delete")
            .otherwise("update")
            .alias("change"),
            *[
                x
                for v in vals
                for x in (
                    F.col(f"pre_{v}").cast("bigint").alias(f"pre_{v}")
                    if v == "cents"
                    else F.col(f"pre_{v}"),
                    F.col(f"post_{v}")
                    .cast("bigint")
                    .alias(f"post_{v}")
                    if v == "cents"
                    else F.col(f"post_{v}"),
                )
            ],
        )
    )


# --- Append commit: new files under frozen bounds, no rewrites -------------
#
# The third commit type, completing the table's write story (v1
# clustered OVERWRITE, v2 copy-on-write MERGE — above): an APPEND
# lands a new batch as NEW files only.  Batch rows route to their
# range buckets under the FROZEN v1 bounds (the shared bucket_expr —
# a table's partition spec is stable across commits), each touched
# bucket gains one additional file, and the v3 manifest lists
# MULTIPLE file entries per bucket: every v2 entry inherited
# byte-identical plus the appended entries.  Readers union a bucket's
# file list; zone-map pruning still works per file.  Cost is O(batch)
# write + O(#files) manifest — no data file is ever rewritten, which
# is why appends are the cheap commit on a 100 TB table.

MRG_APP_MOD, MRG_APP_KEY = 499, 2 * 10**12  # append batch: k%499, re-keyed


def _zm_append(
    spark: SparkSession, batch: DataFrame, table_dir: str, version: int,
    n_files: int = ZM_FILES, exclusive: bool = False,
) -> dict:
    """Append `batch` (k, cents, day) to the committed v{version-1}:
    route rows under the FROZEN manifest bounds, write one new file per
    touched bucket under v{version}/, publish manifest-v{version} whose
    per-bucket file LISTS inherit every previous entry.

    `exclusive=True` is the CONCURRENT-writer mode (the mor_cdc_commit
    rule on this lane, VERDICT r14 ask #5): files stage under a
    writer-unique directory and the manifest publishes through the log's
    CAS (`ManifestLog.publish_once`), so an append racing an evolution
    or compaction for the same next version resolves to ONE winner — the
    loser removes its staged directory and raises the named
    CommitConflictError, never a silent clobber. The default
    non-exclusive path keeps overwrite-idempotent publishes for
    single-writer lifecycle rebuilds (crash-recovery contract: rerun
    rewrites the same version)."""
    log = cow_log(table_dir)
    if exclusive and log.exists(version):
        raise CommitConflictError(
            f"manifest v{version} of {table_dir} already published by "
            "another writer; retry from a fresh read"
        )
    prev = log.load(version - 1)
    lo, hi = prev["bounds"]
    if exclusive:
        import uuid

        vdir = os.path.join(
            table_dir, f"v{version}-{uuid.uuid4().hex[:8]}"
        )
    else:
        vdir = os.path.join(table_dir, f"v{version}")
    # the batch routes on the cluster column's CURRENT name (field-id
    # resolved — a renamed cluster column keeps routing)
    cf = _cluster_col_now(prev) or "day"
    if prev.get("schema") is not None:
        # Stale-producer guard (the mor_cdc_commit rule on this lane):
        # a batch column outside the CURRENT schema means a producer
        # writing pre-rename names (silent shear) or an un-declared
        # add — both fail loudly; adds go through cow_add_column.
        names = {f["name"] for f in prev["schema"]}
        stray = [c for c in batch.columns if c not in names]
        if stray:
            raise ValueError(
                f"batch columns {stray} are not in {table_dir}'s "
                f"current schema {sorted(names)}; the producer is "
                "writing a stale schema (or add the column first via "
                "cow_add_column)"
            )
    # Frozen-bounds routing is clamped at BOTH ends: bucket_expr's
    # `least` clamps above-bounds arrivals into bucket n-1, and the
    # `greatest` here clamps below-bounds arrivals into bucket 0 —
    # a streamed row with day < the frozen lower bound must land in
    # the edge bucket (with correspondingly widened file stats), not
    # mint a zb=-1 directory outside the 0..n-1 manifest invariant.
    routed = batch.withColumn(
        "zb",
        F.greatest(
            F.lit(0),
            bucket_expr(
                F.col(cf), F.lit(int(lo)), F.lit(int(hi)), n_files
            ),
        ),
    )
    (
        routed.repartition(F.col("zb"))
        .write.mode("overwrite")
        .partitionBy("zb")
        .parquet(vdir)
    )
    appended = sorted(
        str(r["zb"])
        for r in routed.select("zb").distinct().collect()
    )
    # per-bucket file LISTS: inherited entries + this commit's files
    files = {
        z: (paths if isinstance(paths, list) else [paths])
        for z, paths in prev["files"].items()
    }
    for z in appended:
        files.setdefault(z, []).append(os.path.join(vdir, f"zb={z}"))
    from .timetravel import commit_wallclock_us

    manifest = {
        "files": files,
        "bounds": [lo, hi],
        "version": version,
        "appended_buckets": appended,
        "committed_at_us": commit_wallclock_us(
            prev.get("committed_at_us")
        ),
    }
    if prev.get("schema") is not None:
        # appends write the full current schema
        field_ids.stamp(manifest, prev, prev["schema"], version)
        if prev.get("cluster_field") is not None:
            manifest["cluster_field"] = prev["cluster_field"]
    if prev.get("file_stats") is not None:
        stats = {
            str(r["zb"]): [r["lo"], r["hi"]]
            for r in routed.groupBy("zb")
            .agg(F.min(cf).alias("lo"), F.max(cf).alias("hi"))
            .collect()
        }
        manifest["file_stats"] = {
            **prev["file_stats"],
            **{
                os.path.join(vdir, f"zb={z}"): stats[z]
                for z in appended
            },
        }
    if exclusive:
        import shutil

        try:
            log.publish_once(version, manifest)
        except CommitConflictError:
            shutil.rmtree(vdir, ignore_errors=True)
            raise
    else:
        log.publish(version, manifest)
    return manifest


@register(
    "src_zone_map_append",
    oracle=f"""
    WITH {_ZM_BASE_CTES},
    {_zm_touched_cte(ZM_LO_DAY, ZM_HI_DAY)},
    {_zm_merge_v2_cte(with_zb=True)},
    batch AS (
        SELECT k + {MRG_APP_KEY} AS k, cents + 2 AS cents, zb
        FROM b WHERE k % {MRG_APP_MOD} = 0
    ),
    v3 AS (
        SELECT k, cents, zb FROM v2
        UNION ALL
        SELECT k, cents, zb FROM batch
    )
    SELECT CAST(zb AS BIGINT) AS zb,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST((SELECT COUNT(*) FROM batch x WHERE x.zb = v3.zb)
                AS BIGINT) AS n_appended
    FROM v3
    GROUP BY zb
    """,
)
def src_zone_map_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND commit on the COW table: reuse (or build) the v1/v2
    commits, append a re-keyed batch as NEW files only under the
    frozen bucket bounds, and read v3 back through its multi-file
    manifest — per-bucket totals plus the appended-row evidence.  The
    oracle recomputes v2's merge algebra AND the append routing, so
    inheritance (no v2 row lost, none changed) and the frozen-bounds
    file routing are both hash-checked."""
    table_dir = scratch_dir("zm_merge", sf_dir)
    if not cow_log(table_dir).exists(2):
        merge_zone_map_cow(spark, sf_dir).collect()
    batch = (
        _orders_kcd(spark, sf_dir)
        .filter(F.col("k") % MRG_APP_MOD == 0)
        .select(
            (F.col("k") + MRG_APP_KEY).alias("k"),
            (F.col("cents") + 2).alias("cents"),
            "day",
        )
    )
    m3 = _zm_append(spark, batch, table_dir, 3)
    out = (
        _grouped_manifest_scan(spark, m3["files"])
        .select("k", "cents", "zb")
        .withColumn(
            "is_new",
            (F.col("k") >= MRG_APP_KEY).cast("bigint"),
        )
    )
    return out.groupBy(F.col("zb").cast("bigint").alias("zb")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.sum("is_new").cast("bigint").alias("n_appended"),
    )


# DELETE commit: the third leg of the DML triad (MERGE rewrites,
# APPEND adds files, DELETE removes rows copy-on-write).  The delete
# slice sits at the opposite end of the date range from the merge
# slice so the two fixtures prune DIFFERENT buckets.
DEL_LO_DAY, DEL_HI_DAY = 11323, 11600  # 2001-01-01 .. past max
DEL_MOD = 3                            # delete k % 3 == 0 in-slice

# MOR delete-vector sidecars on this lane are always (bucket, key) over
# the integral clustering key; passing the schema skips JSON inference
# (an extra full pass + one Spark job per read site).
MOR_DV_SCHEMA = "zb bigint, k bigint"


def cow_delete(
    spark: SparkSession, base: DataFrame, table_dir: str,
    n_files: int = ZM_FILES,
) -> DataFrame:
    """Copy-on-write DELETE core (also driven by the storage probe):
    commit v1 of `base` (k, cents, day) date-clustered, then apply
    DELETE WHERE day BETWEEN {DEL_LO_DAY} AND {DEL_HI_DAY} AND
    k % {DEL_MOD} = 0 by rewriting ONLY the files whose manifest
    [min, max] day interval overlaps the slice — every other file is
    inherited untouched by the v2 manifest.  At 100 TB a point-in-time
    retention delete touches the retention window's files and nothing
    else; cost is O(overlapping files), never O(table)."""
    lo, hi = base.agg(F.min("day"), F.max("day")).collect()[0]
    b1 = range_buckets(base, "day", n_files).withColumnRenamed(
        "bucket", "zb"
    ).drop("lo", "hi")
    m1 = _zm_versioned_write(
        b1, table_dir, 1, [str(z) for z in range(n_files)], None,
        (lo, hi), cluster_col="day",
    )
    # candidate files: stats-overlap test runs in Spark; only the
    # surviving ids (the pruned file list) reach the driver.
    touched = sorted(
        str(r["zb"])
        for r in b1.groupBy("zb")
        .agg(F.min("day").alias("f_lo"), F.max("day").alias("f_hi"))
        .filter(
            (F.col("f_lo") <= DEL_HI_DAY) & (F.col("f_hi") >= DEL_LO_DAY)
        )
        .select("zb")
        .collect()
    )
    tdf = None
    for z in touched:
        piece = spark.read.parquet(m1["files"][z]).withColumn(
            "zb", F.lit(int(z))
        )
        tdf = piece if tdf is None else tdf.unionByName(piece)
    in_slice = F.col("day").between(DEL_LO_DAY, DEL_HI_DAY)
    kept = tdf.filter(~(in_slice & (F.col("k") % DEL_MOD == 0)))
    m2 = _zm_versioned_write(kept, table_dir, 2, touched, m1, (lo, hi))

    def summarize(version: int, rewritten: int, manifest: dict) -> DataFrame:
        return (
            _zm_read_version(spark, table_dir, version)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .select(
                F.lit(version).alias("version"),
                "n_rows",
                "sum_cents",
                F.lit(rewritten).cast("bigint").alias("files_rewritten"),
                # actual manifest entry count (cow_merge discipline):
                # a bucket emptied by the delete drops out of the
                # manifest and must drop out of the count.
                F.lit(len(manifest["files"]))
                .cast("bigint")
                .alias("files_total"),
            )
        )

    return summarize(1, 0, m1).unionByName(summarize(2, len(touched), m2))


@register(
    "src_cow_delete",
    oracle=f"""
    WITH {_ZM_BASE_CTES},
    {_zm_touched_cte(DEL_LO_DAY, DEL_HI_DAY)},
    v2 AS (
        SELECT k, cents FROM b
        WHERE NOT (day BETWEEN {DEL_LO_DAY} AND {DEL_HI_DAY}
                   AND k % {DEL_MOD} = 0)
    )
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(0 AS BIGINT) AS files_rewritten,
           CAST((SELECT COUNT(DISTINCT zb) FROM b) AS BIGINT)
               AS files_total
    FROM b
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM touched),
           CAST((SELECT COUNT(DISTINCT zb)
                 FROM (SELECT zb FROM b
                       WHERE NOT (day BETWEEN {DEL_LO_DAY} AND {DEL_HI_DAY}
                                  AND k % {DEL_MOD} = 0))) AS BIGINT)
    FROM v2
    """,
)
def src_cow_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE: commit v1 date-clustered, delete the
    {DEL_LO_DAY}+ retention slice's k%{DEL_MOD} rows by rewriting only
    the stats-overlapping file(s) (1 of {ZM_FILES} at this layout),
    then read BOTH versions back — v1 totals reproducing after the v2
    commit is snapshot isolation, files_rewritten records the
    copy-on-write economy, and the oracle independently recomputes the
    overlap test so a file deleted-from-but-not-overlapping (or vice
    versa) breaks the hash.  Completes the DML triad with
    `merge_zone_map_cow` (update/insert) and `src_zone_map_append`.

    Reference parity: the retention DELETEs a production
    database_handler.py:167-180-style store would run via B-tree range
    scans, re-expressed as manifest-pruned file rewrites."""
    table_dir = scratch_dir("zm_delete", sf_dir)
    return cow_delete(spark, _orders_kcd(spark, sf_dir), table_dir)


# VACUUM / snapshot expiration: the maintenance op every versioned
# table needs — time travel keeps old files alive, and something must
# eventually reclaim them WITHOUT touching any file a retained version
# still references (the reachability rule Delta's VACUUM and Iceberg's
# expire_snapshots both implement).
RETAIN_VERSIONS = 2


def manifest_vacuum(table_dir: str, latest: int) -> dict:
    """Expire all manifests older than the newest {RETAIN_VERSIONS}
    and delete data directories referenced by NO retained manifest.
    Pure metadata + file ops: the reachable set comes from the
    retained manifests alone (never a table scan), so vacuum cost is
    O(#files), independent of data volume.

    Directories staged for a version NEWER than `latest` are never
    collected: an exclusive append/compaction in flight stages its
    `v{{N}}-{{token}}` files BEFORE its manifest CAS, so between the
    two a reachability sweep would see unreferenced dirs whose delete
    turns the writer's subsequent successful publish into a manifest
    pointing at nothing — committed-data loss.  A crashed writer's
    orphan at head+1 is still reclaimed: the next successful commit
    moves the head past it and the following vacuum collects it."""
    import re as _re
    import shutil

    log = cow_log(table_dir)
    retained = range(latest - RETAIN_VERSIONS + 1, latest + 1)
    reachable: set[str] = set()
    for v in retained:
        m = log.load(v)
        for paths in m["files"].values():
            reachable.update(
                paths if isinstance(paths, list) else [paths]
            )
    present = {
        os.path.join(table_dir, vd, zd)
        for vd in os.listdir(table_dir)
        if (vm := _re.fullmatch(r"v(\d+)(?:-[0-9a-f]+)?", vd))
        and int(vm.group(1)) <= latest
        and os.path.isdir(os.path.join(table_dir, vd))
        for zd in os.listdir(os.path.join(table_dir, vd))
        if zd.startswith("zb=")
    }
    removable = sorted(present - reachable)
    for path in removable:
        shutil.rmtree(path)
    log.expire(latest - RETAIN_VERSIONS + 1)
    return {
        "dirs_before": len(present),
        "dirs_removed": len(removable),
        "dirs_after": len(present) - len(removable),
    }


@register(
    "src_manifest_vacuum",
    oracle=f"""
    WITH {_ZM_BASE_CTES},
    {_zm_touched_cte(ZM_LO_DAY, ZM_HI_DAY)},
    {_zm_merge_v2_cte(with_zb=True)},
    batch AS (
        SELECT k + {MRG_APP_KEY} AS k, cents + 2 AS cents, zb
        FROM b WHERE k % {MRG_APP_MOD} = 0
    ),
    v3 AS (
        SELECT k, cents FROM v2
        UNION ALL
        SELECT k, cents FROM batch
    ),
    dirs AS (
        -- v1's physical directory count is the OCCUPIED bucket count
        -- (an empty range bucket writes no dir), recomputed from raw
        -- rows rather than assumed equal to the bucket fan-out.
        SELECT CAST(v1.n + t.n + a.n AS BIGINT) AS dirs_before,
               CAST(t.n AS BIGINT) AS dirs_removed,
               CAST(v1.n + a.n AS BIGINT) AS dirs_after
        FROM (SELECT COUNT(DISTINCT zb) AS n FROM b) v1,
             (SELECT COUNT(*) AS n FROM touched) t,
             (SELECT COUNT(DISTINCT zb) AS n FROM batch) a
    )
    SELECT 2 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           d.dirs_before, d.dirs_removed, d.dirs_after
    FROM v2, dirs d GROUP BY d.dirs_before, d.dirs_removed, d.dirs_after
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT),
           d.dirs_before, d.dirs_removed, d.dirs_after
    FROM v3, dirs d GROUP BY d.dirs_before, d.dirs_removed, d.dirs_after
    """,
)
def src_manifest_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM on a fresh three-version COW table (v1 clustered write →
    v2 merge rewrite → v3 append): expire v1 (retain {RETAIN_VERSIONS})
    and delete exactly the data directories no retained manifest
    references — v1's superseded touched-bucket files and nothing
    else, since untouched v1 files are still SHARED by v2/v3 (the
    reachability rule, not an age rule).  Then read BOTH retained
    versions through their manifests: totals reproducing after the
    physical delete proves vacuum removed only garbage.  The oracle
    re-predicts the reachability arithmetic (dirs before/removed/
    after) from the raw rows alone."""
    table_dir = scratch_dir("zm_vacuum", sf_dir)
    base = _orders_kcd(spark, sf_dir)
    if not cow_log(table_dir).exists(3):
        if not cow_log(table_dir).exists(2):
            cow_merge(spark, base, table_dir).collect()
        batch = base.filter(F.col("k") % MRG_APP_MOD == 0).select(
            (F.col("k") + MRG_APP_KEY).alias("k"),
            (F.col("cents") + 2).alias("cents"),
            "day",
        )
        _zm_append(spark, batch, table_dir, 3)
    # idempotent re-run: the vacuum record IS the commit — a second
    # invocation reports the recorded reclamation, it does not vacuum
    # an already-vacuumed table into different numbers.
    record = os.path.join(table_dir, "vacuum-v3.json")
    if os.path.exists(record):
        with open(record) as f:
            stats = json.load(f)
    else:
        stats = manifest_vacuum(table_dir, latest=3)
        atomic_json_dump(stats, record)
    out = None
    for version in (2, 3):
        piece = (
            _zm_read_version(spark, table_dir, version)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .select(
                F.lit(version).alias("version"),
                "n_rows",
                "sum_cents",
                F.lit(stats["dirs_before"]).cast("bigint").alias("dirs_before"),
                F.lit(stats["dirs_removed"]).cast("bigint").alias("dirs_removed"),
                F.lit(stats["dirs_after"]).cast("bigint").alias("dirs_after"),
            )
        )
        out = piece if out is None else out.unionByName(piece)
    return out


# PARTITION-SPEC EVOLUTION: the layout rule is a property of the
# COMMIT, not the table.  Because readers prune on per-file STATS (the
# manifest), never on path-encoded partition values, a table can start
# life coarsely clustered and re-spec later commits finer — old files
# are never rewritten and queries spanning the boundary prune BOTH
# epochs correctly.  This is Iceberg's partition-evolution claim,
# reproduced from first principles on the same manifest layer; Hive-
# style path pruning (sources/scans.py) structurally cannot do this —
# the path grammar IS the spec there.
EVO_SPLIT_DAY = 10227        # 1998-01-01: the spec-change commit
EVO_E1_FILES, EVO_E2_FILES = 4, 8
EVO_LO_DAY, EVO_HI_DAY = 10043, 10407  # 1997-07-01..1998-06-30 straddle


def _evo_epoch_sql(pred: str, n_files: int, tag: str) -> str:
    """One epoch's bucket rule + slice aggregate as DuckDB CTE text."""
    return f"""
    e{tag} AS (SELECT * FROM base WHERE {pred}),
    rng{tag} AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e{tag}),
    b{tag} AS (
        SELECT e{tag}.*,
               LEAST((day - r.lo) * {n_files} // (r.hi - r.lo + 1),
                     {n_files - 1}) AS zb
        FROM e{tag}, rng{tag} r
    ),
    fs{tag} AS (
        SELECT zb, MIN(day) AS f_lo, MAX(day) AS f_hi
        FROM b{tag} GROUP BY zb
    ),
    keep{tag} AS (
        SELECT zb FROM fs{tag}
        WHERE f_lo <= {EVO_HI_DAY} AND f_hi >= {EVO_LO_DAY}
    )"""


@register(
    "src_partition_evolution",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               epoch_us(CAST(o_orderdate AS TIMESTAMP)) // {_US_PER_DAY}
                   AS day
        FROM orders
    ),
    {_evo_epoch_sql(f"day < {EVO_SPLIT_DAY}", EVO_E1_FILES, "1")},
    {_evo_epoch_sql(f"day >= {EVO_SPLIT_DAY}", EVO_E2_FILES, "2")},
    spanned AS (
        SELECT 1 AS epoch, zb, cents, day FROM b1
        WHERE zb IN (SELECT zb FROM keep1)
        UNION ALL
        SELECT 2, zb, cents, day FROM b2
        WHERE zb IN (SELECT zb FROM keep2)
    ),
    ev AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM keep1) AS s1,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM keep2) AS s2,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM fs1)
             + (SELECT CAST(COUNT(*) AS BIGINT) FROM fs2) AS ft
    )
    SELECT CAST(epoch AS BIGINT) AS epoch, CAST(zb AS BIGINT) AS zb,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           ev.s1 AS files_scanned_e1, ev.s2 AS files_scanned_e2,
           ev.ft AS files_total
    FROM spanned, ev
    WHERE day BETWEEN {EVO_LO_DAY} AND {EVO_HI_DAY}
    GROUP BY epoch, zb, ev.s1, ev.s2, ev.ft
    """,
)
def src_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit epoch 1 ({EVO_E1_FILES}-file coarse spec, pre-1998 rows)
    and epoch 2 ({EVO_E2_FILES}-file fine spec, 1998+ rows) as two
    layout generations of ONE logical table, then answer a 12-month
    slice STRADDLING the spec boundary: each epoch prunes under its
    own bucket rule off its own manifest stats (1 of 4 + 2 of 8 files
    at this layout), no old file rewritten.  The oracle re-derives
    both epochs' bucket rules and the per-epoch pruning decisions from
    raw rows, so a reader that applied one epoch's spec to the other's
    files breaks the hash."""
    table_dir = scratch_dir("zm_evolution", sf_dir)
    base = _orders_kcd(spark, sf_dir).withColumnRenamed("k", "o_orderkey")
    e1 = base.filter(F.col("day") < EVO_SPLIT_DAY)
    e2 = base.filter(F.col("day") >= EVO_SPLIT_DAY)
    d1 = os.path.join(table_dir, "e1")
    d2 = os.path.join(table_dir, "e2")
    write_zone_mapped(e1, d1, "day", ["cents"], n_files=EVO_E1_FILES)
    write_zone_mapped(e2, d2, "day", ["cents"], n_files=EVO_E2_FILES)
    out = None
    evidence = {}
    for epoch, d in ((1, d1), (2, d2)):
        df, n_scanned, n_total = read_pruned(
            spark, d, "day", EVO_LO_DAY, EVO_HI_DAY
        )
        evidence[epoch] = (n_scanned, n_total)
        if df is None:
            continue
        piece = (
            df.filter(F.col("day").between(EVO_LO_DAY, EVO_HI_DAY))
            .groupBy(F.col("zb").cast("bigint").alias("zb"))
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .select(
                F.lit(epoch).cast("bigint").alias("epoch"),
                "zb",
                "n_rows",
                "sum_cents",
            )
        )
        out = piece if out is None else out.unionByName(piece)
    return (
        out.withColumn(
            "files_scanned_e1",
            F.lit(evidence[1][0]).cast("bigint"),
        )
        .withColumn(
            "files_scanned_e2", F.lit(evidence[2][0]).cast("bigint")
        )
        .withColumn(
            "files_total",
            F.lit(evidence[1][1] + evidence[2][1]).cast("bigint"),
        )
    )


# MERGE-ON-READ deletion vectors: the same retention DELETE as
# src_cow_delete, executed under the OTHER strategy.  Copy-on-write
# pays the rewrite at delete time and keeps reads pure; merge-on-read
# commits a tiny KEY-LIST SIDECAR per affected file (Delta deletion
# vectors / Iceberg v2 delete files) and pays a broadcast anti-join at
# read time.  At 100 TB the choice is a real knob: high-churn tables
# amortize MOR's O(deleted keys) commits and compact later; scan-heavy
# tables want COW's clean files.  Shipping BOTH against the same
# predicate makes the trade measurable (storage probe) instead of
# rhetorical.  Zone-map pruning applies to the DV COMMIT too: only
# stats-overlapping files are probed for matches, so the delete commit
# never scans the table.


def _mor_delete_commit(
    spark: SparkSession, table_dir: str, m1: dict,
) -> dict:
    """Write dv-v2: per-bucket deleted-key lists (executor-side JSON
    lines — the manifest_files discipline) for the stats-overlapping
    buckets only; manifest-v2 keeps EVERY v1 data file and points at
    the sidecar.  Candidate selection is ONE Spark aggregate over the
    manifest read (the cow_merge discipline): only surviving bucket
    ids reach the driver, never a per-file stats loop."""
    all_v1 = _zm_read_version(spark, table_dir, 1)
    touched = {
        str(r["zb"])
        for r in all_v1.groupBy("zb")
        .agg(F.min("day").alias("f_lo"), F.max("day").alias("f_hi"))
        .filter(
            (F.col("f_lo") <= DEL_HI_DAY) & (F.col("f_hi") >= DEL_LO_DAY)
        )
        .select("zb")
        .collect()
    }
    tdf = _grouped_manifest_scan(
        spark, {z: p for z, p in m1["files"].items() if z in touched}
    )
    dv_dir = os.path.join(table_dir, "dv-v2")
    in_slice = F.col("day").between(DEL_LO_DAY, DEL_HI_DAY)
    (
        tdf.filter(in_slice & (F.col("k") % DEL_MOD == 0))
        .select("zb", "k")
        .write.mode("overwrite")
        .json(dv_dir)
    )
    dv_buckets = sorted(
        {str(r["zb"]) for r in _read_json_table(dv_dir)}
    )
    from .timetravel import commit_wallclock_us

    manifest = {
        "files": dict(m1["files"]),
        "bounds": m1["bounds"],
        "version": 2,
        "delete_vectors": dv_dir,
        "dv_buckets": dv_buckets,
        "committed_at_us": commit_wallclock_us(
            m1.get("committed_at_us")
        ),
    }
    cow_log(table_dir).publish(2, manifest)
    return manifest


def _mor_read(spark: SparkSession, table_dir: str, version: int) -> DataFrame:
    """Manifest read applying delete vectors, GROUPED by (version dir,
    has-DV): clean buckets stream through one scan per version
    directory (zb recovered as a partition column via basePath), and
    the DV-carrying buckets get ONE more grouped scan plus a single
    broadcast anti-join on (zb, k) against the whole vector table.
    The plan is O(#version-dirs × 2) branches + 1 join, never
    O(#files) — the `mor_cdc_read` shape (streaming/mor_cdc.py),
    converged here per VERDICT r9 ask #1 after SCALE.md §22 measured
    the per-bucket form 3.5× slower at 80 files."""
    m = cow_log(table_dir).load(version)
    dv_buckets = (
        set(m.get("dv_buckets", [])) if m.get("delete_vectors") else set()
    )
    clean = {z: p for z, p in m["files"].items() if z not in dv_buckets}
    dirty = {z: p for z, p in m["files"].items() if z in dv_buckets}
    out = _grouped_manifest_scan(spark, clean) if clean else None
    if dirty:
        dv = spark.read.schema(MOR_DV_SCHEMA).json(
            m["delete_vectors"]
        ).select(F.col("zb").cast("int").alias("zb"), "k")
        survivors = _grouped_manifest_scan(spark, dirty).join(
            F.broadcast(dv), ["zb", "k"], "left_anti"
        )
        out = survivors if out is None else out.unionByName(survivors)
    return out


@register(
    "src_mor_delete_vectors",
    oracle=f"""
    WITH {_ZM_BASE_CTES},
    {_zm_touched_cte(DEL_LO_DAY, DEL_HI_DAY)},
    dv AS (
        SELECT zb, k FROM b
        WHERE zb IN (SELECT zb FROM touched)
          AND day BETWEEN {DEL_LO_DAY} AND {DEL_HI_DAY}
          AND k % {DEL_MOD} = 0
    ),
    v2 AS (
        SELECT k, cents FROM b
        WHERE NOT (day BETWEEN {DEL_LO_DAY} AND {DEL_HI_DAY}
                   AND k % {DEL_MOD} = 0)
    )
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(0 AS BIGINT) AS files_rewritten,
           CAST((SELECT COUNT(*) FROM dv) AS BIGINT) AS dv_rows,
           CAST((SELECT COUNT(DISTINCT zb) FROM dv) AS BIGINT) AS dv_files
    FROM b
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT),
           CAST(0 AS BIGINT),
           CAST((SELECT COUNT(*) FROM dv) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT zb) FROM dv) AS BIGINT)
    FROM v2
    """,
)
def src_mor_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE: commit v1 date-clustered, then commit the
    retention delete as a KEY-LIST sidecar for the stats-overlapping
    bucket(s) — files_rewritten is 0 BY CONSTRUCTION (the pytest
    asserts data files byte-identical across versions) and dv_rows is
    the commit's true cost.  Reads apply the vectors as a broadcast
    anti-join on DV buckets only; v1 reads stay verbatim (snapshot
    isolation without any file copy).  Same predicate as
    `src_cow_delete`, so the two strategies are directly comparable in
    the storage probe.  The oracle recomputes the overlap test, the
    vector contents, and both versions' totals."""
    table_dir = scratch_dir("zm_mor", sf_dir)
    base = _orders_kcd(spark, sf_dir)
    if not cow_log(table_dir).exists(1):
        lo, hi = base.agg(F.min("day"), F.max("day")).collect()[0]
        b1 = range_buckets(base, "day", ZM_FILES).withColumnRenamed(
            "bucket", "zb"
        ).drop("lo", "hi")
        m1 = _zm_versioned_write(
            b1, table_dir, 1,
            [str(z) for z in range(ZM_FILES)], None, (lo, hi),
        )
    else:
        m1 = cow_log(table_dir).load(1)
    if not cow_log(table_dir).exists(2):
        m2 = _mor_delete_commit(spark, table_dir, m1)
    else:
        m2 = cow_log(table_dir).load(2)
    dv_rows = len(_read_json_table(m2["delete_vectors"]))
    out = None
    for version in (1, 2):
        piece = (
            _mor_read(spark, table_dir, version)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .select(
                F.lit(version).alias("version"),
                "n_rows",
                "sum_cents",
                F.lit(0).cast("bigint").alias("files_rewritten"),
                F.lit(dv_rows).cast("bigint").alias("dv_rows"),
                F.lit(len(m2["dv_buckets"])).cast("bigint").alias("dv_files"),
            )
        )
        out = piece if out is None else out.unionByName(piece)
    return out


@register(
    "src_mor_compaction",
    oracle=f"""
    WITH {_ZM_BASE_CTES},
    {_zm_touched_cte(DEL_LO_DAY, DEL_HI_DAY)},
    dv AS (
        SELECT zb, k FROM b
        WHERE zb IN (SELECT zb FROM touched)
          AND day BETWEEN {DEL_LO_DAY} AND {DEL_HI_DAY}
          AND k % {DEL_MOD} = 0
    ),
    v3 AS (
        SELECT k, cents FROM b
        WHERE NOT (day BETWEEN {DEL_LO_DAY} AND {DEL_HI_DAY}
                   AND k % {DEL_MOD} = 0)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           -- buckets that actually carry vectors (DISTINCT zb of the
           -- vector rows), NOT the stats-overlap candidate set: a
           -- candidate file with zero in-slice matches gets no vector
           -- and is not rewritten (ADVICE r8: referee and engine must
           -- share the "buckets carrying vectors" semantics).
           CAST((SELECT COUNT(DISTINCT zb) FROM dv) AS BIGINT)
               AS files_rewritten,
           CAST(0 AS BIGINT) AS dv_files_after
    FROM v3
    """,
)
def src_mor_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE step completing the merge-on-read lifecycle (DV commits
    accumulate read-side debt; compaction pays it down): rewrite ONLY
    the DV-carrying bucket(s) with their vectors applied, publish v3
    whose manifest points at clean files and carries NO delete
    vectors, and read it back — totals must equal the v2 MOR read (the
    vectors' semantics frozen into files), with files_rewritten = the
    DV bucket count and zero vectors remaining.  Together
    `src_mor_delete_vectors` → `src_mor_compaction` → (vacuum) is the
    full churn story: cheap O(keys) delete commits, deferred
    O(touched-files) rewrite, reachability reclaim."""
    table_dir = scratch_dir("zm_mor", sf_dir)
    if not cow_log(table_dir).exists(2):
        src_mor_delete_vectors(spark, sf_dir).collect()
    m2 = cow_log(table_dir).load(2)
    if not cow_log(table_dir).exists(3):
        compacted = None
        for z in m2["dv_buckets"]:
            piece = _mor_read_bucket(spark, m2, z)
            compacted = (
                piece if compacted is None
                else compacted.unionByName(piece)
            )
        vdir = os.path.join(table_dir, "v3")
        (
            compacted.repartition(F.col("zb"))
            .write.mode("overwrite")
            .partitionBy("zb")
            .parquet(vdir)
        )
        files = dict(m2["files"])
        for z in m2["dv_buckets"]:
            files[z] = os.path.join(vdir, f"zb={z}")
        from .timetravel import commit_wallclock_us

        m3 = {
            "files": files,
            "bounds": m2["bounds"],
            "version": 3,
            "compacted_buckets": m2["dv_buckets"],
            "committed_at_us": commit_wallclock_us(
                m2.get("committed_at_us")
            ),
        }
        cow_log(table_dir).publish(3, m3)
    else:
        m3 = cow_log(table_dir).load(3)
    return (
        _zm_read_version(spark, table_dir, 3)
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(
            "n_rows",
            "sum_cents",
            F.lit(len(m3["compacted_buckets"]))
            .cast("bigint")
            .alias("files_rewritten"),
            F.lit(0).cast("bigint").alias("dv_files_after"),
        )
    )


def _mor_read_bucket(
    spark: SparkSession, manifest: dict, z: str
) -> DataFrame:
    """One bucket of a DV-bearing manifest with its vector applied."""
    piece = spark.read.parquet(manifest["files"][z]).withColumn(
        "zb", F.lit(int(z))
    )
    dv = (
        spark.read.schema(MOR_DV_SCHEMA)
        .json(manifest["delete_vectors"])
        .filter(F.col("zb") == int(z))
        .select("k")
    )
    return piece.join(F.broadcast(dv), "k", "left_anti")


# --- Incremental view maintenance from the change feed ----------------------
#
# The change feed exists so DOWNSTREAM state can follow a table without
# rescanning it.  This op closes that loop: a grouped materialized view
# (count + sum per group) built once over v1 is advanced to v2 by
# applying only the feed's row-level deltas — insert adds, delete
# subtracts, update contributes (post - pre) — an O(changes) join
# against the O(groups) view, never an O(table) pass.  At 100 TB this
# is the difference between "refresh the dashboard rollup nightly with
# a full scan" and "follow each commit for the price of its churn".
# The referee recomputes the v2 aggregate directly from the raw merge
# algebra, so a hash match proves feed-driven maintenance == recompute.

IVM_GRP_MOD = 7


@register(
    "ivm_change_feed_agg",
    oracle=f"""
    WITH {_ZM_BASE_CTES},
    {_zm_touched_cte(ZM_LO_DAY, ZM_HI_DAY)},
    {_zm_merge_v2_cte(with_zb=False)}
    SELECT CAST(k % {IVM_GRP_MOD} AS BIGINT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM v2
    GROUP BY 1
    """,
)
def ivm_change_feed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped view (count, sum per k%{IVM_GRP_MOD}) maintained
    INCREMENTALLY: build it over v1, then fold in the change feed's
    deltas — the engine never reads the v2 table, while the oracle
    aggregates v2 directly from the raw rows.  Composes
    `merge_zone_map_cow` (the commits) + `change_feed_from` (the
    deltas, rewritten-files-only) into the IVM pattern."""
    table_dir = scratch_dir("zm_merge", sf_dir)
    if not cow_log(table_dir).exists(2):
        merge_zone_map_cow(spark, sf_dir).collect()
    grp = lambda c: (F.col(c) % IVM_GRP_MOD).cast("bigint")  # noqa: E731
    view1 = (
        _zm_read_version(spark, table_dir, 1)
        .groupBy(grp("k").alias("grp"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )
    feed = change_feed_from(spark, table_dir)
    deltas = (
        feed.groupBy(grp("k").alias("grp"))
        .agg(
            F.sum(
                F.when(F.col("change") == "insert", 1)
                .when(F.col("change") == "delete", -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("dn"),
            F.sum(
                F.coalesce("post_cents", F.lit(0))
                - F.coalesce("pre_cents", F.lit(0))
            )
            .cast("bigint")
            .alias("dc"),
        )
    )
    return (
        view1.join(deltas, "grp", "full_outer")
        .select(
            "grp",
            (F.coalesce("n_rows", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("bigint")
            .alias("n_rows"),
            (
                F.coalesce("sum_cents", F.lit(0))
                + F.coalesce("dc", F.lit(0))
            )
            .cast("bigint")
            .alias("sum_cents"),
        )
        # A group whose last row was deleted folds to n_rows = 0; the
        # referee's GROUP BY over v2 (rightly) has no such row — drop
        # it so "group disappears when its last row does" (ADVICE r9).
        .filter(F.col("n_rows") > 0)
    )


# --- Field-id schema evolution on the COW lane ------------------------------
#
# The rule and the four ops live in field_ids; this lane supplies its
# head, its log and its protected column.  Per-file zone-map stats key
# on the cluster column's FIELD ID (`cluster_field`), so file skipping
# survives renaming it; legacy chains adopt ids through `cow_compact`.

_LANE = field_ids.Lane(
    log=cow_log,
    head=lambda table_dir: cow_log(table_dir).head(),
    compactor="cow_compact",
    pinned=lambda m: {_cluster_col_now(m): "cluster column"},
)


def cow_rename_column(table_dir: str, old: str, new: str) -> dict:
    """`field_ids.rename_column` on the COW chain; renaming the cluster
    column is fine (stats and append routing resolve it by id)."""
    return field_ids.rename_column(_LANE, table_dir, old, new)


def cow_widen_column(table_dir: str, name: str, to_type: str) -> dict:
    """`field_ids.widen_column` on the COW chain."""
    return field_ids.widen_column(_LANE, table_dir, name, to_type)


def cow_add_column(
    table_dir: str, name: str, col_type: str, default=None,
) -> dict:
    """`field_ids.add_column` on the COW chain."""
    return field_ids.add_column(_LANE, table_dir, name, col_type, default)


def cow_drop_column(table_dir: str, name: str) -> dict:
    """`field_ids.drop_column` on the COW chain; the cluster column
    cannot be dropped."""
    return field_ids.drop_column(_LANE, table_dir, name)


def cow_compact(
    spark: SparkSession, table_dir: str, cluster_col: str = "day",
) -> dict:
    """Re-manifesting compaction (OPTIMIZE) for the COW chain: rewrite
    every bucket's file LIST into one file under the next version,
    keeping each row's existing bucket (frozen-bounds routing means
    the zb a row was written under is the zb it stays in).  Pays down
    append-grown file lists, and is the FIELD-ID ADOPTION path for
    legacy chains: the rewrite materializes current names/types, so a
    missing `schema` is synthesized with fresh ids (the
    mor_cdc_compact rule) — after one compaction, rename/widen work.
    `cluster_col` is only consulted when adopting (id chains resolve
    the cluster column through `cluster_field`)."""
    import shutil
    import uuid

    log = cow_log(table_dir)
    version = log.head()
    m = log.load(version)
    live = _zm_read_version(spark, table_dir, version)
    vnew = version + 1
    # writer-unique staged name + CAS publish (VERDICT r13 ask #6,
    # the mor_cdc_compact rule): one winner per maintenance version
    token = uuid.uuid4().hex[:8]
    vdir = os.path.join(table_dir, f"v{vnew}-{token}")
    (
        live.repartition(F.col("zb"))
        .write.mode("overwrite")
        .partitionBy("zb")
        .parquet(vdir)
    )
    files = {
        z[len("zb="):]: os.path.join(vdir, z)
        for z in os.listdir(vdir)
        if z.startswith("zb=")
    }
    from .timetravel import commit_wallclock_us

    manifest = {
        "files": files,
        "bounds": m["bounds"],
        "version": vnew,
        "compacted_from": version,
        "committed_at_us": commit_wallclock_us(
            m.get("committed_at_us")
        ),
    }

    if m.get("schema") is not None:
        schema = m["schema"]
        manifest["cluster_field"] = m.get("cluster_field")
    else:
        # LEGACY FIELD-ID ADOPTION: fresh ids from the rewritten
        # frame's materialized names/types
        dtypes = {c: t for c, t in live.dtypes if c != "zb"}
        schema = field_ids.fresh_fields(dtypes.items())
        if cluster_col in dtypes:
            manifest["cluster_field"] = next(
                f["id"] for f in schema if f["name"] == cluster_col
            )
    # one commit now holds every row (the mor_cdc_compact reset)
    field_ids.stamp(manifest, m, schema, vnew, reset=True)
    cf = _cluster_col_now(manifest) or (
        cluster_col if cluster_col in dict(live.dtypes) else None
    )
    if cf is not None:
        stats = {
            str(r["zb"]): [r["lo"], r["hi"]]
            for r in live.groupBy("zb")
            .agg(F.min(cf).alias("lo"), F.max(cf).alias("hi"))
            .collect()
        }
        manifest["file_stats"] = {
            p: stats.get(z) for z, p in files.items()
        }

    try:
        log.publish_once(vnew, manifest)
    except CommitConflictError:
        shutil.rmtree(vdir, ignore_errors=True)
        winner = log.load(vnew)
        # EQUIVALENCE, not just same source version (ADVICE r14, the
        # mor_cdc_compact rule): the winner must have produced the
        # same occupied-bucket count AND the same cluster_field — a
        # concurrent legacy-adoption run with a different cluster_col
        # is a different table layout, not an equivalent compaction
        if (
            winner.get("compacted_from") == version
            and len(winner.get("files", {})) == len(files)
            and winner.get("cluster_field")
            == manifest.get("cluster_field")
        ):
            return winner  # an equivalent compaction won the race
        raise
    return manifest


def cow_read_pruned(
    spark: SparkSession, table_dir: str, version: int, lo, hi
) -> tuple[DataFrame | None, int, int]:
    """Manifest-level file skipping on the versioned COW chain: open
    ONLY the files whose recorded cluster-column [min, max] overlaps
    [lo, hi] (the caller applies the residual row predicate).  Stats
    are keyed by FIELD ID through `cluster_field`, so pruning is
    unaffected by renaming the cluster column.  Returns
    (id-projected df or None, files_scanned, files_total)."""
    m = cow_log(table_dir).load(version)
    fs = m.get("file_stats")
    if fs is None:
        raise ValueError(
            f"{table_dir} v{version} records no file_stats; write the "
            "chain with cluster_col= (or cow_compact it) first"
        )
    total = sum(
        len(p) if isinstance(p, list) else 1
        for p in m["files"].values()
    )
    kept: dict[str, list] = {}
    n_kept = 0
    for z, path in m["files"].items():
        for p in path if isinstance(path, list) else [path]:
            st = fs.get(p)
            # a file with NO recorded stats must be SCANNED, never
            # skipped — skipping is only legal when provable (the
            # Iceberg rule; a chain that adopted stats mid-history
            # has stat-less inherited entries)
            if st is None or (st[0] <= hi and st[1] >= lo):
                kept.setdefault(z, []).append(p)
                n_kept += 1
    if not kept:
        return None, 0, total
    return _grouped_manifest_scan(spark, kept, m), n_kept, total


@register(
    "src_cow_rename",
    # The oracle re-derives the whole lifecycle from the raw orders
    # table: the v1 clustered write's per-file stats, the append
    # batch's per-file stats (both sides of the files_scanned count),
    # and the day-slice aggregate over v1+append rows — surfaced under
    # the RENAMED column name with the WIDENED type.
    oracle=f"""
    WITH {_ZM_BASE_CTES},
    {_zm_touched_cte(ZM_LO_DAY, ZM_HI_DAY)},
    batch AS (
        SELECT k + {MRG_APP_KEY} AS k, cents + 2 AS cents, day, zb
        FROM b WHERE k % {MRG_APP_MOD} = 0
    ),
    app_stats AS (
        SELECT zb, MIN(day) AS f_lo, MAX(day) AS f_hi
        FROM batch GROUP BY zb
    ),
    scanned AS (
        SELECT (SELECT COUNT(*) FROM touched)
             + (SELECT COUNT(*) FROM app_stats
                WHERE f_lo <= {ZM_HI_DAY} AND f_hi >= {ZM_LO_DAY})
               AS files_scanned,
               (SELECT COUNT(DISTINCT zb) FROM b)
             + (SELECT COUNT(*) FROM app_stats) AS files_total
    ),
    v2 AS (
        SELECT k, cents, day, zb FROM b
        UNION ALL
        SELECT k, cents, day, zb FROM batch
    )
    SELECT CAST(zb AS BIGINT) AS zb,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_amount,
           CAST(s.files_scanned AS BIGINT) AS files_scanned,
           CAST(s.files_total AS BIGINT) AS files_total
    FROM v2, scanned s
    WHERE day BETWEEN {ZM_LO_DAY} AND {ZM_HI_DAY}
    GROUP BY zb, s.files_scanned, s.files_total
    """,
)
def src_cow_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the COW lane, end to end (the
    `stream_mor_cdc_rename` twin, VERDICT r13 ask #3): v1 clustered
    write with per-file zone-map stats, v2 APPEND (multi-file
    buckets), then a metadata-only RENAME cents->amount and WIDEN
    amount int->bigint — zero data files rewritten — and a PRUNED
    day-slice read at the evolved head.  The read resolves both
    version directories' files by field id (they store 'cents' INT
    forever), surfaces the slice totals under the renamed, widened
    column, and still skips every non-overlapping file — the stats
    key on the cluster column's field id, not its name."""
    table_dir = scratch_dir("cow_evo", sf_dir)
    base = _orders_kcd(spark, sf_dir).withColumn(
        "cents", F.col("cents").cast("int")
    )
    if not cow_log(table_dir).exists(4):
        # rerun-safe (ADVICE r14): a crash between the v3 rename and
        # the v4 widen would otherwise leave partial state whose rerun
        # hits the evolution CAS (CommitConflictError) — scratch is
        # pid-scoped, so partial state is OUR dead attempt: rebuild
        import shutil

        shutil.rmtree(table_dir, ignore_errors=True)
        lo, hi = base.agg(F.min("day"), F.max("day")).collect()[0]
        b1 = range_buckets(base, "day", ZM_FILES).withColumnRenamed(
            "bucket", "zb"
        ).drop("lo", "hi")
        _zm_versioned_write(
            b1, table_dir, 1, [str(z) for z in range(ZM_FILES)],
            None, (lo, hi), cluster_col="day", collect_stats=True,
        )
        batch = base.filter(F.col("k") % MRG_APP_MOD == 0).select(
            (F.col("k") + MRG_APP_KEY).alias("k"),
            (F.col("cents") + 2).cast("int").alias("cents"),
            "day",
        )
        _zm_append(spark, batch, table_dir, 2)
        cow_rename_column(table_dir, "cents", "amount")   # v3
        cow_widen_column(table_dir, "amount", "bigint")   # v4
    df, n_scanned, n_total = cow_read_pruned(
        spark, table_dir, 4, ZM_LO_DAY, ZM_HI_DAY
    )
    if df is None:  # documented no-overlapping-files contract
        return spark.createDataFrame(
            [],
            "zb bigint, n_rows bigint, sum_amount bigint, "
            "files_scanned bigint, files_total bigint",
        )
    return (
        df.filter(F.col("day").between(ZM_LO_DAY, ZM_HI_DAY))
        .groupBy(F.col("zb").cast("bigint").alias("zb"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("amount").cast("bigint").alias("sum_amount"),
        )
        .withColumn(
            "files_scanned", F.lit(int(n_scanned)).cast("bigint")
        )
        .withColumn("files_total", F.lit(int(n_total)).cast("bigint"))
    )


READD_MOD, READD_KEY = 503, 3 * 10**12  # post-re-add append batch


@register(
    "src_cow_readd",
    # The oracle rebuilds the final table state from raw orders alone:
    # v1 rows and the flag-era append both read NULL for `quality`
    # (flag was DROPPED — its stored values must never resurface under
    # the re-added name), and only the post-re-add append carries
    # quality values.  A field-id reuse bug would flip n_quality /
    # sum_quality on the flag-era rows.
    oracle=f"""
    WITH {_ZM_BASE_CTES},
    all_rows AS (
        SELECT k, cents, day, zb, CAST(NULL AS INT) AS quality FROM b
        UNION ALL
        SELECT k + {MRG_APP_KEY}, cents + 1, day, zb,
               CAST(NULL AS INT)
        FROM b WHERE k % {MRG_APP_MOD} = 0
        UNION ALL
        SELECT k + {READD_KEY}, cents + 2, day, zb,
               CAST(k % 83 AS INT)
        FROM b WHERE k % {READD_MOD} = 0
    )
    SELECT CAST(zb AS BIGINT) AS zb,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(COUNT(quality) AS BIGINT) AS n_quality,
           CAST(COALESCE(SUM(quality), 0) AS BIGINT) AS sum_quality
    FROM all_rows GROUP BY zb
    """,
)
def src_cow_readd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop/re-add schema evolution on the COW lane, end to end
    (VERDICT r14's confirmed bug, registered as its own oracle-paired
    lifecycle): v1 clustered write (k, cents, day), ADD `flag` (the
    chain's new MAX field id), an append whose files physically STORE
    flag values, DROP flag, re-add as `quality` — which must mint a
    FRESH id from the persisted `last_field_id` high-water mark, never
    reuse flag's — then a final append carrying real quality values.
    The head read must surface quality = NULL on every flag-era row
    (Iceberg's drop/re-add rule; reference has no lakehouse surface —
    [GAP] build-out) and the stored values only on post-re-add rows."""
    table_dir = scratch_dir("cow_readd", sf_dir)
    base = _orders_kcd(spark, sf_dir)
    if not cow_log(table_dir).exists(6):
        # rerun-safe: a crashed partial lifecycle rebuilds from v1
        # (scratch is pid-scoped; partial state means OUR earlier
        # attempt died mid-chain — evolution commits are CAS-once)
        import shutil

        shutil.rmtree(table_dir, ignore_errors=True)
        lo, hi = base.agg(F.min("day"), F.max("day")).collect()[0]
        b1 = range_buckets(base, "day", ZM_FILES).withColumnRenamed(
            "bucket", "zb"
        ).drop("lo", "hi")
        _zm_versioned_write(
            b1, table_dir, 1, [str(z) for z in range(ZM_FILES)],
            None, (lo, hi), cluster_col="day",
        )
        cow_add_column(table_dir, "flag", "int")          # v2: id 4
        batch1 = base.filter(F.col("k") % MRG_APP_MOD == 0).select(
            (F.col("k") + MRG_APP_KEY).alias("k"),
            (F.col("cents") + 1).alias("cents"),
            "day",
            (F.col("k") % 97).cast("int").alias("flag"),
        )
        _zm_append(spark, batch1, table_dir, 3)  # files store flag
        cow_drop_column(table_dir, "flag")                # v4: max id
        cow_add_column(table_dir, "quality", "int")       # v5: FRESH
        batch2 = base.filter(F.col("k") % READD_MOD == 0).select(
            (F.col("k") + READD_KEY).alias("k"),
            (F.col("cents") + 2).alias("cents"),
            "day",
            (F.col("k") % 83).cast("int").alias("quality"),
        )
        _zm_append(spark, batch2, table_dir, 6)
    return (
        _zm_read_version(spark, table_dir, 6)
        .groupBy(F.col("zb").cast("bigint").alias("zb"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.count("quality").cast("bigint").alias("n_quality"),
            F.coalesce(F.sum("quality"), F.lit(0))
            .cast("bigint")
            .alias("sum_quality"),
        )
    )

