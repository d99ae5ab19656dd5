"""Persisted ANN index: build once as parquet artifacts, probe many.

`sim_pq_adc_recall` (adc.py) proves the ADC search algebra but rebuilds
the codebook and the PQ code table inside the same plan that searches
them.  A production 100 TB vector deployment never does that: the index
build is one expensive corpus pass whose OUTPUT — the codebook
(N_CODES x N_SUB x dims integer rows, KBs) and the code table (one
narrow row per (vector, subspace)) — is committed to storage, and every
later query session loads the artifacts and pays only the search.  This
module adds that missing property on the manifest pattern of
sources/timetravel.py: immutable parquet artifact directories plus a
tiny JSON manifest naming the live version of each artifact, so an
index rebuild is a new version directory + manifest swap that in-flight
readers never observe.

`sim_adc_from_index` runs the full production sequence: commit the
index (build pass), then construct the search — query LUT from fresh
query vectors, ADC shortlist over the PERSISTED code table, exact
integer-L2 rerank on shortlist members only — where the search plan's
only corpus-derived inputs are parquet scans of the committed
artifacts (tests/test_plans.py asserts the plan reads the index store
and never re-derives the codebook from `embeddings`).  All arithmetic
is the integer micro-unit algebra of adc.py, so the DuckDB oracle —
which independently recomputes the whole index from the raw table —
certifies both the build and the search bit-for-bit.

Reference parity: no vector surface in the reference (core is a
single-table ETL, spark_consumer.py:61-78); north-star M4/similarity
extension (SURVEY §2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..manifest_log import ManifestLog
from ..registry import register
from ..sources.scans import scratch_dir
from .adc import (
    N_CODES,
    N_SUB,
    SEED_SPLIT,
    SHORTLIST,
    _codebook,
    _INT_L2,
    _MICRO_ARR,
    _micro_rows,
    pq_assign,
)
from .brute_force import N_QUERIES, TOP_K
from .centroids import MICRO, PQ_SUB_DIMS
from .ivf import K_CELLS


def build_pq_index(emb: DataFrame, table_dir: str, version: int = 1) -> dict:
    """The index BUILD pass: derive the seed codebook and per-vector PQ
    codes from the corpus, commit both as immutable parquet under
    v{version}/, and publish a manifest naming them.  Returns the
    manifest dict."""
    v = _micro_rows(emb)
    cmicro = _codebook(v)
    vdir = os.path.join(table_dir, f"v{version}")
    cb_path = os.path.join(vdir, "codebook")
    codes_path = os.path.join(vdir, "codes")
    cmicro.write.mode("overwrite").parquet(cb_path)
    # the code table is the artifact the corpus-scale search shuffles
    # on; repartition by subspace/code so a probe's broadcast-LUT join
    # streams it without a further exchange at read time.
    pq_assign(v, cmicro).repartition("sub", "code").write.mode(
        "overwrite"
    ).parquet(codes_path)
    manifest = {
        "version": version,
        "codebook": cb_path,
        "codes": codes_path,
        "params": {
            "n_codes": N_CODES,
            "n_sub": N_SUB,
            "sub_dims": PQ_SUB_DIMS,
            "seed_split": SEED_SPLIT,
            "micro": MICRO,
        },
    }
    ManifestLog(table_dir).publish(version, manifest)
    return manifest


def load_pq_index(
    spark: SparkSession, table_dir: str, version: int = 1
) -> tuple[DataFrame, DataFrame]:
    """Load (codebook, codes) from the manifest — parquet scans only;
    nothing is recomputed from the raw corpus."""
    manifest = ManifestLog(table_dir).load(version)
    return (
        spark.read.parquet(manifest["codebook"]),
        spark.read.parquet(manifest["codes"]),
    )


def _query_lut(queries: DataFrame, cmicro: DataFrame) -> DataFrame:
    """Per-query ADC lookup table: squared distance from each query
    subvector to every (sub, code) codebook entry — |queries| × N_SUB ×
    N_CODES integer rows, broadcast-sized."""
    qd = F.col("qi") - F.col("ci")
    return (
        queries.join(F.broadcast(cmicro), "dim")
        .groupBy("query_id", "sub", "code")
        .agg(F.sum(qd * qd).alias("ld"))
    )


def _shortlist_rerank(
    adc: DataFrame, corpus: DataFrame, shortlist: int = SHORTLIST
) -> DataFrame:
    """Stage 2 shared by every ADC search: top-`shortlist` by ADC
    distance, exact integer-L2 rerank against true vectors, top-TOP_K.
    `adc` = (query_id, neighbor_id, adc_dist)."""
    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    short = (
        adc.withColumn("rank", F.row_number().over(w_adc))
        .where(F.col("rank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    m = corpus.selectExpr("vec_id", f"{_MICRO_ARR} AS m")
    qm = (
        corpus.filter(F.col("vec_id") < N_QUERIES)
        .selectExpr("vec_id AS q_id", f"{_MICRO_ARR} AS qm")
    )
    rr = (
        short.join(m, short["neighbor_id"] == m["vec_id"])
        .join(F.broadcast(qm), short["query_id"] == qm["q_id"])
        .selectExpr("query_id", "neighbor_id", f"{_INT_L2} AS dist")
    )
    w_rr = Window.partitionBy("query_id").orderBy(
        F.asc("dist"), F.asc("neighbor_id")
    )
    return (
        rr.withColumn("rank", F.row_number().over(w_rr))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("dist").cast("bigint").alias("dist"),
        )
    )


def adc_search(
    queries: DataFrame, cmicro: DataFrame, codes: DataFrame, corpus: DataFrame
) -> DataFrame:
    """The probe side of the two-stage search, against an ALREADY-BUILT
    index: per-query LUT (broadcast), ADC shortlist over the persisted
    code table, exact integer-L2 rerank on shortlist members.
    `queries` = (query_id, dim, qi) micro rows; `corpus` = the raw
    vector table (rerank reads true vectors, as production does)."""
    lut = _query_lut(queries, cmicro)
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .where(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld").alias("adc_dist"))
    )
    return _shortlist_rerank(adc, corpus)


@register(
    "sim_adc_from_index",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, label,
               unnest(generate_series(1, len(embedding))) AS i,
               embedding AS e
        FROM embeddings
    ),
    v AS (
        SELECT vec_id, label * {SEED_SPLIT} + vec_id % {SEED_SPLIT} AS seed,
               i - 1 AS dim, (i - 1) // {PQ_SUB_DIMS} AS sub,
               CAST(floor(CAST(e[i] AS DOUBLE) * {MICRO}) AS BIGINT) AS vi
        FROM ex
    ),
    cb AS (
        SELECT seed AS code, sub, dim,
               CAST(SUM(vi) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM v GROUP BY seed, sub, dim
    ),
    cmicro AS (
        SELECT code, sub, dim,
               CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS ci
        FROM cb
    ),
    dists AS (
        SELECT v.vec_id, v.sub, c.code,
               SUM((v.vi - c.ci) * (v.vi - c.ci)) AS dist_sq
        FROM v JOIN cmicro c ON v.dim = c.dim
        GROUP BY v.vec_id, v.sub, c.code
    ),
    codes AS (
        SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist_sq ASC, code ASC) AS rk
            FROM dists
        ) WHERE rk = 1
    ),
    q AS (SELECT vec_id AS query_id, dim, vi AS qi
          FROM v WHERE vec_id < {N_QUERIES}),
    lut AS (
        SELECT q.query_id, c.sub, c.code,
               SUM((q.qi - c.ci) * (q.qi - c.ci)) AS ld
        FROM q JOIN cmicro c ON q.dim = c.dim
        GROUP BY q.query_id, c.sub, c.code
    ),
    adc AS (
        SELECT l.query_id, k.vec_id AS neighbor_id,
               SUM(l.ld) AS adc_dist
        FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
        WHERE l.query_id <> k.vec_id
        GROUP BY l.query_id, k.vec_id
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY adc_dist ASC, neighbor_id) AS rank
            FROM adc
        ) WHERE rank <= {SHORTLIST}
    ),
    rr AS (
        SELECT s.query_id, s.neighbor_id,
               SUM((q.qi - v.vi) * (q.qi - v.vi)) AS dist
        FROM short s
        JOIN v ON v.vec_id = s.neighbor_id
        JOIN q ON q.query_id = s.query_id AND q.dim = v.dim
        GROUP BY s.query_id, s.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           CAST(dist AS BIGINT) AS dist
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY dist ASC, neighbor_id) AS rank
        FROM rr
    ) WHERE rank <= {TOP_K}
    """,
)
def sim_adc_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / probe-many: commit the PQ index (codebook + code
    table) as manifest-tracked parquet, then answer the top-{TOP_K}
    searches READING the persisted artifacts — the returned plan scans
    the index store, never the corpus-to-codebook derivation.  The
    oracle recomputes the entire index independently in DuckDB, so the
    persisted artifacts are certified value-for-value too."""
    emb = load_table(spark, sf_dir, "embeddings")
    table_dir = scratch_dir("pq_index", sf_dir)
    build_pq_index(emb, table_dir, version=1)
    cmicro, codes = load_pq_index(spark, table_dir, version=1)
    queries = _micro_rows(emb.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), "dim", "vi"
    ).withColumnRenamed("vi", "qi")
    return adc_search(queries, cmicro, codes, emb)


# --- Composed IVF x PQ: cell-pruned ADC over one persisted index -----------
#
# `sim_topk_ivf` prunes cells but reranks raw vectors; `sim_adc_from_index`
# searches compressed codes but scans ALL of them.  Production ANN
# (FAISS IVFPQ) composes the two: the code table is CLUSTERED BY COARSE
# CELL at build time, a query ranks the K_CELLS centroids, and the ADC
# stage reads only its NPROBE cells' codes — at 100 TB the scan cost is
# nprobe/K of the code table, delivered here as genuine parquet
# PARTITION PRUNING (the codes artifact is written partitionBy(cid), so
# the probe's cid IN (...) filter prunes directories before any I/O).
#
# Everything stays in the integer micro-unit algebra (floor(v*1e6)):
# the coarse metric is exact integer L2 against the first-K_CELLS seed
# centroids (the sim_topk_ivf referee policy), so build, probe, and
# rerank are all bit-exact against the DuckDB oracle, which recomputes
# the entire index — cells, codebook, codes, probes — from the raw
# table.  Recall@TOP_K vs the exact scan is the measured gate
# (tests/test_similarity.py + scripts/scale_probe.py).
#
# IVFPQ tuning: the composition STACKS two approximations — a missed
# cell can never be recovered, and extra cells' codes pollute a
# fixed-size ADC shortlist — so BOTH knobs widen together, the FAISS
# discipline (shortlist scales with the candidate pool).  Measured
# recall@5 vs the exact integer-L2 scan at sf0.001/0.01/0.1:
#   nprobe=2, shortlist=50:  0.92 / 0.92 / 0.60   (cell misses)
#   nprobe=4, shortlist=50:  0.82 / 0.76 / 0.50   (shortlist pollution)
#   nprobe=4, shortlist=200: 0.94 / 0.92 / 0.90   (shipped)
# For calibration, the full-scan ADC parent (sim_adc_from_index,
# shortlist 50 over ALL codes) measures 0.54 / 0.30 at sf0.01/0.1 —
# cell restriction + the wider shortlist IMPROVE recall while reading
# 1/4 of the code table.

IVFPQ_NPROBE = 4
IVFPQ_SHORTLIST = SHORTLIST * IVFPQ_NPROBE


def _cell_centroids(v: DataFrame) -> DataFrame:
    """Coarse-quantizer centroid micro rows: the first K_CELLS vectors
    (deterministic seed policy shared with sim_topk_ivf)."""
    return v.filter(F.col("vec_id") < K_CELLS).select(
        F.col("vec_id").alias("cid"), "dim", F.col("vi").alias("cc")
    )


def _nearest_cells(rows: DataFrame, cent: DataFrame, id_col: str, n: int) -> DataFrame:
    """Rank the K_CELLS centroids by exact integer L2 per `id_col` and
    keep the nearest `n` (ties -> lower cid).  `rows` = (id_col, dim,
    value-col named vi or qi) micro rows."""
    val = "vi" if "vi" in rows.columns else "qi"
    d = F.col(val) - F.col("cc")
    ranked = (
        rows.join(F.broadcast(cent), "dim")
        .groupBy(id_col, "cid")
        .agg(F.sum(d * d).alias("d2"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.asc("d2"), F.asc("cid"))
            ),
        )
    )
    return ranked.where(F.col("rk") <= n).select(id_col, "cid")


def _ivfpq_log(table_dir: str) -> ManifestLog:
    """The IVF-PQ index chain (`ivfpq-manifest-v{N}.json`)."""
    return ManifestLog(table_dir, "ivfpq-manifest-v")


def build_ivf_pq_index(emb: DataFrame, table_dir: str, version: int = 1) -> dict:
    """One corpus pass commits the composed index: coarse centroids
    (K_CELLS x dims micro rows), PQ codebook, and the code table WITH
    its cell assignment, written partitionBy(cid) so later probes prune
    whole cell directories.  Returns the manifest dict."""
    v = _micro_rows(emb)
    cent = _cell_centroids(v)
    assign = _nearest_cells(v, cent, "vec_id", 1)
    cmicro = _codebook(v)
    vdir = os.path.join(table_dir, f"v{version}")
    cent_path = os.path.join(vdir, "centroids")
    cb_path = os.path.join(vdir, "codebook")
    codes_path = os.path.join(vdir, "codes")
    cent.write.mode("overwrite").parquet(cent_path)
    cmicro.write.mode("overwrite").parquet(cb_path)
    (
        pq_assign(v, cmicro)
        .join(assign, "vec_id")
        .repartition(F.col("cid"))
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(codes_path)
    )
    manifest = {
        "version": version,
        "centroids": cent_path,
        "codebook": cb_path,
        "codes": codes_path,
        "params": {
            "k_cells": K_CELLS,
            "nprobe": IVFPQ_NPROBE,
            "n_codes": N_CODES,
            "n_sub": N_SUB,
            "sub_dims": PQ_SUB_DIMS,
            "seed_split": SEED_SPLIT,
            "micro": MICRO,
        },
    }
    _ivfpq_log(table_dir).publish(version, manifest)
    return manifest


def load_ivf_pq_index(
    spark: SparkSession, table_dir: str, version: int = 1
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(centroids, codebook, codes) from the manifest — parquet scans
    only; nothing is recomputed from the raw corpus."""
    manifest = _ivfpq_log(table_dir).load(version)
    return (
        spark.read.parquet(manifest["centroids"]),
        spark.read.parquet(manifest["codebook"]),
        spark.read.parquet(manifest["codes"]),
    )


def ivf_adc_search(
    queries: DataFrame,
    cent: DataFrame,
    cmicro: DataFrame,
    codes: DataFrame,
    corpus: DataFrame,
) -> DataFrame:
    """Cell-pruned ADC probe against an already-built IVFPQ index:
    rank centroids per query, keep NPROBE cells, restrict the ADC join
    to those cells' codes (a static cid IN (...) filter the parquet
    source turns into partition pruning), then the shared shortlist +
    exact rerank."""
    probe = _nearest_cells(queries, cent, "query_id", IVFPQ_NPROBE)
    # The probed cell set is planner metadata: <= N_QUERIES * NPROBE
    # ids, collected once to drive STATIC partition pruning of the
    # codes artifact (the 100 TB win — unprobed cell directories are
    # never listed, let alone read).  The collected rows are ALSO the
    # whole (query_id, cid) probe table, so the ADC join broadcasts a
    # local relation rebuilt from them instead of re-executing the
    # centroid-ranking subtree a second time for the broadcast build
    # (one window over N_QUERIES x K_CELLS rows saved per search).
    probe_rows = probe.collect()
    probed = sorted({r["cid"] for r in probe_rows})
    probe_local = queries.sparkSession.createDataFrame(
        [(int(r["query_id"]), int(r["cid"])) for r in probe_rows],
        "query_id bigint, cid bigint",
    )
    lut = _query_lut(queries, cmicro)
    adc = (
        codes.where(F.col("cid").isin([int(c) for c in probed]))
        .join(F.broadcast(probe_local), "cid")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .where(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld").alias("adc_dist"))
    )
    return _shortlist_rerank(adc, corpus, IVFPQ_SHORTLIST)


@register(
    "sim_ivf_adc_from_index",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, label,
               unnest(generate_series(1, len(embedding))) AS i,
               embedding AS e
        FROM embeddings
    ),
    v AS (
        SELECT vec_id, label * {SEED_SPLIT} + vec_id % {SEED_SPLIT} AS seed,
               i - 1 AS dim, (i - 1) // {PQ_SUB_DIMS} AS sub,
               CAST(floor(CAST(e[i] AS DOUBLE) * {MICRO}) AS BIGINT) AS vi
        FROM ex
    ),
    cent AS (
        SELECT vec_id AS cid, dim, vi AS cc FROM v WHERE vec_id < {K_CELLS}
    ),
    celld AS (
        SELECT v.vec_id, c.cid, SUM((v.vi - c.cc) * (v.vi - c.cc)) AS d2
        FROM v JOIN cent c ON v.dim = c.dim
        GROUP BY v.vec_id, c.cid
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY d2 ASC, cid ASC) AS rk
            FROM celld
        ) WHERE rk = 1
    ),
    cb AS (
        SELECT seed AS code, sub, dim,
               CAST(SUM(vi) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM v GROUP BY seed, sub, dim
    ),
    cmicro AS (
        SELECT code, sub, dim,
               CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS ci
        FROM cb
    ),
    dists AS (
        SELECT v.vec_id, v.sub, c.code,
               SUM((v.vi - c.ci) * (v.vi - c.ci)) AS dist_sq
        FROM v JOIN cmicro c ON v.dim = c.dim
        GROUP BY v.vec_id, v.sub, c.code
    ),
    codes AS (
        SELECT k.vec_id, k.sub, k.code, a.cid FROM (
            SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist_sq ASC, code ASC) AS rk
            FROM dists
        ) k JOIN assign a ON a.vec_id = k.vec_id
        WHERE k.rk = 1
    ),
    q AS (SELECT vec_id AS query_id, dim, vi AS qi
          FROM v WHERE vec_id < {N_QUERIES}),
    qcelld AS (
        SELECT q.query_id, c.cid, SUM((q.qi - c.cc) * (q.qi - c.cc)) AS d2
        FROM q JOIN cent c ON q.dim = c.dim
        GROUP BY q.query_id, c.cid
    ),
    probe AS (
        SELECT query_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY d2 ASC, cid ASC) AS rk
            FROM qcelld
        ) WHERE rk <= {IVFPQ_NPROBE}
    ),
    lut AS (
        SELECT q.query_id, c.sub, c.code,
               SUM((q.qi - c.ci) * (q.qi - c.ci)) AS ld
        FROM q JOIN cmicro c ON q.dim = c.dim
        GROUP BY q.query_id, c.sub, c.code
    ),
    adc AS (
        SELECT l.query_id, k.vec_id AS neighbor_id,
               SUM(l.ld) AS adc_dist
        FROM codes k
        JOIN probe p ON p.cid = k.cid
        JOIN lut l ON l.query_id = p.query_id
                  AND l.sub = k.sub AND l.code = k.code
        WHERE l.query_id <> k.vec_id
        GROUP BY l.query_id, k.vec_id
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY adc_dist ASC, neighbor_id) AS rank
            FROM adc
        ) WHERE rank <= {IVFPQ_SHORTLIST}
    ),
    rr AS (
        SELECT s.query_id, s.neighbor_id,
               SUM((q.qi - v.vi) * (q.qi - v.vi)) AS dist
        FROM short s
        JOIN v ON v.vec_id = s.neighbor_id
        JOIN q ON q.query_id = s.query_id AND q.dim = v.dim
        GROUP BY s.query_id, s.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           CAST(dist AS BIGINT) AS dist
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY dist ASC, neighbor_id) AS rank
        FROM rr
    ) WHERE rank <= {TOP_K}
    """,
)
def sim_ivf_adc_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-IVFPQ-shaped search from one persisted index: commit
    centroids + codebook + cell-partitioned code table, then answer the
    top-{TOP_K} searches scanning ONLY the {IVFPQ_NPROBE}/{K_CELLS} probed
    cells' codes (static partition pruning, plan-asserted) and never
    re-deriving any artifact from the corpus.  The oracle rebuilds the
    whole index independently in DuckDB, so cell assignment, code
    assignment, pruning, and rerank are all hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    table_dir = scratch_dir("ivfpq_index", sf_dir)
    build_ivf_pq_index(emb, table_dir, version=1)
    cent, cmicro, codes = load_ivf_pq_index(spark, table_dir, version=1)
    queries = _micro_rows(emb.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), "dim", F.col("vi").alias("qi")
    )
    return ivf_adc_search(queries, cent, cmicro, codes, emb)


# --- Incremental index maintenance: APPEND under frozen artifacts ----------
#
# Production ANN corpora GROW; rebuilding an index per arrival batch is
# the O(corpus)-per-batch anti-pattern the storage layer's append
# commit (sources/zonemap.py _zm_append) already rejects for tables.
# The same commit discipline applies here: new vectors are assigned to
# cells by the FROZEN v1 centroids and encoded by the FROZEN v1
# codebook (never retrained — exactly how FAISS add() behaves after
# train()), written as NEW cid-partitioned files only, and the v2
# manifest's code table is the LIST [v1 codes, v2 codes] with
# centroids/codebook inherited by pointer.  Append cost is O(batch);
# searches against v2 see old and new vectors through one unioned,
# still-cell-pruned scan.  Quantization drift (a grown corpus would
# train different artifacts) is the documented trade — the audit
# measures search quality against the exact truth over the FULL
# corpus, so drift shows up as recall, not as silent wrongness.
APP_MOD, APP_REM = 10, 7
# seeds (vec_id < K_CELLS) must stay in the corpus side so the frozen
# artifacts are derivable by the oracle from the corpus subset alone
BATCH_PRED = f"(vec_id >= {K_CELLS} AND vec_id % {APP_MOD} = {APP_REM})"


def append_ivf_pq(
    spark: SparkSession, batch: DataFrame, table_dir: str, version: int = 2
) -> dict:
    """APPEND commit on a built IVF-PQ index: frozen-artifact cell
    assignment + PQ encoding of `batch`, new files only."""
    prev = _ivfpq_log(table_dir).load(version - 1)
    cent = spark.read.parquet(prev["centroids"])
    cmicro = spark.read.parquet(prev["codebook"])
    vb = _micro_rows(batch)
    assign = _nearest_cells(vb, cent, "vec_id", 1)
    codes_path = os.path.join(table_dir, f"v{version}", "codes")
    (
        pq_assign(vb, cmicro)
        .join(assign, "vec_id")
        .repartition(F.col("cid"))
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(codes_path)
    )
    prev_codes = prev["codes"]
    manifest = {
        "version": version,
        "centroids": prev["centroids"],
        "codebook": prev["codebook"],
        "codes": (
            prev_codes if isinstance(prev_codes, list) else [prev_codes]
        )
        + [codes_path],
        "params": prev["params"],
    }
    _ivfpq_log(table_dir).publish(version, manifest)
    return manifest


def _append_oracle() -> str:
    """The sim_ivf_adc_from_index oracle with ONE change: centroids and
    codebook derive from the CORPUS subset (batch rows excluded), while
    assignments/codes/queries cover ALL rows — the frozen-artifact
    append semantics, recomputed independently."""
    return f"""
    WITH ex AS (
        SELECT vec_id, label,
               unnest(generate_series(1, len(embedding))) AS i,
               embedding AS e
        FROM embeddings
    ),
    v AS (
        SELECT vec_id, label * {SEED_SPLIT} + vec_id % {SEED_SPLIT} AS seed,
               i - 1 AS dim, (i - 1) // {PQ_SUB_DIMS} AS sub,
               CAST(floor(CAST(e[i] AS DOUBLE) * {MICRO}) AS BIGINT) AS vi
        FROM ex
    ),
    vbase AS (SELECT * FROM v WHERE NOT {BATCH_PRED}),
    nb AS (
        SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_appended
        FROM v WHERE {BATCH_PRED}
    ),
    cent AS (
        SELECT vec_id AS cid, dim, vi AS cc FROM vbase
        WHERE vec_id < {K_CELLS}
    ),
    celld AS (
        SELECT v.vec_id, c.cid, SUM((v.vi - c.cc) * (v.vi - c.cc)) AS d2
        FROM v JOIN cent c ON v.dim = c.dim
        GROUP BY v.vec_id, c.cid
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY d2 ASC, cid ASC) AS rk
            FROM celld
        ) WHERE rk = 1
    ),
    cb AS (
        SELECT seed AS code, sub, dim,
               CAST(SUM(vi) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM vbase GROUP BY seed, sub, dim
    ),
    cmicro AS (
        SELECT code, sub, dim,
               CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS ci
        FROM cb
    ),
    dists AS (
        SELECT v.vec_id, v.sub, c.code,
               SUM((v.vi - c.ci) * (v.vi - c.ci)) AS dist_sq
        FROM v JOIN cmicro c ON v.dim = c.dim
        GROUP BY v.vec_id, v.sub, c.code
    ),
    codes AS (
        SELECT k.vec_id, k.sub, k.code, a.cid FROM (
            SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist_sq ASC, code ASC) AS rk
            FROM dists
        ) k JOIN assign a ON a.vec_id = k.vec_id
        WHERE k.rk = 1
    ),
    q AS (SELECT vec_id AS query_id, dim, vi AS qi
          FROM v WHERE vec_id < {N_QUERIES}),
    qcelld AS (
        SELECT q.query_id, c.cid, SUM((q.qi - c.cc) * (q.qi - c.cc)) AS d2
        FROM q JOIN cent c ON q.dim = c.dim
        GROUP BY q.query_id, c.cid
    ),
    probe AS (
        SELECT query_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY d2 ASC, cid ASC) AS rk
            FROM qcelld
        ) WHERE rk <= {IVFPQ_NPROBE}
    ),
    lut AS (
        SELECT q.query_id, c.sub, c.code,
               SUM((q.qi - c.ci) * (q.qi - c.ci)) AS ld
        FROM q JOIN cmicro c ON q.dim = c.dim
        GROUP BY q.query_id, c.sub, c.code
    ),
    adc AS (
        SELECT l.query_id, k.vec_id AS neighbor_id,
               SUM(l.ld) AS adc_dist
        FROM codes k
        JOIN probe p ON p.cid = k.cid
        JOIN lut l ON l.query_id = p.query_id
                  AND l.sub = k.sub AND l.code = k.code
        WHERE l.query_id <> k.vec_id
        GROUP BY l.query_id, k.vec_id
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY adc_dist ASC, neighbor_id) AS rank
            FROM adc
        ) WHERE rank <= {IVFPQ_SHORTLIST}
    ),
    rr AS (
        SELECT s.query_id, s.neighbor_id,
               SUM((q.qi - v.vi) * (q.qi - v.vi)) AS dist
        FROM short s
        JOIN v ON v.vec_id = s.neighbor_id
        JOIN q ON q.query_id = s.query_id AND q.dim = v.dim
        GROUP BY s.query_id, s.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           CAST(dist AS BIGINT) AS dist, nb.n_appended
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY dist ASC, neighbor_id) AS rank
        FROM rr
    ), nb WHERE rank <= {TOP_K}
    """


@register("sim_index_append", oracle=_append_oracle())
def sim_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN maintenance end-to-end: build v1 from the
    corpus subset, APPEND the arrival batch under frozen artifacts
    (new cid-partitioned files only, manifest inheritance — see
    append_ivf_pq), then search v2 over the unioned code scans.  The
    oracle recomputes frozen-artifact semantics independently, so a
    retrained codebook, a re-assigned old vector, or a dropped batch
    member all break the hash; n_appended ships as evidence."""
    emb = load_table(spark, sf_dir, "embeddings")
    table_dir = scratch_dir("ivfpq_append", sf_dir)
    corpus = emb.filter(~F.expr(BATCH_PRED))
    batch = emb.filter(F.expr(BATCH_PRED))
    if not _ivfpq_log(table_dir).exists(1):
        build_ivf_pq_index(corpus, table_dir, version=1)
    if not _ivfpq_log(table_dir).exists(2):
        m2 = append_ivf_pq(spark, batch, table_dir, version=2)
    else:
        m2 = _ivfpq_log(table_dir).load(2)
    cent = spark.read.parquet(m2["centroids"])
    cmicro = spark.read.parquet(m2["codebook"])
    codes = None
    for p in m2["codes"]:
        scan = spark.read.option("basePath", p).parquet(p)
        codes = scan if codes is None else codes.unionByName(scan)
    n_app = batch.count()
    queries = _micro_rows(emb.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), "dim", F.col("vi").alias("qi")
    )
    return ivf_adc_search(queries, cent, cmicro, codes, emb).withColumn(
        "n_appended", F.lit(n_app).cast("bigint")
    )


# --- Index REBUILD as a version swap (reader isolation) ---------------------
#
# `sim_index_append` grows the index under FROZEN artifacts; its
# documented trade is quantization drift — enough appends and the
# subset-trained centroids/codebook no longer fit the corpus.  The
# production remedy is a RETRAIN, and the commit discipline is the
# same as every other artifact here: the rebuild is one corpus pass
# writing a brand-new version directory (centroids + codebook + codes
# retrained over the FULL corpus), published by a manifest swap that
# in-flight readers of the old version never observe — their manifest
# names immutable paths the rebuild never touches (FAISS re-train +
# atomic index flip, on parquet).  tests/test_plans.py pins the
# isolation: the drifted probe replays byte-identically after the
# swap.


def _rebuild_chain(p: str, train_src: str) -> str:
    """One full IVFPQ probe chain with CTE names prefixed `p`;
    `train_src` is the training relation (`v` = full-corpus retrain,
    `vbase` = the frozen subset-trained artifacts the drifted index
    carries).  Codes/queries always cover ALL rows."""
    return f"""{p}cent AS (
        SELECT vec_id AS cid, dim, vi AS cc FROM {train_src}
        WHERE vec_id < {K_CELLS}
    ),
    {p}celld AS (
        SELECT v.vec_id, c.cid, SUM((v.vi - c.cc) * (v.vi - c.cc)) AS d2
        FROM v JOIN {p}cent c ON v.dim = c.dim
        GROUP BY v.vec_id, c.cid
    ),
    {p}assign AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY d2 ASC, cid ASC) AS rk
            FROM {p}celld
        ) WHERE rk = 1
    ),
    {p}cb AS (
        SELECT seed AS code, sub, dim,
               CAST(SUM(vi) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM {train_src} GROUP BY seed, sub, dim
    ),
    {p}cmicro AS (
        SELECT code, sub, dim,
               CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS ci
        FROM {p}cb
    ),
    {p}dists AS (
        SELECT v.vec_id, v.sub, c.code,
               SUM((v.vi - c.ci) * (v.vi - c.ci)) AS dist_sq
        FROM v JOIN {p}cmicro c ON v.dim = c.dim
        GROUP BY v.vec_id, v.sub, c.code
    ),
    {p}codes AS (
        SELECT k.vec_id, k.sub, k.code, a.cid FROM (
            SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist_sq ASC, code ASC) AS rk
            FROM {p}dists
        ) k JOIN {p}assign a ON a.vec_id = k.vec_id
        WHERE k.rk = 1
    ),
    {p}qcelld AS (
        SELECT q.query_id, c.cid, SUM((q.qi - c.cc) * (q.qi - c.cc)) AS d2
        FROM q JOIN {p}cent c ON q.dim = c.dim
        GROUP BY q.query_id, c.cid
    ),
    {p}probe AS (
        SELECT query_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY d2 ASC, cid ASC) AS rk
            FROM {p}qcelld
        ) WHERE rk <= {IVFPQ_NPROBE}
    ),
    {p}lut AS (
        SELECT q.query_id, c.sub, c.code,
               SUM((q.qi - c.ci) * (q.qi - c.ci)) AS ld
        FROM q JOIN {p}cmicro c ON q.dim = c.dim
        GROUP BY q.query_id, c.sub, c.code
    ),
    {p}adc AS (
        SELECT l.query_id, k.vec_id AS neighbor_id,
               SUM(l.ld) AS adc_dist
        FROM {p}codes k
        JOIN {p}probe pr ON pr.cid = k.cid
        JOIN {p}lut l ON l.query_id = pr.query_id
                     AND l.sub = k.sub AND l.code = k.code
        WHERE l.query_id <> k.vec_id
        GROUP BY l.query_id, k.vec_id
    ),
    {p}short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY adc_dist ASC, neighbor_id) AS rank
            FROM {p}adc
        ) WHERE rank <= {IVFPQ_SHORTLIST}
    ),
    {p}rr AS (
        SELECT s.query_id, s.neighbor_id,
               SUM((q.qi - v.vi) * (q.qi - v.vi)) AS dist
        FROM {p}short s
        JOIN v ON v.vec_id = s.neighbor_id
        JOIN q ON q.query_id = s.query_id AND q.dim = v.dim
        GROUP BY s.query_id, s.neighbor_id
    ),
    {p}res AS (
        SELECT query_id, neighbor_id, rank, dist FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY dist ASC, neighbor_id) AS rank
            FROM {p}rr
        ) WHERE rank <= {TOP_K}
    )"""


def _rebuild_oracle() -> str:
    """Both probe chains — drifted (subset-trained artifacts) and
    rebuilt (full-corpus retrain) — recomputed independently; the
    output is the rebuilt top-k with a per-row flag marking where the
    retrain changed the answer."""
    return f"""
    WITH ex AS (
        SELECT vec_id, label,
               unnest(generate_series(1, len(embedding))) AS i,
               embedding AS e
        FROM embeddings
    ),
    v AS (
        SELECT vec_id, label * {SEED_SPLIT} + vec_id % {SEED_SPLIT} AS seed,
               i - 1 AS dim, (i - 1) // {PQ_SUB_DIMS} AS sub,
               CAST(floor(CAST(e[i] AS DOUBLE) * {MICRO}) AS BIGINT) AS vi
        FROM ex
    ),
    vbase AS (SELECT * FROM v WHERE NOT {BATCH_PRED}),
    q AS (SELECT vec_id AS query_id, dim, vi AS qi
          FROM v WHERE vec_id < {N_QUERIES}),
    {_rebuild_chain("d_", "vbase")},
    {_rebuild_chain("r_", "v")}
    SELECT r.query_id, r.neighbor_id,
           CAST(r.rank AS INTEGER) AS rank,
           CAST(r.dist AS BIGINT) AS dist,
           (r.neighbor_id <> d.neighbor_id) AS changed
    FROM r_res r JOIN d_res d USING (query_id, rank)
    """


@register("sim_index_rebuild_swap", oracle=_rebuild_oracle())
def sim_index_rebuild_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift remediation end-to-end: v1 trains on the corpus subset,
    v2 appends the arrival batch under frozen artifacts (the
    `sim_index_append` lifecycle), then the REBUILD retrains every
    artifact over the full corpus and publishes it as version 3 — new
    directories, manifest swap, v2's files untouched (reader
    isolation pinned in tests/test_plans.py).  The output is the
    rebuilt probe's top-k with a `changed` flag against the drifted
    probe at the same rank; the oracle recomputes BOTH index states
    independently, so the hash certifies the retrain semantics, the
    swap's completeness (a stale centroid or code file surviving into
    v3 breaks it), and exactly where drift had degraded the
    answers."""
    emb = load_table(spark, sf_dir, "embeddings")
    table_dir = scratch_dir("ivfpq_rebuild", sf_dir)
    corpus = emb.filter(~F.expr(BATCH_PRED))
    batch = emb.filter(F.expr(BATCH_PRED))
    if not _ivfpq_log(table_dir).exists(1):
        build_ivf_pq_index(corpus, table_dir, version=1)
    if not _ivfpq_log(table_dir).exists(2):
        append_ivf_pq(spark, batch, table_dir, version=2)
    if not _ivfpq_log(table_dir).exists(3):
        build_ivf_pq_index(emb, table_dir, version=3)
    queries = _micro_rows(emb.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), "dim", F.col("vi").alias("qi")
    )
    m2 = _ivfpq_log(table_dir).load(2)
    cent2 = spark.read.parquet(m2["centroids"])
    cb2 = spark.read.parquet(m2["codebook"])
    codes2 = None
    for pth in m2["codes"]:
        scan = spark.read.option("basePath", pth).parquet(pth)
        codes2 = scan if codes2 is None else codes2.unionByName(scan)
    drifted = ivf_adc_search(queries, cent2, cb2, codes2, emb).select(
        "query_id", "rank", F.col("neighbor_id").alias("old_neighbor")
    )
    cent3, cb3, codes3 = load_ivf_pq_index(spark, table_dir, version=3)
    rebuilt = ivf_adc_search(queries, cent3, cb3, codes3, emb)
    return (
        rebuilt.join(drifted, ["query_id", "rank"])
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            "dist",
            (F.col("neighbor_id") != F.col("old_neighbor")).alias(
                "changed"
            ),
        )
    )
