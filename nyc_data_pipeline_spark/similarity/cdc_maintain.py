"""ANN index maintenance driven by the MOR CDC change feed.

This composes the build's two flagship lanes the same way
`ivm_stream_join_view` did for joined views (VERDICT r11 ask #4): the
embeddings corpus lives as a MOR CDC table (streaming/mor_cdc.py —
per-epoch DV+append commits, row-level change feeds), and the
persisted IVF-PQ index (index_store.py — build-once artifacts,
O(batch) append, retrain-as-version-swap) is advanced from those
feeds instead of being rebuilt per batch:

  per table commit M, consumed as ONE maintenance step:
    inserts/updates -> the post-image vectors are encoded under the
        FROZEN artifacts (cell assignment by the committed centroids,
        PQ codes by the committed codebook — FAISS add()-after-train()
        semantics) and appended as NEW cid-partitioned files only;
    deletes/updates -> one TOMBSTONE row per changed key, stamped
        with the index commit, shadowing every OLDER code entry for
        that key at probe time (the MOR delete-vector rule applied to
        the index itself: a code row survives iff no tombstone with a
        LATER index commit names its key — an update's re-encoded
        entry survives its own tombstone because equal commits
        survive);
    swap -> when the accumulated tombstone fraction crosses
        `TOMB_SWAP_FRACTION`, the step RETRAINS from the table's
        current state instead (one corpus pass, fresh artifacts,
        tombstones cleared) — the index_store rebuild-swap, triggered
        by maintenance debt exactly as compaction bounds DV debt on
        the table side.

Maintenance cost per commit is O(changes): the feed is O(churned
buckets + changes), the encode touches only post-image rows, the
tombstone write only changed keys; the corpus is never rescanned
until the swap.  The probe reads the manifest-listed code files
(bounded by commits-since-swap), broadcasts the tombstone shadow
(O(churn), bounded by the swap threshold), and keeps the static
cell pruning of `ivf_adc_search`.  Retention composes: a maintenance
step whose feed commit was vacuumed raises the lane's named
`ChangeFeedRetentionError` (tests/test_llm_ops.py).

Reference parity: no vector surface in the reference (core is a
single-table ETL, spark_consumer.py:61-78); north-star M4/similarity
extension (SURVEY §2) composed with the CDC lane.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..manifest_log import ManifestLog
from ..registry import register
from ..sources.scans import scratch_dir
from ..streaming.mor_cdc import ChangeFeedRetentionError, main_log
from .adc import N_CODES, N_SUB, SEED_SPLIT, _codebook, _micro_rows, pq_assign
from .brute_force import N_QUERIES, TOP_K
from .centroids import MICRO, PQ_SUB_DIMS
from .index_store import (
    IVFPQ_NPROBE,
    IVFPQ_SHORTLIST,
    _cell_centroids,
    _nearest_cells,
    ivf_adc_search,
)
from .ivf import K_CELLS

# Change-wave algebra (oracle-recomputable; seeds vec_id < K_CELLS and
# the query ids vec_id < N_QUERIES are never churned, so the frozen
# artifacts stay derivable from the base table and the query set is
# stable across the wave):
CDC_MOD = 13
CDC_DEL_REM = 3   # vec_id >= K_CELLS, vec_id % CDC_MOD = 3 -> deleted
CDC_UPD_REM = 5   # vec_id >= K_CELLS, vec_id % CDC_MOD = 5 -> reversed
CDC_INS_REM = 7   # vec_id % CDC_MOD = 7 -> new id + reversed vector
CDC_INS_SHIFT = 1_000_000
TOMB_SWAP_FRACTION = 0.2


def _emb_cdc_wave(emb: DataFrame) -> DataFrame:
    """The embeddings change wave as CDC rows (op/version columns):
    re-embeds (array reversed — exact in both engines, no float
    arithmetic), takedowns, and new arrivals."""
    upd = (
        emb.filter(
            (F.col("vec_id") >= K_CELLS)
            & (F.col("vec_id") % CDC_MOD == CDC_UPD_REM)
        )
        .withColumn("embedding", F.reverse("embedding"))
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("u"))
    )
    dele = (
        emb.filter(
            (F.col("vec_id") >= K_CELLS)
            & (F.col("vec_id") % CDC_MOD == CDC_DEL_REM)
        )
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("d"))
    )
    ins = (
        emb.filter(F.col("vec_id") % CDC_MOD == CDC_INS_REM)
        .select(
            (F.col("vec_id") + CDC_INS_SHIFT).alias("vec_id"),
            F.reverse("embedding").alias("embedding"),
            "label",
        )
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("u"))
    )
    return upd.unionByName(dele).unionByName(ins)


def cdcidx_log(index_dir: str) -> ManifestLog:
    """The index's version chain (`cdcidx-manifest-v{N}.json`)."""
    return ManifestLog(
        index_dir, "cdcidx-manifest-v", ChangeFeedRetentionError
    )


def build_cdc_index(
    spark: SparkSession, corpus: DataFrame, index_dir: str,
    version: int = 1, table_commit: int = 1,
) -> dict:
    """Full (re)train over `corpus`: the build_ivf_pq_index pass with
    the CDC-maintenance manifest shape — codes as a [{path, v}] list,
    a tombstone list (empty: a fresh train has no shadow debt), the
    table-commit CURSOR this index reflects, and the live-row count
    the swap threshold is measured against."""
    v = _micro_rows(corpus)
    cent = _cell_centroids(v)
    assign = _nearest_cells(v, cent, "vec_id", 1)
    cmicro = _codebook(v)
    vdir = os.path.join(index_dir, f"v{version}")
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
        "codes": [{"path": codes_path, "v": version}],
        "tombstones": [],
        "table_commit": table_commit,
        "n_rows": corpus.count(),
        "n_tombstoned": 0,
        "n_appended": 0,
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
    cdcidx_log(index_dir).publish(version, manifest)
    return manifest


def maintain_ivf_pq_from_feed(
    spark: SparkSession, emb_dir: str, index_dir: str,
    swap_fraction: float = TOMB_SWAP_FRACTION,
) -> dict:
    """ONE maintenance step: consume the embeddings CDC table's change
    feed for the commit after the index cursor and advance the index
    by O(changes) — or retrain from the current table state when the
    accumulated tombstone fraction crosses `swap_fraction` (module
    doc).  A vacuumed feed raises `ChangeFeedRetentionError` (the
    retention contract composes through).  Call in a loop to catch up
    multiple pending commits."""
    from ..streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_read,
    )

    prev = cdcidx_log(index_dir).load()
    table_commit = int(prev["table_commit"]) + 1
    vnew = int(prev["version"]) + 1
    feed = mor_cdc_change_feed(spark, emb_dir, table_commit)
    feed_counts = {
        r["change"]: r["n"]
        for r in feed.groupBy("change").agg(
            F.count("*").alias("n")
        ).collect()
    }
    n_ins = feed_counts.get("insert", 0)
    n_upd = feed_counts.get("update", 0)
    n_del = feed_counts.get("delete", 0)
    n_tomb = int(prev.get("n_tombstoned", 0)) + n_upd + n_del
    n_rows = int(prev["n_rows"]) + n_ins - n_del
    if n_rows > 0 and n_tomb / n_rows >= swap_fraction:
        # maintenance debt crossed the threshold: retrain-as-swap from
        # the table's CURRENT state — one corpus pass, fresh
        # artifacts, shadow debt cleared (the compaction analog)
        cur = mor_cdc_read(spark, emb_dir, table_commit).select(
            "vec_id", "embedding", "label"
        )
        m = build_cdc_index(
            spark, cur, index_dir, version=vnew,
            table_commit=table_commit,
        )
        m["swapped"] = True
        cdcidx_log(index_dir).publish(vnew, m)
        return m
    cent = spark.read.parquet(prev["centroids"])
    cmicro = spark.read.parquet(prev["codebook"])
    vdir = os.path.join(index_dir, f"v{vnew}")
    codes = list(prev["codes"])
    if n_ins + n_upd > 0:
        post = feed.filter(F.col("change") != "delete").select(
            "vec_id",
            F.col("post_embedding").alias("embedding"),
            F.col("post_label").alias("label"),
        )
        vb = _micro_rows(post)
        assign = _nearest_cells(vb, cent, "vec_id", 1)
        codes_path = os.path.join(vdir, "codes")
        (
            pq_assign(vb, cmicro)
            .join(assign, "vec_id")
            .repartition(F.col("cid"))
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(codes_path)
        )
        codes.append({"path": codes_path, "v": vnew})
    tombstones = list(prev["tombstones"])
    if n_upd + n_del > 0:
        tomb_path = os.path.join(vdir, "tombstones")
        (
            feed.filter(F.col("change") != "insert")
            .select("vec_id")
            .write.mode("overwrite")
            .parquet(tomb_path)
        )
        tombstones.append({"path": tomb_path, "v": vnew})
    manifest = {
        "version": vnew,
        "centroids": prev["centroids"],
        "codebook": prev["codebook"],
        "codes": codes,
        "tombstones": tombstones,
        "table_commit": table_commit,
        "n_rows": n_rows,
        "n_tombstoned": n_tomb,
        "n_appended": n_ins + n_upd,
        "params": prev["params"],
    }
    cdcidx_log(index_dir).publish(vnew, manifest)
    return manifest


def cdc_index_search(
    spark: SparkSession, index_dir: str, queries: DataFrame,
    corpus: DataFrame, version: int | None = None,
) -> DataFrame:
    """Probe the maintained index: manifest-listed code scans (one per
    commit since the last swap), tombstone shadow applied BEFORE the
    ADC join (a code row survives iff no strictly-later tombstone
    names its key — broadcast, O(churn) keys by the swap bound), then
    the standard cell-pruned ADC search.  `corpus` is the table's
    CURRENT state — the exact rerank reads live vectors, as
    production does."""
    m = cdcidx_log(index_dir).load(version)
    cent = spark.read.parquet(m["centroids"])
    cmicro = spark.read.parquet(m["codebook"])
    codes = None
    for e in m["codes"]:
        scan = (
            spark.read.option("basePath", e["path"])
            .parquet(e["path"])
            .withColumn("_ic", F.lit(int(e["v"])))
        )
        codes = scan if codes is None else codes.unionByName(scan)
    if m["tombstones"]:
        tomb = None
        for e in m["tombstones"]:
            scan = spark.read.parquet(e["path"]).withColumn(
                "_tv", F.lit(int(e["v"]))
            )
            tomb = scan if tomb is None else tomb.unionByName(scan)
        shadow = tomb.groupBy("vec_id").agg(F.max("_tv").alias("_tv"))
        codes = (
            codes.join(F.broadcast(shadow), "vec_id", "left")
            .filter(F.col("_tv").isNull() | (F.col("_ic") >= F.col("_tv")))
            .drop("_tv")
        )
    return ivf_adc_search(queries, cent, cmicro, codes.drop("_ic"), corpus)


def _cdc_maintain_oracle() -> str:
    """Independent DuckDB recompute over the CURRENT table state with
    BASE-frozen artifacts: the change algebra applied to the raw
    table, centroids/codebook derived from the base state (they were
    trained at index v1 and the incremental step never retrains),
    every current-state row encoded under them (a deterministic
    re-encode of an unchanged row equals its stored v1 code, and the
    tombstone rule leaves exactly one live entry per current key), and
    the identical probe/shortlist/rerank.  Plus the wave arithmetic as
    evidence columns."""
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
    cur_rows AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE NOT (vec_id >= {K_CELLS}
                   AND vec_id % {CDC_MOD} IN ({CDC_DEL_REM}, {CDC_UPD_REM}))
        UNION ALL
        SELECT vec_id, label, list_reverse(embedding) FROM embeddings
        WHERE vec_id >= {K_CELLS} AND vec_id % {CDC_MOD} = {CDC_UPD_REM}
        UNION ALL
        SELECT vec_id + {CDC_INS_SHIFT}, label, list_reverse(embedding)
        FROM embeddings WHERE vec_id % {CDC_MOD} = {CDC_INS_REM}
    ),
    exc AS (
        SELECT vec_id, label,
               unnest(generate_series(1, len(embedding))) AS i,
               embedding AS e
        FROM cur_rows
    ),
    vcur AS (
        SELECT vec_id, i - 1 AS dim, (i - 1) // {PQ_SUB_DIMS} AS sub,
               CAST(floor(CAST(e[i] AS DOUBLE) * {MICRO}) AS BIGINT) AS vi
        FROM exc
    ),
    cent AS (
        SELECT vec_id AS cid, dim, vi AS cc FROM v WHERE vec_id < {K_CELLS}
    ),
    celld AS (
        SELECT w.vec_id, c.cid, SUM((w.vi - c.cc) * (w.vi - c.cc)) AS d2
        FROM vcur w JOIN cent c ON w.dim = c.dim
        GROUP BY w.vec_id, c.cid
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
        SELECT w.vec_id, w.sub, c.code,
               SUM((w.vi - c.ci) * (w.vi - c.ci)) AS dist_sq
        FROM vcur w JOIN cmicro c ON w.dim = c.dim
        GROUP BY w.vec_id, w.sub, c.code
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
          FROM vcur WHERE vec_id < {N_QUERIES}),
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
               SUM((q.qi - w.vi) * (q.qi - w.vi)) AS dist
        FROM short s
        JOIN vcur w ON w.vec_id = s.neighbor_id
        JOIN q ON q.query_id = s.query_id AND q.dim = w.dim
        GROUP BY s.query_id, s.neighbor_id
    ),
    ev AS (
        SELECT
            CAST((SELECT COUNT(*) FROM embeddings
                  WHERE vec_id >= {K_CELLS}
                    AND vec_id % {CDC_MOD} = {CDC_UPD_REM})
                 + (SELECT COUNT(*) FROM embeddings
                    WHERE vec_id % {CDC_MOD} = {CDC_INS_REM})
                 AS BIGINT) AS n_appended,
            CAST((SELECT COUNT(*) FROM embeddings
                  WHERE vec_id >= {K_CELLS}
                    AND vec_id % {CDC_MOD} IN ({CDC_DEL_REM}, {CDC_UPD_REM}))
                 AS BIGINT) AS n_tombstoned
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           CAST(dist AS BIGINT) AS dist, ev.n_appended, ev.n_tombstoned
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY dist ASC, neighbor_id) AS rank
        FROM rr
    ), ev WHERE rank <= {TOP_K}
    """


@register("sim_index_cdc_maintain", oracle=_cdc_maintain_oracle())
def sim_index_cdc_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two flagship lanes composed end to end (VERDICT r11 ask
    #4): the embeddings corpus lands as a MOR CDC table, the IVF-PQ
    index is built once over its v1 read, a change wave (re-embeds,
    takedowns, arrivals) commits as one CDC epoch, and the index
    catches up by consuming THAT COMMIT'S CHANGE FEED — frozen-
    artifact encode of the post-images, tombstones for the changed
    keys — never rescanning the corpus.  The probe answers the
    top-{TOP_K} searches over the maintained index with the exact
    rerank against the table's CURRENT state.  The oracle recomputes
    the whole thing independently from the raw table + the wave
    algebra, so a dropped tombstone (a deleted vector still served), a
    stale code entry (an updated vector found at its old position), or
    a missed arrival all break the hash; the wave arithmetic ships as
    evidence columns."""
    from ..streaming.mor_cdc import mor_cdc_commit, mor_cdc_init, mor_cdc_read

    emb = load_table(spark, sf_dir, "embeddings")
    emb_dir = scratch_dir("embcdc_table", sf_dir)
    index_dir = scratch_dir("embcdc_index", sf_dir)
    if not main_log(emb_dir).exists(1):
        mor_cdc_init(
            spark, emb.withColumn("version", F.lit(0)), emb_dir, "vec_id"
        )
    if not cdcidx_log(index_dir).exists(1):
        build_cdc_index(
            spark,
            mor_cdc_read(spark, emb_dir, 1).select(
                "vec_id", "embedding", "label"
            ),
            index_dir,
            version=1,
            table_commit=1,
        )
    if not main_log(emb_dir).exists(2):
        mor_cdc_commit(spark, _emb_cdc_wave(emb), emb_dir, 2)
    if not cdcidx_log(index_dir).exists(2):
        maintain_ivf_pq_from_feed(spark, emb_dir, index_dir)
    m = cdcidx_log(index_dir).load(2)
    cur = mor_cdc_read(spark, emb_dir, 2).select(
        "vec_id", "embedding", "label"
    )
    queries = _micro_rows(cur.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), "dim", F.col("vi").alias("qi")
    )
    return (
        cdc_index_search(spark, index_dir, queries, cur, version=2)
        .withColumn(
            "n_appended", F.lit(int(m["n_appended"])).cast("bigint")
        )
        .withColumn(
            "n_tombstoned", F.lit(int(m["n_tombstoned"])).cast("bigint")
        )
    )
