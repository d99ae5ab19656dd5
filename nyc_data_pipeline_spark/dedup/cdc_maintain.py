"""MinHash-LSH dedup index maintenance driven by the MOR CDC change
feed.

The third feed-maintained artifact of the build (after the joined view,
operators/incremental.py, and the ANN index,
similarity/cdc_maintain.py): the documents corpus lives as a MOR CDC
table (streaming/mor_cdc.py) and the PERSISTED dedup index
(dedup/incremental.py's band + token-set artifacts) is advanced from
the table's row-level change feeds instead of being rebuilt per crawl:

  per table commit M, consumed as ONE maintenance step:
    inserts/updates -> the post-image texts are tokenized, MinHash-
        signed and banded (banding is STATELESS — unlike the PQ lane
        there are no frozen artifacts to train, so an append is always
        exact) and appended as NEW band/elems files stamped with the
        index commit;
    deletes/updates -> one TOMBSTONE row per changed key, stamped with
        the index commit, shadowing every OLDER band/elems entry for
        that key at probe time (a row survives iff no STRICTLY-later
        tombstone names its doc — an update's re-banded entries
        survive their own tombstone);
    swap -> when the tombstone fraction crosses `swap_fraction`, the
        step rebuilds from the table's current state (one corpus pass,
        tombstone debt cleared) — compaction for the index.

Maintenance cost per commit is O(changes): the feed is O(churned
buckets + changes), banding touches only post-image rows, the
tombstone write only changed keys; the corpus band table is never
rescanned until the swap.  The probe reads the manifest-listed band
files (ONE multi-path scan, bounded by commits-since-swap), broadcasts
the tombstone shadow (O(churn) keys, bounded by the swap threshold),
and keeps the batch-broadcast discipline of the static index
(dedup/incremental.py: the corpus never reshuffles for a probe).
Retention composes: a maintenance step whose feed commit was vacuumed
raises the lane's named `ChangeFeedRetentionError`.

Reference parity: the reference has no dedup surface (SURVEY §2 gap
rows); this composes the build's incremental-dedup extension with the
CDC lane so a 100 TB corpus's dedup index tracks the crawl stream at
churn cost.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.text import (
    duck_token_hashes,
    duck_tokens,
    spark_token_hashes,
    spark_tokens,
)
from ..manifest_log import ManifestLog
from ..registry import register
from ..sources.scans import scratch_dir
from ..streaming.mor_cdc import ChangeFeedRetentionError, main_log
from .incremental import BATCH_MOD, _bands
from .minhash import BANDS, K, VERIFY_THRESHOLD, _band_key, _duck_sig

# Change-wave algebra (oracle-recomputable):
DDC_UPD_REM = 1           # corpus docs doc_id % 7 == 1 -> text renewed
DDC_DEL_REM = 2           # corpus docs doc_id % 7 == 2 -> deleted
DDC_INS_SHIFT = 10_000_000  # batch clones inserted as new corpus docs
DDC_UPD_TOKEN = "renewedtokenxyz"
TOMB_SWAP_FRACTION = 0.5  # rebuild when tombstones reach half the rows


def _doc_sets(docs: DataFrame) -> DataFrame:
    return docs.selectExpr(
        "doc_id",
        f"array_distinct({spark_token_hashes(spark_tokens('text'))})"
        " AS elems",
    )


def ddcidx_log(index_dir: str) -> ManifestLog:
    """The index's version chain (`ddcidx-manifest-v{N}.json`)."""
    return ManifestLog(
        index_dir, "ddcidx-manifest-v", ChangeFeedRetentionError
    )


def _write_index_files(
    sets: DataFrame, vdir: str, icommit: int
) -> tuple[str, str]:
    """Band + token-set files for `sets`, stamped with the index
    commit IN the data (so the probe's multi-path scan recovers the
    shadow ordering without per-file plans)."""
    bands_path = os.path.join(vdir, "bands")
    elems_path = os.path.join(vdir, "elems")
    (
        _bands(sets)
        .withColumnRenamed("doc_id", "corpus_id")
        .withColumn("icommit", F.lit(icommit))
        .write.mode("overwrite")
        .parquet(bands_path)
    )
    (
        sets.selectExpr("doc_id AS idc", "elems AS ec")
        .withColumn("icommit", F.lit(icommit))
        .write.mode("overwrite")
        .parquet(elems_path)
    )
    return bands_path, elems_path


def build_dedup_cdc_index(
    spark: SparkSession, corpus: DataFrame, index_dir: str,
    version: int = 1, table_commit: int = 1,
) -> dict:
    """Full (re)build over `corpus` (doc_id, text) with the CDC-
    maintenance manifest shape: band/elems artifacts as [{path, v}]
    lists, an empty tombstone list, the table-commit cursor, and the
    live-row count the swap threshold is measured against."""
    sets = _doc_sets(corpus)
    vdir = os.path.join(index_dir, f"v{version}")
    bands_path, elems_path = _write_index_files(sets, vdir, version)
    manifest = {
        "version": version,
        "bands": [{"path": bands_path, "v": version}],
        "elems": [{"path": elems_path, "v": version}],
        "tombstones": [],
        "table_commit": table_commit,
        "n_rows": corpus.count(),
        "n_tombstoned": 0,
    }
    ddcidx_log(index_dir).publish(version, manifest)
    return manifest


def maintain_dedup_index_from_feed(
    spark: SparkSession, table_dir: str, index_dir: str,
    swap_fraction: float = TOMB_SWAP_FRACTION,
) -> dict:
    """ONE maintenance step: consume the documents CDC table's change
    feed for the commit after the index cursor and advance the index
    by O(changes) — or rebuild from the current table state when the
    tombstone fraction crosses `swap_fraction` (module doc).  A
    vacuumed feed raises `ChangeFeedRetentionError`.  Call in a loop
    to catch up multiple pending commits."""
    from ..streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_read,
    )

    prev = ddcidx_log(index_dir).load()
    table_commit = int(prev["table_commit"]) + 1
    vnew = int(prev["version"]) + 1
    feed = mor_cdc_change_feed(spark, table_dir, table_commit)
    counts = {
        r["change"]: r["n"]
        for r in feed.groupBy("change").agg(F.count("*").alias("n")).collect()
    }
    n_ins = counts.get("insert", 0)
    n_upd = counts.get("update", 0)
    n_del = counts.get("delete", 0)
    n_tomb = int(prev.get("n_tombstoned", 0)) + n_upd + n_del
    n_rows = int(prev["n_rows"]) + n_ins - n_del
    if n_rows > 0 and n_tomb / n_rows >= swap_fraction:
        cur = mor_cdc_read(spark, table_dir, table_commit).select(
            "doc_id", "text"
        )
        m = build_dedup_cdc_index(
            spark, cur, index_dir, version=vnew,
            table_commit=table_commit,
        )
        m["swapped"] = True
        ddcidx_log(index_dir).publish(vnew, m)
        return m
    vdir = os.path.join(index_dir, f"v{vnew}")
    bands = list(prev["bands"])
    elems = list(prev["elems"])
    if n_ins + n_upd > 0:
        post = feed.filter(F.col("change") != "delete").select(
            "doc_id", F.col("post_text").alias("text")
        )
        bands_path, elems_path = _write_index_files(
            _doc_sets(post), vdir, vnew
        )
        bands.append({"path": bands_path, "v": vnew})
        elems.append({"path": elems_path, "v": vnew})
    tombstones = list(prev["tombstones"])
    if n_upd + n_del > 0:
        tomb_path = os.path.join(vdir, "tombstones")
        (
            feed.filter(F.col("change") != "insert")
            .select("doc_id")
            .withColumn("tv", F.lit(vnew))
            .write.mode("overwrite")
            .parquet(tomb_path)
        )
        tombstones.append({"path": tomb_path, "v": vnew})
    manifest = {
        "version": vnew,
        "bands": bands,
        "elems": elems,
        "tombstones": tombstones,
        "table_commit": table_commit,
        "n_rows": n_rows,
        "n_tombstoned": n_tomb,
    }
    ddcidx_log(index_dir).publish(vnew, manifest)
    return manifest


def dedup_cdc_probe(
    spark: SparkSession, index_dir: str, batch: DataFrame,
    version: int | None = None,
) -> DataFrame:
    """Probe a batch (doc_id, text) against the MAINTAINED index:
    manifest-listed band/elems files in ONE multi-path scan each, the
    tombstone shadow broadcast and applied BEFORE the candidate join
    (a row survives iff no strictly-later tombstone names its doc),
    batch bands broadcast onto the corpus band table, exact-Jaccard
    verify on the surviving token sets."""
    m = ddcidx_log(index_dir).load(version)
    corpus_bands = spark.read.parquet(*[e["path"] for e in m["bands"]])
    corpus_elems = spark.read.parquet(*[e["path"] for e in m["elems"]])
    if m["tombstones"]:
        shadow = (
            spark.read.parquet(*[t["path"] for t in m["tombstones"]])
            .groupBy("doc_id")
            .agg(F.max("tv").alias("max_tv"))
        )
        corpus_bands = (
            corpus_bands.join(
                F.broadcast(shadow),
                corpus_bands["corpus_id"] == shadow["doc_id"],
                "left",
            )
            .filter(
                F.col("max_tv").isNull()
                | (F.col("icommit") >= F.col("max_tv"))
            )
            .drop("doc_id", "max_tv")
        )
        corpus_elems = (
            corpus_elems.join(
                F.broadcast(shadow),
                corpus_elems["idc"] == shadow["doc_id"],
                "left",
            )
            .filter(
                F.col("max_tv").isNull()
                | (F.col("icommit") >= F.col("max_tv"))
            )
            .drop("doc_id", "max_tv")
        )
    batch_sets = _doc_sets(batch)
    batch_bands = _bands(batch_sets).selectExpr(
        "doc_id AS batch_id", "band", "bkey"
    )
    cand = (
        corpus_bands.join(F.broadcast(batch_bands), ["band", "bkey"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    tb = batch_sets.selectExpr("doc_id AS idb", "elems AS eb")
    verified = (
        cand.join(tb, F.col("batch_id") == F.col("idb"))
        .join(corpus_elems, F.col("corpus_id") == F.col("idc"))
        .selectExpr(
            "batch_id",
            "corpus_id",
            "size(array_intersect(eb, ec)) AS ni",
            "size(eb) AS nb",
            "size(ec) AS nc",
        )
        .filter(
            F.col("ni").cast("double")
            / (F.col("nb") + F.col("nc") - F.col("ni"))
            >= VERIFY_THRESHOLD
        )
    )
    return verified.groupBy("batch_id").agg(
        F.count("*").alias("n_dups"), F.min("corpus_id").alias("dup_of")
    )


def _corpus_waves(corpus: DataFrame, batch: DataFrame) -> list[DataFrame]:
    """Two CDC commits on the corpus table: a recrawl wave (token set
    changed — its tombstone must shadow the OLD band entries while the
    re-banded ones survive) and a takedown+arrival wave (deletes drop
    prior matches; the arrivals are exact clones of the probe batch,
    so every batch doc must flip to is_dup=true through the MAINTAINED
    appends alone)."""
    upd = (
        corpus.filter(F.col("doc_id") % 7 == DDC_UPD_REM)
        .withColumn(
            "text", F.concat(F.col("text"), F.lit(" " + DDC_UPD_TOKEN))
        )
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("u"))
    )
    dele = (
        corpus.filter(F.col("doc_id") % 7 == DDC_DEL_REM)
        .withColumn("version", F.lit(2))
        .withColumn("op", F.lit("d"))
    )
    ins = (
        batch.select(
            (F.col("doc_id") + DDC_INS_SHIFT).alias("doc_id"), "text"
        )
        .withColumn("version", F.lit(2))
        .withColumn("op", F.lit("u"))
    )
    return [upd, dele.unionByName(ins)]


def _oracle_dedup_cdc() -> str:
    sig_exprs = ",\n               ".join(_duck_sig(i) for i in range(K))
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT side, doc_id, {b} AS band, {_band_key(b)} AS bkey"
        " FROM sigs"
        for b in range(BANDS)
    )
    jac = (
        "CAST(len(list_intersect(tb.elems, tc.elems)) AS DOUBLE) / "
        "(len(tb.elems) + len(tc.elems)"
        " - len(list_intersect(tb.elems, tc.elems)))"
    )
    return f"""
    WITH cur AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = {DDC_UPD_REM}
                    THEN text || ' {DDC_UPD_TOKEN}'
                    ELSE text END AS text
        FROM documents
        WHERE doc_id % {BATCH_MOD} <> 0 AND doc_id % 7 <> {DDC_DEL_REM}
        UNION ALL
        SELECT doc_id + {DDC_INS_SHIFT} AS doc_id, text FROM documents
        WHERE doc_id % {BATCH_MOD} = 0
    ),
    allr AS (
        SELECT 'c' AS side, doc_id, text FROM cur
        UNION ALL
        SELECT 'b' AS side, doc_id, text FROM documents
        WHERE doc_id % {BATCH_MOD} = 0
    ),
    th AS (
        SELECT side, doc_id,
               list_distinct({duck_token_hashes(duck_tokens('text'))})
                   AS elems
        FROM allr
    ),
    sigs AS (
        SELECT side, doc_id, elems,
               {sig_exprs}
        FROM th
    ),
    bands AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
        FROM (SELECT * FROM bands WHERE side = 'b') b
        JOIN (SELECT * FROM bands WHERE side = 'c') c
          ON b.band = c.band AND b.bkey = c.bkey
    ),
    verified AS (
        SELECT batch_id, corpus_id
        FROM cand
        JOIN th tb ON tb.side = 'b' AND tb.doc_id = batch_id
        JOIN th tc ON tc.side = 'c' AND tc.doc_id = corpus_id
        WHERE {jac} >= {VERIFY_THRESHOLD}
    ),
    agg AS (
        SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
               MIN(corpus_id) AS dup_of
        FROM verified GROUP BY batch_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_dups, 0) AS BIGINT) AS n_dups,
           a.dup_of,
           COALESCE(a.n_dups, 0) > 0 AS is_dup
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.batch_id
    WHERE d.doc_id % {BATCH_MOD} = 0
    """


@register("dedup_index_cdc_maintain", oracle=_oracle_dedup_cdc())
def dedup_index_cdc_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup index maintained from the corpus table's CDC change
    feed: the corpus (doc_id % 10 != 0) lives as a MOR CDC table,
    the index builds once at v1, two change commits land (recrawl
    wave, then takedowns + the probe batch's exact clones arriving),
    and TWO maintenance steps advance the index from the feeds alone —
    O(changes) each, the corpus band table never rescanned.  The probe
    then reads the maintained artifacts.  The oracle recomputes the
    full MinHash probe against the table's CURRENT logical state:
    matching it proves the appended bands, the tombstone shadow
    (stale recrawl entries must not match), and the delete handling,
    through a real probe.  Every batch doc must come back is_dup=true
    (its clone arrived via the feed); dup_of still prefers original
    corpus matches (MIN over ids)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % BATCH_MOD != 0)
    batch = d.filter(F.col("doc_id") % BATCH_MOD == 0)
    table_dir = scratch_dir("dedup_cdc_table", sf_dir)
    index_dir = scratch_dir("dedup_cdc_index", sf_dir)
    waves = _corpus_waves(corpus, batch)
    final_commit = len(waves) + 1
    from ..streaming.mor_cdc import mor_cdc_commit, mor_cdc_init

    if not main_log(table_dir).exists(final_commit):
        mor_cdc_init(
            spark, corpus.withColumn("version", F.lit(0)), table_dir,
            "doc_id",
        )
        for i, wave in enumerate(waves):
            mor_cdc_commit(spark, wave, table_dir, 2 + i)
    if ddcidx_log(index_dir).head() < final_commit:
        if ddcidx_log(index_dir).head() < 1:
            build_dedup_cdc_index(spark, corpus, index_dir)
        while (
            ddcidx_log(index_dir).load()["table_commit"]
            < final_commit
        ):
            maintain_dedup_index_from_feed(spark, table_dir, index_dir)
    agg = dedup_cdc_probe(spark, index_dir, batch)
    return (
        batch.select("doc_id")
        .join(agg, F.col("doc_id") == F.col("batch_id"), "left")
        .select(
            "doc_id",
            F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
            "dup_of",
            (F.coalesce("n_dups", F.lit(0)) > 0).alias("is_dup"),
        )
    )
