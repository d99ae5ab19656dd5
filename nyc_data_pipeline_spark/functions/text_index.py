"""Text-stats index (BM25 df lexicon + corpus stats) maintained from
the documents table's MOR CDC change feed.

The FOURTH feed-maintained artifact family of the build (after the
joined view, operators/incremental.py; the ANN index,
similarity/cdc_maintain.py; and the dedup index, dedup/cdc_maintain.py
— VERDICT r12 ask #5): the BM25 document-frequency table and the
corpus stats (n_docs, Σdl) that `functions/bm25.py` rebuilds with a
full corpus pass are advanced here from row-level change feeds at
O(churned docs) per commit:

  per table commit M, consumed as ONE maintenance step:
    df deltas    <- the pre-image token SET contributes -1 per term,
        the post-image set +1; terms present in both cancel, so an
        update's delta is only the terms it actually churned.  The
        signed rows land as a DELTA file; df(t) at read time is the
        SUM over the manifest-listed base+delta files (one multi-path
        scan, bounded by commits-since-swap).
    stats deltas <- n_docs += inserts - deletes; Σdl += Σ post_dl -
        Σ pre_dl — two integers, carried IN the manifest (a 1-row
        collect per step, metadata-scale).
    swap         <- when accumulated delta rows reach `swap_fraction`
        of the base lexicon, rebuild from the table's current state
        (one corpus pass, delta debt cleared) — compaction for the
        index; pinned byte-equal to a fresh rebuild in pytest.

The lexicon IS the vocabulary artifact: `text_index_vocab` (terms with
df > 0) is the feed-maintained replacement for `vocab_oov_rate`'s
corpus-pass build.  Retention composes: a maintenance step whose feed
commit was vacuumed raises the lane's named `ChangeFeedRetentionError`.

Scale shape: maintenance never rescans the corpus (the feed is
O(churned buckets + changes), the delta explode touches only churned
docs' token sets); a BM25 query reads idf/N/Σdl from the index and
pays only the posting-list pass for its own terms.
scripts/text_index_probe.py measures maintain flat vs rebuild linear
across corpus growth (SCALE.md §31, the §25 table shape).

Reference parity: the reference has no text-retrieval surface (SURVEY
§2 gap rows); this keeps the build's BM25 lane current against a
crawl stream without per-crawl df rebuilds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, persist_scoped
from ..manifest_log import ManifestLog
from ..registry import register
from ..sources.scans import scratch_dir
from ..streaming.mor_cdc import ChangeFeedRetentionError, main_log
from .bm25 import _ALL_TERMS, _CONTRIB, _IDF, BM25_QUERIES, BM25_TOPK
from .text import duck_tokens, spark_tokens

# Change-wave algebra (oracle-recomputable):
TIX_UPD_REM = 1            # doc_id % 7 == 1 -> text renewed (recrawl)
TIX_DEL_REM = 2            # doc_id % 7 == 2 -> deleted (takedown)
TIX_INS_MOD = 11           # doc_id % 11 == 0 -> clone inserted
TIX_INS_SHIFT = 10_000_000
TIX_UPD_SUFFIX = "vector refreshterm"   # churns a query term's df
TIX_INS_SUFFIX = "stream join arrival"  # new docs carry query terms
TIX_SWAP_FRACTION = 0.5


def tidx_log(index_dir: str) -> ManifestLog:
    """The index's version chain (`tidx-manifest-v{N}.json`)."""
    return ManifestLog(index_dir, "tidx-manifest-v", ChangeFeedRetentionError)


def _doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, t): one row per DISTINCT term per doc — the df unit."""
    return docs.selectExpr(
        "doc_id",
        f"explode(array_distinct({spark_tokens('text')})) AS t",
    )


def _dl_expr(col: str):
    """Token count of a possibly-NULL text column as a safe 0."""
    return F.when(F.col(col).isNull(), F.lit(0)).otherwise(
        F.size(F.expr(spark_tokens(col)))
    )


def build_text_index(
    spark: SparkSession, corpus: DataFrame, index_dir: str,
    version: int = 1, table_commit: int = 1,
) -> dict:
    """Full (re)build over `corpus` (doc_id, text): the df lexicon as
    ONE base file of signed counts (d = the term's df), plus the two
    corpus stats in the manifest."""
    base_path = os.path.join(index_dir, f"v{version}", "df")
    df = (
        _doc_terms(corpus)
        .groupBy("t")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    df.write.mode("overwrite").parquet(base_path)
    stats = corpus.select(
        F.count("*").alias("n"), F.sum(_dl_expr("text")).alias("s")
    ).collect()[0]
    n_terms = spark.read.parquet(base_path).count()
    manifest = {
        "version": version,
        "dfs": [{"path": base_path, "v": version}],
        "table_commit": table_commit,
        "n_docs": int(stats["n"]),
        "sum_dl": int(stats["s"] or 0),
        "n_base_terms": int(n_terms),
        "n_delta_rows": 0,
    }
    tidx_log(index_dir).publish(version, manifest)
    return manifest


def maintain_text_index_from_feed(
    spark: SparkSession, table_dir: str, index_dir: str,
    swap_fraction: float = TIX_SWAP_FRACTION,
) -> dict:
    """ONE maintenance step: consume the change feed for the commit
    after the index cursor and advance df/stats by O(changes) — or
    rebuild from the current table state when the delta debt crosses
    `swap_fraction` of the base lexicon (module doc).  A vacuumed
    feed raises `ChangeFeedRetentionError`."""
    from ..streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_read,
    )

    prev = tidx_log(index_dir).load()
    table_commit = int(prev["table_commit"]) + 1
    vnew = int(prev["version"]) + 1
    feed = mor_cdc_change_feed(spark, table_dir, table_commit)
    pre = (
        feed.filter(F.col("change") != "insert")
        .selectExpr(
            f"explode(array_distinct({spark_tokens('pre_text')})) AS t"
        )
        .withColumn("d", F.lit(-1).cast("bigint"))
    )
    post = (
        feed.filter(F.col("change") != "delete")
        .selectExpr(
            f"explode(array_distinct({spark_tokens('post_text')})) AS t"
        )
        .withColumn("d", F.lit(1).cast("bigint"))
    )
    delta = (
        pre.unionByName(post)
        .groupBy("t")
        .agg(F.sum("d").alias("d"))
        .filter(F.col("d") != 0)  # an update's unchanged terms cancel
    )
    stat = feed.select(
        F.sum(
            F.when(F.col("change") == "insert", 1)
            .when(F.col("change") == "delete", -1)
            .otherwise(0)
        ).alias("nd"),
        F.sum(_dl_expr("post_text") - _dl_expr("pre_text")).alias("sd"),
    ).collect()[0]
    n_docs = int(prev["n_docs"]) + int(stat["nd"] or 0)
    sum_dl = int(prev["sum_dl"]) + int(stat["sd"] or 0)
    delta_path = os.path.join(index_dir, f"v{vnew}", "df")
    delta.write.mode("overwrite").parquet(delta_path)
    n_delta = int(
        prev["n_delta_rows"]
    ) + spark.read.parquet(delta_path).count()
    if (
        prev["n_base_terms"] > 0
        and n_delta / prev["n_base_terms"] >= swap_fraction
    ):
        cur = mor_cdc_read(spark, table_dir, table_commit).select(
            "doc_id", "text"
        )
        m = build_text_index(
            spark, cur, index_dir, version=vnew,
            table_commit=table_commit,
        )
        m["swapped"] = True
        tidx_log(index_dir).publish(vnew, m)
        return m
    manifest = {
        "version": vnew,
        "dfs": [*prev["dfs"], {"path": delta_path, "v": vnew}],
        "table_commit": table_commit,
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "n_base_terms": int(prev["n_base_terms"]),
        "n_delta_rows": n_delta,
    }
    tidx_log(index_dir).publish(vnew, manifest)
    return manifest


def text_index_df(
    spark: SparkSession, index_dir: str, version: int | None = None
) -> DataFrame:
    """The maintained df table (t, df): one multi-path scan over the
    manifest-listed base+delta files, summed; terms whose df folded to
    zero (every holder deleted) leave the lexicon."""
    m = tidx_log(index_dir).load(version)
    return (
        spark.read.parquet(*[e["path"] for e in m["dfs"]])
        .groupBy("t")
        .agg(F.sum("d").cast("bigint").alias("df"))
        .filter(F.col("df") > 0)
    )


def text_index_vocab(
    spark: SparkSession, index_dir: str, version: int | None = None
) -> DataFrame:
    """The vocabulary view of the lexicon — the feed-maintained
    replacement for a per-crawl corpus vocab pass."""
    return text_index_df(spark, index_dir, version).select("t")


def bm25_topk_from_index(
    spark: SparkSession, docs: DataFrame, index_dir: str,
) -> DataFrame:
    """BM25 top-K per fixed query with idf/N/Σdl from the MAINTAINED
    index: the corpus pays only the posting-list pass for the query
    terms (filtered before any shuffle); df joins broadcast from the
    index scan; stats are manifest integers.  Integer-exact micro
    scores — the same `_IDF`/`_CONTRIB` algebra as the corpus-pass
    build, so a stale df anywhere breaks the oracle hash."""
    m = tidx_log(index_dir).load()
    toks = docs.selectExpr("doc_id", f"{spark_tokens('text')} AS tk")
    # dl rides the explode (functionally dependent on doc_id, so the
    # extra grouping key changes nothing) — at 100 TB this removes
    # the postings ⋈ per-doc-length join that would otherwise shuffle
    # a corpus-sized slim table per query batch
    tf = (
        toks.select(
            "doc_id",
            F.size("tk").alias("dl"),
            F.explode("tk").alias("t"),
        )
        .filter(F.col("t").isin(*_ALL_TERMS))
        .groupBy("doc_id", "dl", "t")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    dfs = text_index_df(spark, index_dir).filter(
        F.col("t").isin(*_ALL_TERMS)
    )
    scored = persist_scoped(
        "tidx.scored",
        tf.join(F.broadcast(dfs), "t")
        .withColumn("n_docs", F.lit(int(m["n_docs"])).cast("bigint"))
        .withColumn("sum_dl", F.lit(int(m["sum_dl"])).cast("bigint"))
        .selectExpr(
            "doc_id", "t", f"{_IDF} AS idf_micro", "tf", "dl",
            "n_docs", "sum_dl",
        )
        .selectExpr(
            "doc_id", "t", f"{_CONTRIB.format(idiv='div')} AS contrib"
        ),
    )
    branches = None
    for qid, ts in BM25_QUERIES:
        b = (
            scored.filter(F.col("t").isin(*ts))
            .groupBy("doc_id")
            .agg(
                F.sum("contrib").cast("bigint").alias("score_micro"),
                F.count("*").cast("bigint").alias("n_terms_hit"),
            )
            .orderBy(F.col("score_micro").desc(), "doc_id")
            .limit(BM25_TOPK)
            .select(
                F.lit(qid).alias("query_id"), "doc_id",
                "score_micro", "n_terms_hit",
            )
        )
        branches = b if branches is None else branches.unionByName(b)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), "doc_id"
    )
    return branches.select(
        "query_id", "doc_id", "score_micro", "n_terms_hit",
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


def _text_waves(d: DataFrame) -> list[DataFrame]:
    """Two CDC commits on the documents table: a recrawl wave whose
    text churns a QUERY term's df (so a stale maintained df is
    score-visible), then takedowns + new arrivals carrying query
    terms (df, N and Σdl all move)."""
    upd = (
        d.filter(F.col("doc_id") % 7 == TIX_UPD_REM)
        .withColumn(
            "text", F.concat(F.col("text"), F.lit(" " + TIX_UPD_SUFFIX))
        )
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("u"))
    )
    dele = (
        d.filter(F.col("doc_id") % 7 == TIX_DEL_REM)
        .withColumn("version", F.lit(2))
        .withColumn("op", F.lit("d"))
    )
    ins = (
        d.filter(F.col("doc_id") % TIX_INS_MOD == 0)
        .select(
            (F.col("doc_id") + TIX_INS_SHIFT).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" " + TIX_INS_SUFFIX)).alias(
                "text"
            ),
        )
        .withColumn("version", F.lit(2))
        .withColumn("op", F.lit("u"))
    )
    return [upd, dele.unionByName(ins)]


def _oracle_text_index() -> str:
    """Recompute BM25 over the table's CURRENT logical state from the
    raw documents table alone — matching it proves the maintained df
    deltas, the doc-count and Σdl folds, and the swap-free read path
    end to end (a single stale df value shifts idf and the hash)."""
    terms_in = ", ".join(f"'{t}'" for t in _ALL_TERMS)
    branches = "\n    UNION ALL\n    ".join(
        f"""SELECT '{qid}' AS query_id, doc_id, score_micro, n_terms_hit
    FROM (
        SELECT doc_id,
               CAST(SUM(contrib) AS BIGINT) AS score_micro,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        FROM scored WHERE t IN ({", ".join(f"'{t}'" for t in ts)})
        GROUP BY doc_id
        ORDER BY score_micro DESC, doc_id LIMIT {BM25_TOPK}
    )"""
        for qid, ts in BM25_QUERIES
    )
    return f"""
    WITH cur AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = {TIX_UPD_REM}
                    THEN text || ' {TIX_UPD_SUFFIX}'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> {TIX_DEL_REM}
        UNION ALL
        SELECT doc_id + {TIX_INS_SHIFT} AS doc_id,
               text || ' {TIX_INS_SUFFIX}' AS text
        FROM documents WHERE doc_id % {TIX_INS_MOD} = 0
    ),
    toks AS (
        SELECT doc_id, {duck_tokens('text')} AS tk FROM cur
    ),
    dls AS (SELECT doc_id, len(tk) AS dl FROM toks),
    stats AS (
        SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dls
    ),
    tf AS (
        SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
        WHERE t IN ({terms_in})
        GROUP BY doc_id, t
    ),
    dfs AS (
        SELECT t, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(list_distinct(tk)) AS t FROM toks)
        WHERE t IN ({terms_in})
        GROUP BY t
    ),
    scored AS (
        SELECT tf.doc_id, tf.t,
               {_CONTRIB.format(idiv='//')} AS contrib
        FROM tf
        JOIN dfs USING (t)
        JOIN dls USING (doc_id)
        CROSS JOIN stats
        CROSS JOIN LATERAL (SELECT {_IDF} AS idf_micro) i
    ),
    ranked AS (
    {branches}
    )
    SELECT query_id, doc_id, score_micro, n_terms_hit,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rnk
    FROM ranked
    """


@register("text_index_cdc_maintain", oracle=_oracle_text_index())
def text_index_cdc_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 df lexicon + corpus stats maintained from the
    documents table's CDC change feed: the corpus lives as a MOR CDC
    table, the index builds once at v1, two change commits land
    (recrawl that renews a query term, then takedowns + arrivals),
    and TWO maintenance steps advance df/N/Σdl from the feeds alone —
    O(churned docs) each, the corpus never rescanned for stats.  The
    returned ranking is BM25 over the CURRENT state with EVERY global
    quantity (idf, N, Σdl) read from the maintained index; the oracle
    recomputes it all from scratch, so one missed df delta flips a
    score and the hash."""
    from ..streaming.mor_cdc import mor_cdc_commit, mor_cdc_init, mor_cdc_read

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    table_dir = scratch_dir("text_idx_table", sf_dir)
    index_dir = scratch_dir("text_idx_index", sf_dir)
    waves = _text_waves(d)
    final_commit = len(waves) + 1
    if not main_log(table_dir).exists(final_commit):
        mor_cdc_init(
            spark, d.withColumn("version", F.lit(0)), table_dir, "doc_id"
        )
        for i, wave in enumerate(waves):
            mor_cdc_commit(spark, wave, table_dir, 2 + i)
    if tidx_log(index_dir).head() < final_commit:
        if tidx_log(index_dir).head() < 1:
            build_text_index(spark, d, index_dir)
        while (
            tidx_log(index_dir).load()["table_commit"] < final_commit
        ):
            # the fixture corpus has a ~31-term vocabulary, so any
            # wave's delta clears the production 0.5 debt ratio; pin
            # the DELTA path here (the swap path is pytest-pinned
            # byte-equal separately) so the query certifies the
            # O(churned docs) maintenance, not a disguised rebuild
            maintain_text_index_from_feed(
                spark, table_dir, index_dir, swap_fraction=10.0
            )
    cur = mor_cdc_read(spark, table_dir, final_commit).select(
        "doc_id", "text"
    )
    return bm25_topk_from_index(spark, cur, index_dir)
