"""One distributed BPE training step: corpus-weighted symbol-pair
counts, the greedy merge, and the post-merge recount.

Byte-pair-encoding tokenizer training (Sennrich et al.) is a loop:
count adjacent symbol pairs over the corpus, merge the most frequent
pair everywhere, repeat.  The part that needs a cluster is exactly one
iteration of that loop — and the classic trick that makes it tractable
is that pair counting runs on the VOCABULARY (distinct words weighted
by their corpus counts), not on the corpus itself: a 100 TB corpus has
a vocabulary orders of magnitude smaller, and the corpus is touched
once, for the word counts.

`text_bpe_merge_step` materializes that iteration end-to-end:

1. word counts — the only corpus-scale pass (one map-side-combined
   groupBy);
2. round-1 pair counts — explode each distinct word into (pos, char)
   rows, pair adjacent symbols with a lead() window, sum word counts;
3. the merge — the top pair (count desc, pair asc) is applied
   greedily left-to-right.  Overlapping matches only arise when
   left == right (e.g. pair (a,a) in "aaa"); greedy semantics =
   within each maximal run of consecutive match positions keep every
   other one, which is the repo's gap-islands idiom: run id
   pos - row_number() over matches, keep even offsets from run start;
4. round-2 pair counts over the merged symbol stream — what the NEXT
   iteration would see.

Output: top-{TOP_PAIRS} pairs of both rounds, (round, rank, left_sym,
right_sym, pair_cnt) — rank 1 of round 1 is the merge that was
applied; round 2 shows the redistributed mass (the merged symbol now
participates in new pairs).

Scale shape: everything after step 1 is vocabulary-sized; the symbol
table is sum(len(word)) rows over DISTINCT words.  The per-word
windows partition by word — millions of tiny partitions, no global
sort; the two top-N selections are bounded (LIMIT {TOP_PAIRS}) via
Spark's TakeOrderedAndProject.  The merge-flag join is a vocab-scale
equi-join on (word, pos).  Integer counts throughout — bit-exact
cross-engine.

Reference parity: no tokenizer surface in the reference; north-star
text-pipeline coverage (SURVEY §2 extension), sibling of
`text_bigram_lm` (functions/textops.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..manifest_log import ManifestLog
from ..registry import register
from ..sources.scans import scratch_dir
from .text import duck_tokens, spark_tokens

TOP_PAIRS = 10


def _sym_rows(words: DataFrame) -> DataFrame:
    """(word, wc, pos, sym): one row per character of each distinct
    word; pos is 0-based and dense."""
    return words.select(
        "word",
        "wc",
        F.posexplode(F.expr("filter(split(word, ''), c -> c != '')")).alias(
            "pos", "sym"
        ),
    )


def _pair_counts(syms: DataFrame) -> DataFrame:
    """(left_sym, right_sym, pair_cnt): adjacent-symbol pair counts
    weighted by word count; `syms` must carry (word, wc, pos, sym)."""
    w = Window.partitionBy("word").orderBy("pos")
    return (
        syms.withColumn("nxt", F.lead("sym").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("left_sym"), F.col("nxt").alias("right_sym"))
        .agg(F.sum("wc").cast("bigint").alias("pair_cnt"))
    )


def apply_merge(syms: DataFrame, top: DataFrame) -> DataFrame:
    """Greedy left-to-right application of the single merge pair in
    `top` (columns a, b) to the symbol stream — returns a new
    (word, wc, pos, sym) stream with merged symbols concatenated and
    absorbed positions dropped (pos keeps its original values; only
    relative order matters downstream)."""
    w = Window.partitionBy("word").orderBy("pos")
    flagged = (
        syms.join(F.broadcast(top))
        .withColumn("nxt", F.lead("sym").over(w))
        .withColumn(
            "is_match", (F.col("sym") == F.col("a")) & (F.col("nxt") == F.col("b"))
        )
    )
    # Greedy keep: within each run of consecutive match positions,
    # keep even offsets from the run start (gap-islands on matches).
    m = flagged.filter("is_match").select("word", "pos")
    wm = Window.partitionBy("word").orderBy("pos")
    runs = m.withColumn("grp", F.col("pos") - F.row_number().over(wm))
    wr = Window.partitionBy("word", "grp")
    kept = (
        runs.withColumn("run_start", F.min("pos").over(wr))
        .filter((F.col("pos") - F.col("run_start")) % 2 == 0)
        .select(
            F.col("word").alias("k_word"),
            F.col("pos").alias("k_pos"),
            F.lit(True).alias("kept"),
        )
    )
    merged = (
        flagged.join(
            kept,
            (flagged["word"] == F.col("k_word")) & (flagged["pos"] == F.col("k_pos")),
            "left",
        )
        .withColumn("prev_kept", F.lag("kept").over(w))
        .withColumn(
            "new_sym",
            F.when(F.col("kept"), F.concat("sym", "nxt")).when(
                F.col("prev_kept").isNull(), F.col("sym")
            ),
        )
        .filter(F.col("new_sym").isNotNull())
        .select("word", "wc", "pos", F.col("new_sym").alias("sym"))
    )
    return merged


_DUCK_SYMS = """
    words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM (
            SELECT unnest({toks}) AS word FROM documents
        ) GROUP BY word
    ),
    syms AS (
        SELECT word, wc, i - 1 AS pos, substring(word, i, 1) AS sym
        FROM words, unnest(generate_series(1, length(word))) AS u(i)
    )"""


def _duck_pairs(src: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT sym AS left_sym, nxt AS right_sym,
               CAST(SUM(wc) AS BIGINT) AS pair_cnt
        FROM (
            SELECT word, wc, sym,
                   lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
            FROM {src}
        ) WHERE nxt IS NOT NULL
        GROUP BY sym, nxt
    )"""


@register(
    "text_bpe_merge_step",
    oracle=f"""
    WITH {_DUCK_SYMS.format(toks=duck_tokens('text'))},
    {_duck_pairs('syms', 'p1')},
    top1 AS (
        SELECT left_sym AS a, right_sym AS b FROM p1
        ORDER BY pair_cnt DESC, left_sym, right_sym LIMIT 1
    ),
    flagged AS (
        SELECT s.word, s.wc, s.pos, s.sym,
               lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt,
               t.a, t.b
        FROM syms s CROSS JOIN top1 t
    ),
    matches AS (
        SELECT word, pos,
               pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
        FROM flagged WHERE sym = a AND nxt = b
    ),
    kept AS (
        SELECT word, pos, TRUE AS kept FROM (
            SELECT word, pos,
                   pos - MIN(pos) OVER (PARTITION BY word, grp) AS off
            FROM matches
        ) WHERE off % 2 = 0
    ),
    merged AS (
        SELECT word, wc, pos, new_sym AS sym FROM (
            SELECT f.word, f.wc, f.pos,
                   CASE WHEN k.kept THEN f.sym || f.nxt
                        WHEN lag(k.kept) OVER (
                            PARTITION BY f.word ORDER BY f.pos
                        ) IS NULL THEN f.sym
                   END AS new_sym
            FROM flagged f
            LEFT JOIN kept k ON k.word = f.word AND k.pos = f.pos
        ) WHERE new_sym IS NOT NULL
    ),
    {_duck_pairs('merged', 'p2')},
    t1 AS (
        SELECT 1 AS round, left_sym, right_sym, pair_cnt FROM p1
        ORDER BY pair_cnt DESC, left_sym, right_sym LIMIT {TOP_PAIRS}
    ),
    t2 AS (
        SELECT 2 AS round, left_sym, right_sym, pair_cnt FROM p2
        ORDER BY pair_cnt DESC, left_sym, right_sym LIMIT {TOP_PAIRS}
    ),
    u AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
    SELECT CAST(round AS INT) AS round,
           CAST(row_number() OVER (
               PARTITION BY round
               ORDER BY pair_cnt DESC, left_sym, right_sym
           ) AS INT) AS rank,
           left_sym, right_sym, pair_cnt
    FROM u
    """,
)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_PAIRS} symbol pairs before and after applying the
    corpus's single most frequent BPE merge; round 1 rank 1 is the
    merge that was applied."""
    return bpe_merge_step(load_table(spark, sf_dir, "documents"))


def bpe_merge_step(d: DataFrame) -> DataFrame:
    """The composable operator behind `text_bpe_merge_step` (also
    driven by scripts/scale_probe.py over key-shifted corpora)."""
    words = (
        d.selectExpr(f"explode({spark_tokens('text')}) AS word")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("wc"))
    )
    syms = _sym_rows(words)
    p1 = _pair_counts(syms)
    top = (
        p1.orderBy(F.desc("pair_cnt"), F.asc("left_sym"), F.asc("right_sym"))
        .limit(1)
        .select(F.col("left_sym").alias("a"), F.col("right_sym").alias("b"))
    )
    p2 = _pair_counts(apply_merge(syms, top))

    def top_n(p: DataFrame, rnd: int) -> DataFrame:
        return (
            p.orderBy(F.desc("pair_cnt"), F.asc("left_sym"), F.asc("right_sym"))
            .limit(TOP_PAIRS)
            .withColumn("round", F.lit(rnd))
        )

    u = top_n(p1, 1).unionByName(top_n(p2, 2))
    wr = Window.partitionBy("round").orderBy(
        F.desc("pair_cnt"), F.asc("left_sym"), F.asc("right_sym")
    )
    return u.select(
        F.col("round").cast("int"),
        F.row_number().over(wr).cast("int").alias("rank"),
        "left_sym",
        "right_sym",
        "pair_cnt",
    )


# --- K-round vocabulary induction: the full training loop, bounded ---------
#
# `text_bpe_merge_step` proves ONE merge end-to-end; a tokenizer ships
# a MERGE TABLE — the first K greedy merges in order.  K rounds of the
# same algebra, each round vocabulary-scale and linear (one pair-count
# aggregate, one bounded top-1, one per-word merge pass), with the
# symbol stream localCheckpoint-truncated between rounds exactly like
# the connected-components fixpoint (dedup/graph.py) so round k reads
# materialized symbols instead of recomputing rounds 1..k-1.  The only
# driver traffic is one (pair, count) row per round — the merge-table
# entry itself, the bounded-metadata-collect discipline.

K_MERGES = 8


def _duck_round(src: str, k: int) -> str:
    """One DuckDB merge round: pair counts over `src`, the greedy
    top-1 merge, and the merged symbol stream `merged{k}` — the
    single-step oracle algebra with suffixed CTE names so K rounds
    compose."""
    # AS MATERIALIZED: each round references its source CTE twice —
    # without materialization DuckDB inlines the references and the
    # K-round chain re-expands ~2^K parquet scans (fd exhaustion at
    # K=8); materialized, each round computes once, like Spark's
    # localCheckpoint on the other side.
    return f"""
    {_duck_pairs(src, f'p{k}')},
    top{k} AS MATERIALIZED (
        SELECT left_sym AS a, right_sym AS b, pair_cnt FROM p{k}
        ORDER BY pair_cnt DESC, left_sym, right_sym LIMIT 1
    ),
    flagged{k} AS MATERIALIZED (
        SELECT s.word, s.wc, s.pos, s.sym,
               lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt,
               t.a, t.b
        FROM {src} s CROSS JOIN top{k} t
    ),
    matches{k} AS (
        SELECT word, pos,
               pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
        FROM flagged{k} WHERE sym = a AND nxt = b
    ),
    kept{k} AS (
        SELECT word, pos, TRUE AS kept FROM (
            SELECT word, pos,
                   pos - MIN(pos) OVER (PARTITION BY word, grp) AS off
            FROM matches{k}
        ) WHERE off % 2 = 0
    ),
    merged{k} AS MATERIALIZED (
        SELECT word, wc, pos, new_sym AS sym FROM (
            SELECT f.word, f.wc, f.pos,
                   CASE WHEN k.kept THEN f.sym || f.nxt
                        WHEN lag(k.kept) OVER (
                            PARTITION BY f.word ORDER BY f.pos
                        ) IS NULL THEN f.sym
                   END AS new_sym
            FROM flagged{k} f
            LEFT JOIN kept{k} k ON k.word = f.word AND k.pos = f.pos
        ) WHERE new_sym IS NOT NULL
    )"""


def _vocab_k_oracle(k: int) -> str:
    rounds = "".join(
        _duck_round("syms" if i == 1 else f"merged{i - 1}", i) + ","
        for i in range(1, k + 1)
    )
    picks = "\n        UNION ALL ".join(
        f"SELECT {i} AS step, a AS left_sym, b AS right_sym, pair_cnt"
        f" FROM top{i}"
        for i in range(1, k + 1)
    )
    return f"""
    WITH {_DUCK_SYMS.format(toks=duck_tokens('text'))},
    {rounds}
    picks AS ({picks})
    SELECT CAST(step AS INT) AS step, left_sym, right_sym,
           CAST(pair_cnt AS BIGINT) AS pair_cnt
    FROM picks
    """


def _learn_merges(d: DataFrame, k: int, need_final_syms: bool = True):
    """Run the K-round training loop; return (merge table rows, final
    symbol stream or None).  Per round: one vocabulary-scale pair
    count, one deterministic top-1 (count desc, pair asc), one greedy
    merge pass; symbols checkpoint-truncated between rounds (lazy —
    the checkpoint materializes inside the next round's first job, so
    each round costs ONE job plus the 1-row merge-pick collect).  When
    the caller only wants the merge TABLE, `need_final_syms=False`
    skips the last round's merge pass entirely."""
    words = (
        d.selectExpr(f"explode({spark_tokens('text')}) AS word")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("wc"))
    )
    spark = d.sparkSession
    syms = _sym_rows(words).localCheckpoint(eager=False)
    merges = []
    for step in range(1, k + 1):
        top_row = (
            _pair_counts(syms)
            .orderBy(
                F.desc("pair_cnt"), F.asc("left_sym"), F.asc("right_sym")
            )
            .limit(1)
            .collect()[0]
        )
        merges.append(
            (step, top_row["left_sym"], top_row["right_sym"],
             top_row["pair_cnt"])
        )
        if step == k and not need_final_syms:
            return merges, None
        top = spark.createDataFrame(
            [(top_row["left_sym"], top_row["right_sym"])],
            "a string, b string",
        )
        syms = apply_merge(syms, top).localCheckpoint(eager=False)
    return merges, syms


_MERGES_SCHEMA = "step int, left_sym string, right_sym string, pair_cnt bigint"


def build_bpe_index(
    d: DataFrame, table_dir: str, k: int = K_MERGES, version: int = 1
) -> dict:
    """Train ONCE, commit the tokenizer as frozen artifacts (VERDICT r9
    ask #3, the similarity/index_store.py build-once/probe-many
    pattern): the K-entry merge table (the semantic artifact a
    production tokenizer ships) and the tokenized VOCABULARY it induces
    (word -> n_tok over the corpus's distinct words — the lookup the
    apply step joins against), both immutable parquet under
    v{version}/ named by an atomically-published manifest.  Training is
    the K-round loop exactly once; every later apply is a parquet scan
    + one vocabulary-scale join, never a retrain."""
    merges, syms = _learn_merges(d, k)
    spark = d.sparkSession
    vdir = os.path.join(table_dir, f"v{version}")
    merges_path = os.path.join(vdir, "merges")
    vocab_path = os.path.join(vdir, "vocab")
    spark.createDataFrame(merges, _MERGES_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(merges_path)
    (
        syms.groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n_tok"))
        .write.mode("overwrite")
        .parquet(vocab_path)
    )
    manifest = {
        "version": version,
        "k": k,
        "merges": merges_path,
        "vocab": vocab_path,
    }
    ManifestLog(table_dir).publish(version, manifest)
    return manifest


def load_bpe_index(
    spark: SparkSession, table_dir: str, version: int = 1
) -> tuple[DataFrame, DataFrame]:
    """(merge table, tokenized vocabulary) from the manifest — parquet
    scans only; nothing is recomputed from the raw corpus."""
    manifest = ManifestLog(table_dir).load(version)
    return (
        spark.read.parquet(manifest["merges"]),
        spark.read.parquet(manifest["vocab"]),
    )


def _bpe_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-missing guard shared by the trainer and apply queries
    (each must be self-contained under the driver contract; whichever
    runs first pays the one training pass)."""
    table_dir = scratch_dir("bpe_index", sf_dir)
    if not ManifestLog(table_dir).exists(1):
        build_bpe_index(load_table(spark, sf_dir, "documents"), table_dir)
    return table_dir


@register("text_bpe_vocab_k", oracle=_vocab_k_oracle(K_MERGES))
def text_bpe_vocab_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {K_MERGES}-entry BPE merge table learned from the documents
    corpus — K deterministic greedy rounds, each linear at vocabulary
    scale (VERDICT r8 ask #8), run ONCE and committed as the frozen
    tokenizer artifact (`build_bpe_index`); this query is the trainer,
    returning the committed table.  The oracle replays all {K_MERGES}
    rounds symbolically in SQL, so every intermediate pair count,
    tiebreak, and greedy-overlap decision — i.e. the artifact's
    CONTENT — is hash-checked, not just its shape."""
    table_dir = _bpe_index_dir(spark, sf_dir)
    merges, _ = load_bpe_index(spark, table_dir)
    return merges


@register(
    "text_bpe_apply_vocab",
    oracle=f"""
    WITH {_DUCK_SYMS.format(toks=duck_tokens('text'))},
    {"".join(_duck_round("syms" if i == 1 else f"merged{i - 1}", i) + "," for i in range(1, K_MERGES + 1))}
    tokw AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM merged{K_MERGES} GROUP BY word
    ),
    dw AS (
        SELECT lang, unnest({duck_tokens('text')}) AS word
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(word)) AS BIGINT) AS n_chars,
           CAST(SUM(t.n_tok) AS BIGINT) AS n_tokens
    FROM dw JOIN tokw t USING (word)
    GROUP BY lang
    """,
)
def text_bpe_apply_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer lane end-to-end: LEARN the {K_MERGES}-merge BPE
    vocabulary, then APPLY it back to the corpus — per language, the
    word count, character count, and post-BPE token count (chars →
    tokens is the compression a trained tokenizer buys; n_tokens is
    what a training-data budget actually meters).  The apply step is
    a vocabulary-scale join (every distinct word's token count from
    the final symbol stream) against the corpus's exploded words —
    one corpus pass, never a per-document re-tokenization.  The
    oracle replays training AND application symbolically, so the
    per-language sums certify every merge decision's effect on every
    word of the corpus.  Train-once/apply-everywhere (VERDICT r9 ask
    #3): the tokenized vocabulary comes from the COMMITTED artifact
    (`build_bpe_index`, built here only if missing) — when the
    artifact exists this plan is a parquet scan + one join, no
    training loop (tests/test_llm_ops.py asserts the plan reads the
    index store)."""
    d = load_table(spark, sf_dir, "documents")
    table_dir = _bpe_index_dir(spark, sf_dir)
    _, tokw = load_bpe_index(spark, table_dir)
    dw = d.selectExpr(
        "lang", f"explode({spark_tokens('text')}) AS word"
    )
    return (
        dw.join(tokw, "word")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
