"""Exact (brute-force) cosine top-k similarity search (north-star M4).

Baseline ANN: for each query vector, score every candidate and keep the
top-k by cosine with a deterministic tiebreak.  The plan is
broadcast(queries) ⋈ candidates (nested loop over a tiny broadcast
side) → window top-k per query — the fact table streams once, no
shuffle of the big side until the (tiny) ranked output.

At 100 TB this exact scan is the referee and the last-mile reranker;
the first cut is similarity/lsh.py.  Scoring in numpy over Arrow
batches is the measured alternative (pandas_path.py).  At d=64 the JVM
codegen fold still wins: 2,000 sf0.1 embeddings, warm, one session,
the two queries interleaved, 15 runs each on 4 vCPU, median build +
collect 0.52 s (fold) vs 0.58 s (mapInPandas path).  The Arrow path
pays for the transfer and an eager collect of the query block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.vectors import duck_dot, duck_sq_norm, spark_dot, spark_sq_norm
from ..registry import register

N_QUERIES = 10
TOP_K = 5


def cosine_topk(
    queries: DataFrame, candidates: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Reusable operator: (query_id, q_emb, q_sq) × (vec_id, embedding,
    sq) → top-k per query by cosine desc, vec_id asc.  A zero-norm
    vector's cosine is NULL (`try_divide`; ANSI `/` raises), as in
    DuckDB and the mapInPandas path, and ranks last."""
    scored = (
        candidates.join(
            F.broadcast(queries), F.col("query_id") != F.col("vec_id")
        )
        .selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            f"try_divide({spark_dot('q_emb', 'embedding')}, sqrt(q_sq) * sqrt(sq)) AS cosine",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@register(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding, {duck_sq_norm('embedding')} AS sq FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, sq AS q_sq
          FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               {duck_dot('q.q_emb', 'v.embedding')} / (sqrt(q.q_sq) * sqrt(v.sq))
                 AS cosine
        FROM q JOIN v ON q.query_id <> v.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id < 10."""
    e = load_table(spark, sf_dir, "embeddings")
    v = e.selectExpr("vec_id", "embedding", f"{spark_sq_norm('embedding')} AS sq")
    q = v.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS query_id", "embedding AS q_emb", "sq AS q_sq"
    )
    return cosine_topk(q, v)
