"""Vectorized Pandas (Arrow) scoring path for cosine top-k.

The engine's default dot product is a JVM codegen fold
(functions/vectors.py).  This module is the measured alternative the
UDF policy (SURVEY §2.10) calls for: numpy scoring over Arrow record
batches.  bench.py carries both so the crossover is measured, not
assumed.

Shape: each candidate crosses the Arrow boundary once.  The query block
(N_QUERIES rows) is collected on the driver as a float64 matrix and
closed over; the candidates go through one ``mapInPandas`` pass that
scores every row of a batch against every query at once and emits
``(query_id, neighbor_id, cosine)`` for all pairs but the self pair.
The top-k stays a Spark window, so tie and NaN ordering are Spark's.
The plan is MapInPandas over the embeddings scan, then the window.

The earlier shape broadcast-joined queries × candidates and called a
scalar ``pandas_udf(q_emb, embedding)`` per pair, so every query
embedding crossed once per candidate.  Measured on the benchmark's
`curate_udf` workload (2,000 sf0.1 embeddings, 4 vCPU):
- bytes sent to Python per warm query: 10,720,272 → 569,352; bytes
  returned: 160,208 → 480,032 (three columns per pair instead of one);
- `live_heap_mb`: 106.5 → 71.5 MB (median of 10 pairs).  The pair
  stage's ArrowEvalPython buffered its input rows in a HybridRowQueue
  backed by a 32 MiB on-heap page, still reachable after the query
  from the last task's Python-runner monitor thread.  mapInPandas
  keeps no such queue.

Bit-exactness: numpy's pairwise summation would differ from the JVM's
left-to-right fold in the last ulp, so the batch accumulates
sequentially over the 64 dims while vectorizing over (candidate,
query) pairs: ``acc = acc + c[:, i, None] * Q[None, :, i]``.  Per pair
that is the IEEE double operation sequence of ``spark_dot`` (float
widened to double, product, running sum from 0.0), and the division
keeps its order, ``dot / (sqrt(q_sq) * sqrt(sq))`` with both squared
norms computed by Spark.  Cosines are bit-identical to
sim_topk_bruteforce and the DuckDB oracle.  A zero-norm vector's 0/0
is NaN in numpy, which the Arrow conversion sends back as null (the
oracle's value); the JVM fold's `try_divide` gives the same null.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.vectors import spark_sq_norm
from ..registry import register
from .brute_force import N_QUERIES, TOP_K


def _score_batches(qid: np.ndarray, Q: np.ndarray, q_root: np.ndarray):
    """mapInPandas body: (vec_id, embedding, sq) batches → every
    (query, candidate) pair but the self pair, cosine by the fold.
    Nested, so it is pickled by value with the query block it closes
    over."""

    def score(batches):
        for pdf in batches:
            if pdf.empty or not len(qid):  # Q is (0,) for an empty block
                continue
            c = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((len(c), len(qid)), dtype=np.float64)
            for i in range(Q.shape[1]):
                acc = acc + c[:, i, None] * Q[None, :, i]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (q_root[None, :] * np.sqrt(pdf["sq"].to_numpy())[:, None])
            vid = pdf["vec_id"].to_numpy()
            nbr = np.repeat(vid, len(qid))
            qry = np.tile(qid, len(vid))
            keep = qry != nbr
            yield pd.DataFrame(
                {"query_id": qry[keep], "neighbor_id": nbr[keep], "cosine": cos.ravel()[keep]}
            )

    return score


def cosine_topk_pandas(
    queries: DataFrame, candidates: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Same contract as brute_force.cosine_topk: (query_id, q_emb, q_sq)
    × (vec_id, embedding, sq) → top-k per query by cosine desc, vec_id
    asc.  Collects the query block eagerly (one Spark job)."""
    rows = queries.select("query_id", "q_emb", "q_sq").collect()
    qid = np.array([r.query_id for r in rows], dtype=np.int64)
    Q = np.array([r.q_emb for r in rows], dtype=np.float64)
    q_root = np.sqrt(np.array([r.q_sq for r in rows], dtype=np.float64))
    scored = candidates.select("vec_id", "embedding", "sq").mapInPandas(
        _score_batches(qid, Q, q_root), "query_id bigint, neighbor_id bigint, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# Same semantics, same oracle text as the JVM-fold brute force.
from ..registry import ORACLE  # noqa: E402


@register("sim_topk_pandas_udf", oracle=ORACLE["sim_topk_bruteforce"])
def sim_topk_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors via the Arrow mapInPandas path;
    bit-identical to sim_topk_bruteforce (same fold order)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = e.selectExpr("vec_id", "embedding", f"{spark_sq_norm('embedding')} AS sq")
    q = v.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS query_id", "embedding AS q_emb", "sq AS q_sq"
    )
    return cosine_topk_pandas(q, v)
