"""Cross-engine vector primitives over array<float> embedding columns.

Dot products and norms are left-to-right folds after widening every
element to double, so Spark (`zip_with` + `aggregate`) and DuckDB
(index transform + `list_reduce`) perform the identical IEEE operation
sequence — results are bit-exact with no tolerance needed.

Spark-side expressions are Catalyst higher-order functions: they run
in the JVM inside whole-stage codegen, not in Python.  For 100 TB
ANN workloads the same expressions apply after an LSH/IVF candidate
cut (similarity/lsh.py); a vectorized Pandas-UDF path would only win
if the per-row dimension were far larger (BLAS-amenable) — measured,
not assumed, in bench.py.
"""

from __future__ import annotations


def spark_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


def spark_sq_norm(a: str) -> str:
    return spark_dot(a, a)


def duck_sq_norm(a: str) -> str:
    return duck_dot(a, a)
