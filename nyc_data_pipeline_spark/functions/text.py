"""Cross-engine text primitives: normalization, tokenization, and a
deterministic token hash.

Spark's hash()/xxhash64 and DuckDB's hash() use different algorithms,
so every dedup/similarity operator that needs integer token ids uses
this portable polynomial hash instead:

    h(t) = fold_{c in chars(t)} (acc * 31 + ascii(c)) mod 1_000_000_007

Both engines evaluate it with the same left-to-right fold (Spark
`aggregate`, DuckDB `list_reduce`), so ids — and everything built on
them (MinHash signatures, LSH bands, SimHash bits, Jaccard sets) —
are identical across engines.  The builders below emit the paired
Spark-SQL / DuckDB-SQL expression strings; Spark strings still compile
to whole-stage-codegen'd Catalyst lambdas (no Python per row).
"""

from __future__ import annotations

HASH_MOD = 1_000_000_007

# --- tokenization ---------------------------------------------------------

def spark_tokens(col: str) -> str:
    """Lowercase alnum tokens (Spark SQL expression)."""
    return f"filter(split(lower({col}), '[^a-z0-9]+'), t -> t != '')"


def duck_tokens(col: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), t -> t <> '')"
    )


# --- portable token hash --------------------------------------------------

def spark_token_hashes(tokens_expr: str) -> str:
    return (
        f"transform({tokens_expr}, t -> aggregate(filter(split(t, ''), c -> c != ''), "
        f"CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + ascii(c)) % {HASH_MOD}))"
    )


def duck_token_hashes(tokens_expr: str) -> str:
    return (
        f"list_transform({tokens_expr}, t -> list_reduce("
        f"list_prepend(CAST(0 AS BIGINT), list_transform(string_split(t, ''), "
        f"c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * 31 + b) % {HASH_MOD}))"
    )


# --- word n-gram shingles -------------------------------------------------

def spark_bigrams(tokens_expr: str) -> str:
    """Word bigrams; caller must guard size >= 2 (sequence(1,0) would
    count down in Spark)."""
    return (
        f"transform(sequence(1, size({tokens_expr}) - 1), "
        f"i -> concat_ws(' ', element_at({tokens_expr}, i), "
        f"element_at({tokens_expr}, i + 1)))"
    )


def duck_bigrams(tokens_expr: str) -> str:
    return (
        f"list_transform(generate_series(1, len({tokens_expr}) - 1), "
        f"i -> {tokens_expr}[i] || ' ' || {tokens_expr}[i + 1])"
    )


# --- n-gram ids from token hashes (the fast path) --------------------------
#
# Hashing the gram STRING re-folds every character of every gram — with
# higher-order-function lambdas interpreted (not codegen'd), that is the
# dominant cost of any shingle operator.  Instead: hash each token once,
# then combine n consecutive token hashes with a rolling polynomial.
#
# On the Spark side the combine must NOT be an array lambda indexing a
# hash-array expression: CollapseProject inlines the array expression
# into every element_at and recomputes it per element (measured 91 s vs
# ~1 s at sf0.1), and exchanges do not reliably stop it.  The robust
# plan is relational: posexplode the token hashes once, then combine
# with lead() windows — pure codegen'd built-ins (see
# textops.gram_id_rows).  DuckDB evaluates CTEs eagerly, so the array
# form below is fine for oracles.

def duck_ngram_hashes(hashes_col: str, n: int) -> str:
    acc = f"{hashes_col}[i]"
    for j in range(1, n):
        acc = f"(({acc}) * 31 + {hashes_col}[i + {j}]) % {HASH_MOD}"
    return (
        f"list_transform(generate_series(1, len({hashes_col}) - {n - 1}), "
        f"i -> {acc})"
    )


# --- normalization --------------------------------------------------------

def spark_norm_text(col: str) -> str:
    return f"trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' '))"


def duck_norm_text(col: str) -> str:
    return f"trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'))"
