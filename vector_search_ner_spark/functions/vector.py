"""Vector distance/similarity column expressions.

All pure built-in higher-order functions (`zip_with` + `aggregate`) so
they run JVM-side — no Python UDF in the k-NN hot path. This replaces
the reference's hnswlib distance kernels
(`/root/reference/main.py:158-165` `similarity_search_with_score`,
L2-over-HNSW) with exact distributed computation.

Honest performance note: Spark evaluates higher-order functions with
INTERPRETED expression eval (they are CodegenFallback, outside
whole-stage codegen), so per-element expression-node count is the cost
driver. Hot paths therefore pre-cast vectors to `array<double>` once
(at store build / probe prep) and fold with `dot_product_nc`, which
drops the two per-element casts — measured ~30% faster on a 60k-pair
scan, bit-identical result (casting each element once versus at every
use produces the same double). An unrolled 64-term `a[0]*b[0]+…`
expression was tried and is ~3× SLOWER than the interpreted fold (the
giant codegen tree defeats JIT), so the fold stays.

Determinism note: `aggregate` folds the array sequentially
left-to-right over DOUBLE, so scores are bit-reproducible across
engines — the DuckDB oracle reproduces the identical fold with
`list_sum(list_transform(...))`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _fold_sum(arr: Column) -> Column:
    """Sequential left-to-right sum of an array<double> column."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def dot_product(a: Column, b: Column) -> Column:
    """Dot product of two array<float|double> columns, double precision."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return _fold_sum(prods)


def to_double_array(a: Column) -> Column:
    """Cast array<float> → array<double> element-wise, once."""
    return F.transform(a, lambda x: x.cast("double"))


def dot_product_nc(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns — the no-cast twin of
    `dot_product` for pre-cast vectors (same left-to-right fold, bit-
    identical result, ~30% fewer interpreted expression nodes)."""
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def l2_distance(a: Column, b: Column) -> Column:
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.sqrt(_fold_sum(diffs))


def l2_distance_nc(a: Column, b: Column) -> Column:
    """L2 over pre-cast array<double> — bit-identical to `l2_distance`
    and drops FOUR interpreted casts per element (the squared-diff
    lambda evaluates each cast twice)."""
    diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.sqrt(_fold_sum(diffs))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot_product(a, b) / denom)


# ---------------------------------------------------------------------------
# DuckDB oracle fragments — the exact same folds, as ANSI-ish SQL text.
# Kept next to the Spark exprs so they can't drift apart.
# ---------------------------------------------------------------------------


def duck_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def duck_norm(a: str) -> str:
    return f"sqrt({duck_dot(a, a)})"


def duck_cosine(a: str, b: str) -> str:
    return (
        f"CASE WHEN {duck_norm(a)} * {duck_norm(b)} = 0.0 THEN 0.0 "
        f"ELSE {duck_dot(a, b)} / ({duck_norm(a)} * {duck_norm(b)}) END"
    )


def duck_l2(a: str, b: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))))"
    )
