"""Vector math over array<float|double> columns — pure JVM expressions.

No UDFs: dot products, norms, and cosine run as Catalyst higher-order
functions (zip_with / aggregate / transform) inside whole-stage codegen, so
similarity scans stay columnar and distribute like any other projection
(SURVEY §2.12 #70/#76; parity vs DuckDB's list_cosine_similarity verified).

All helpers cast elements to double first: the testdata stores float32, and
pinning the promotion point keeps Spark and any oracle bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ with left-to-right accumulation (deterministic)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_sq(a: Column | str) -> Column:
    return F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(norm_sq(a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """cos(a,b) = a·b / (‖a‖‖b‖); NULL-safe via try_divide (zero vectors)."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column | str) -> Column:
    """aᵢ / ‖a‖ as array<double>; zero vectors pass through unscaled.

    The norm is bound once per row via ``array_repeat`` and consumed by
    ``zip_with`` — referencing it inside a per-element ``transform`` lambda
    would make interpreted higher-order-function eval recompute the O(d)
    aggregate per element (O(d²)/row: invisible at d=64, a real cost at
    embedding dims in the thousands)."""
    n = l2_norm(a)
    scaled = F.zip_with(
        a,
        F.array_repeat(n, F.size(a)),
        lambda x, nn: x.cast("double") / nn,
    )
    return F.when(n == 0.0, F.transform(a, lambda x: x.cast("double"))).otherwise(
        scaled
    )
