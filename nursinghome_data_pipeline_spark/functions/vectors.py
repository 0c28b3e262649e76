"""Vector column expressions over ``array<float>`` embeddings.

All pure Column expressions (``zip_with`` / ``aggregate`` higher-order
functions) — JVM-side, no Python UDF, no data movement to the driver.
Element arithmetic is done in double with a strict left-to-right
accumulation order so results are reproducible run-to-run regardless of
partitioning (Spark's ``aggregate`` HOF is sequential per row).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def double_sql(v: float) -> str:
    """SQL text of the double ``v``, bit-exact: ``repr`` round-trips
    through the parser's ``Double.parseDouble`` (``-0.0`` included),
    and NaN/±Infinity — which have no literal form — become casts."""
    v = float(v)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v in (float("inf"), float("-inf")):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


def double_array_sql(vals) -> str:
    """SQL text of an ``array<double>`` literal (see :func:`double_sql`).

    Parsed with ``F.expr`` it is one py4j round trip; ``F.lit(list)``
    is ``array(*[lit(x) ...])``, one round trip per element (a warm
    16-centroid × 64-dim Lloyd assignment made thousands of them)."""
    return f"array({', '.join(double_sql(v) for v in vals)})"


def dot_product_col(a: Column | str, b: Column | str) -> Column:
    """Sequential-order double dot product of two float arrays."""
    prods = F.zip_with(
        _col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm_col(a: Column | str) -> Column:
    return F.sqrt(dot_product_col(a, a))


def cosine_similarity_col(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    num = dot_product_col(a, b)
    den = l2_norm_col(a) * l2_norm_col(b)
    return F.when(den == 0.0, F.lit(None).cast("double")).otherwise(num / den)
