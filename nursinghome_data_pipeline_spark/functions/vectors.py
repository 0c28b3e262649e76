"""Vector column expressions over ``array<float>`` embeddings.

All pure Column expressions (``zip_with`` / ``aggregate`` higher-order
functions) — JVM-side, no Python UDF, no data movement to the driver.
Element arithmetic is done in double with a strict left-to-right
accumulation order so results are reproducible run-to-run regardless of
partitioning (Spark's ``aggregate`` HOF is sequential per row).
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def array_literal(values, ddl_type: str) -> str:
    """SQL text of the driver-held array ``values`` as ONE typed literal.

    ``from_json('<json.dumps(values)>', '<ddl_type>')`` is one
    expression whatever the length; constant folding evaluates it once
    to a single ``Literal``, so no analyzer or optimizer rule walks a
    node per element. ``json.dumps`` writes each double in ``repr``
    form, which Jackson parses back to the same bits (-0.0 and
    subnormals included), and NaN/±Infinity as the bare tokens Spark's
    JSON reader accepts by default. FAILFAST makes a value the type
    cannot hold (a long past 2^63) fail planning instead of folding to
    NULL. ``values`` holds numbers, lists and dicts (for structs) only:
    the JSON is spliced into a SQL string literal unescaped. Wrap it in
    ``F.expr`` for a Column."""
    return f"from_json('{json.dumps(values)}', '{ddl_type}', map('mode', 'FAILFAST'))"


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
