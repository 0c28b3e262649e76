"""Z-order (Morton) clustering keys as portable integer arithmetic.

Multi-column data skipping: parquet/ORC file- and row-group-level
min/max statistics prune scans only when the data is CLUSTERED on the
filtered columns. Sorting by a single column clusters that column
perfectly and the others not at all; sorting by the MORTON CODE —
the bitwise interleave of two (or more) columns — gives every
interleaved column locality, so range predicates on either column
prune files (the layout trick behind DBMS Z-ORDER/cluster-by
features, public literature: Morton 1966).

The interleave is generated as pure integer arithmetic —
``((x DIV 2^i) % 2) * 4^i`` terms — instead of bit intrinsics, for two
reasons: Spark keeps the whole expression inside whole-stage codegen,
and the IDENTICAL formula is emitted as DuckDB SQL (integer division
spelled ``//`` there), so the oracle verifies every bit position
term-for-term. Inputs are masked to ``bits`` low bits first (pmod, so
negative inputs behave identically in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _terms(x: str, y: str, bits: int, div_op: str) -> str:
    parts = []
    for i in range(bits):
        p = 1 << i
        parts.append(f"((({x}) {div_op} {p}) % 2) * {1 << (2 * i)}")
        parts.append(f"((({y}) {div_op} {p}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(parts)


def morton2_col(x_expr: str, y_expr: str, *, bits: int = 16) -> Column:
    """Spark Column: interleave the low ``bits`` bits of two bigint
    SQL expressions (x in even positions, y in odd)."""
    mask = 1 << bits
    body = _terms(
        f"pmod({x_expr}, {mask})", f"pmod({y_expr}, {mask})", bits, "DIV"
    )
    return F.expr(f"CAST({body} AS BIGINT)")


def oracle_morton2(x_expr: str, y_expr: str, *, bits: int = 16) -> str:
    """DuckDB SQL mirroring :func:`morton2_col` term-for-term.

    DuckDB's ``%`` keeps the dividend's sign (like Java's), so pmod is
    spelled ``((x % m) + m) % m`` — identical results to Spark's pmod
    for all inputs.
    """
    mask = 1 << bits
    px = f"(((({x_expr}) % {mask}) + {mask}) % {mask})"
    py = f"(((({y_expr}) % {mask}) + {mask}) % {mask})"
    body = _terms(px, py, bits, "//")
    return f"CAST({body} AS BIGINT)"
