"""Cross-engine expression helpers.

The reference's expression IR (BoundExpr ∈ {Constant, ColumnRef, InputRef,
BinaryOp, TypeCast, AggFunc}, src/binder/expression/mod.rs:16-24) is plain
Column code here: ``F.lit``, ``F.col``, Column operators and ``Column.cast``.
Catalyst's analyzer resolves attributes (InputRef) and inserts the implicit
numeric widening the reference builds by hand
(src/binder/expression/binary_op.rs:27-63). AND/OR/!= bind but panic at
runtime in the reference (src/executor/array_compute.rs:62-64); they are
ordinary Column operators here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_round(c: Column, n: int = 2) -> Column:
    """floor(x*10^n + 0.5)/10^n in float64 — rounding that is bit-identical
    across engines. Spark's ``round`` is decimal-string HALF_UP (BigDecimal)
    while DuckDB rounds the raw binary double; they disagree whenever the
    double sits just below a .5 decimal boundary (e.g. 8285.425). The floor
    form uses identical double ops everywhere. SQL twin:
    ``FLOOR((expr) * 10^n + 0.5) / 10^n``."""
    f = 10 ** n
    return F.floor(c * f + F.lit(0.5)) / f
