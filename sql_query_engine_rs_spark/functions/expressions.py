"""v0 expression surface: literals, column refs, binary ops.

Reference expression IR: BoundExpr ∈ {Constant, ColumnRef, InputRef,
BinaryOp, TypeCast, AggFunc} (src/binder/expression/mod.rs:16-24). Catalyst's
analyzer already performs attribute resolution (InputRef) and implicit numeric
widening (the reference inserts BoundTypeCast by hand,
src/binder/expression/binary_op.rs:27-63), and explicit casts are plain
``Column.cast``, so this module is mostly a typed veneer that documents
parity.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column
from pyspark.sql import functions as F

# Binary operators the reference executes (src/executor/array_compute.rs:47-61)
# plus the ones that bind but panic there (:62-64) — all native Columns here.
BINARY_OPS = {
    "+": operator.add,
    "-": operator.sub,
    "*": operator.mul,
    "/": operator.truediv,
    ">": operator.gt,
    "<": operator.lt,
    ">=": operator.ge,
    "<=": operator.le,
    "=": operator.eq,
    "!=": operator.ne,   # reference: todo!() at runtime
    "and": Column.__and__,  # reference: todo!() at runtime
    "or": Column.__or__,    # reference: todo!() at runtime
}

def lit(value) -> Column:
    """Literal. Python ints map to Spark int/bigint following the reference's
    i32 -> i64 -> f64 parse ladder (src/types/mod.rs:127-137) — Spark's
    ``F.lit`` already picks the narrowest fitting type."""
    return F.lit(value)


def binary_op(op: str, left: Column, right: Column) -> Column:
    """Typed binary op; Catalyst inserts the widening casts the reference
    builds manually (src/binder/expression/binary_op.rs:27-63)."""
    return BINARY_OPS[op](left, right)


def portable_round(c: Column, n: int = 2) -> Column:
    """floor(x*10^n + 0.5)/10^n in float64 — rounding that is bit-identical
    across engines. Spark's ``round`` is decimal-string HALF_UP (BigDecimal)
    while DuckDB rounds the raw binary double; they disagree whenever the
    double sits just below a .5 decimal boundary (e.g. 8285.425). The floor
    form uses identical double ops everywhere. SQL twin:
    ``FLOOR((expr) * 10^n + 0.5) / 10^n``."""
    f = 10 ** n
    return F.floor(c * f + F.lit(0.5)) / f
