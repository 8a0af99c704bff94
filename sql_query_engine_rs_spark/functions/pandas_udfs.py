"""Arrow-vectorized Pandas-UDF alternates for the hot-path operators.

The engine's primary implementations are pure JVM expressions (see
``similarity``/``text``) — that is always the fast path. These UDFs exist
for the cases the built-ins can't express (custom Python math, numpy-only
algorithms) and as the pattern template: batch-vectorized with numpy over
Arrow transfers, never row-at-a-time Python.

Equivalence with the JVM implementations is pinned by tests
(tests/test_pipeline_ops.py) so either path can serve a query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, IntegerType


@pandas_udf(DoubleType())
def cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched cosine over two array<float> columns, float64 math.

    Each Arrow batch becomes two object-Series of numpy arrays; stacking
    into a matrix makes the whole batch one BLAS pass.
    """
    am = np.stack(a.apply(np.asarray, dtype=np.float64))
    bm = np.stack(b.apply(np.asarray, dtype=np.float64))
    dots = np.einsum("ij,ij->i", am, bm)
    norms = np.linalg.norm(am, axis=1) * np.linalg.norm(bm, axis=1)
    return pd.Series(dots / norms)


@pandas_udf(IntegerType())
def token_count_udf(text: pd.Series) -> pd.Series:
    """Whitespace token count, vectorized via pandas str ops."""
    return text.str.split().str.len().fillna(0).astype("int32")
