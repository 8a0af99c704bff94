"""PySpark-native analytics engine with the query surface of
Fedomn/sql-query-engine-rs (v0) plus idiomatic-Spark extensions.

The reference engine's parse -> bind -> plan -> optimize -> execute stack
(reference: src/db.rs:50-92) collapses into ``spark.sql()`` / the DataFrame
API here: Catalyst performs binding, input-ref resolution, physicalization,
predicate pushdown, and column pruning that the reference implements by hand
(reference: src/optimizer/input_ref_rewriter.rs, physical_rewriter.rs).

What this package adds on top of raw Spark:

- ``session``     — scale-aware SparkSession factory (AQE, broadcast, Arrow).
- ``catalog``     — the reference's ``RootCatalog`` equivalent
                    (reference: src/catalog/mod.rs:10-42): named-table
                    registry over ``sources.read`` files and in-memory
                    tables, ``\\dt``.
- ``database``    — ``Database.run(sql)`` + meta-commands
                    (reference: src/db.rs, src/cli.rs:111-135).
- ``operators``   — the operators that hide an algorithm (as-of, range
                    and salted joins; per-group top-k). The SURVEY.md §2
                    v0 operators are plain DataFrame calls in ``queries``.
- ``functions``   — expression helpers and the large-scale data-pipeline
                    operators: dedup, similarity search, text analysis,
                    multimodal column plumbing.
- ``streaming``   — Structured Streaming equivalents (windowed aggregation,
                    watermarks, stateful ops).
"""

__version__ = "0.1.0"


def _register_self_pickle_by_value() -> None:
    """Ship package functions to Python workers BY VALUE.

    Spark's Python workers inherit the driver's PYTHONPATH/cwd, not its
    ``sys.path`` mutations — so a worker closure that references a
    module-level function of this package (a codec kernel, a worker
    helper) deserializes only when the driver happens to run from the
    repo root. cloudpickle's ``register_pickle_by_value`` is the
    designed fix for exactly this "local module not deployed to the
    cluster" case: functions from the registered package (subpackages
    included — verified in this environment) are serialized with their
    code and transitive same-package globals instead of by import path.
    Shipped objects here are small (codec stubs, numpy kernels), so the
    per-task closure cost is negligible. On a real cluster where the
    package IS deployed executor-side this is belt-and-braces; without
    it, pipe_multimodal_features / pipe_video_frames / pipe_audio_features
    failed with ModuleNotFoundError whenever the driver's cwd was not
    the repo root (found round 8, running the suite from /tmp)."""
    try:
        import sys

        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # pragma: no cover - older pyspark without the API
        pass


_register_self_pickle_by_value()

from sql_query_engine_rs_spark.session import get_spark  # noqa: E402,F401
from sql_query_engine_rs_spark.catalog import Catalog  # noqa: E402,F401
from sql_query_engine_rs_spark.database import Database  # noqa: E402,F401
