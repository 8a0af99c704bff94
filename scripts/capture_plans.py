"""Capture .explain("formatted") dumps for named registry entries.

Usage: python scripts/capture_plans.py <out_dir> <suffix> name1,name2[,...]

Builds each entry with the engine session at $SPARK_GRAFT_SF_DIR (default
sf0.1) and writes <out_dir>/<name>_<suffix>.txt plus one line per entry of
its ``plans.plan_report`` counts to stdout. Building a query executes its
eager materialization barriers (and, for stream_* entries, the whole drain)
— that is the committed behavior being documented, not a side effect.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from sql_query_engine_rs_spark.plans import explain_str, plan_report  # noqa: E402


def main() -> int:
    out_dir, suffix, raw = sys.argv[1], sys.argv[2], sys.argv[3]
    names = [n.strip() for n in raw.split(",") if n.strip()]
    os.makedirs(out_dir, exist_ok=True)

    from sql_query_engine_rs_spark.functions.caching import release_caches
    from sql_query_engine_rs_spark.queries import QUERIES
    from sql_query_engine_rs_spark.session import get_spark

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name].build(spark, SF_DIR)
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(explain_str(df))
        report = plan_report(df)
        print(name, {k: v for k, v in report.items() if k != "pushed_filters"})
        release_caches()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
