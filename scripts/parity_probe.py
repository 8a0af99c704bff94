"""Oracle parity probe: replay the driver's correctness gate on registry entries.

Usage:
  python scripts/parity_probe.py                  # the driver's first-50 window
  python scripts/parity_probe.py 50 100           # a START END slice of queries()
  python scripts/parity_probe.py names.txt        # entry names, whitespace-separated
  python scripts/parity_probe.py name1,name2      # named entries
  python scripts/parity_probe.py name1 --sf <testdata>/sf0.001 --sf <testdata>/sf0.01

Each entry is built with a VANILLA SparkSession (no engine confs — the
driver's seam) at each scale (default sf0.01, the driver's correctness
scale) and compared with its DuckDB oracle exactly like
tests/test_oracle_parity.py: lower-cased column sets, row counts, then the
normalized, column- and row-sorted values. Entries without an oracle must
build and run. Prints one line per (scale, entry) and ``DONE bad: [...]``;
exits non-zero on any mismatch.
"""
from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from tests.conftest import SF_DIR as TEST_SF_DIR  # noqa: E402
from tests.test_oracle_parity import canonical, duck_con  # noqa: E402

# the driver's correctness scale, beside the test suite's scale directory
DEFAULT_SF = os.path.join(os.path.dirname(TEST_SF_DIR), "sf0.01")


def select(args: list[str], order: list[str]) -> list[str]:
    """Entry names chosen by the positional arguments, over ``order``
    (the ``queries()`` order)."""
    if not args:
        return order[: entry._WINDOW_SIZE]
    if len(args) == 2 and all(a.isdigit() for a in args):
        return order[int(args[0]) : int(args[1])]
    if len(args) == 1 and os.path.isfile(args[0]):
        with open(args[0]) as f:
            return f.read().split()
    return [n for a in args for n in a.split(",") if n]


def check(spark, con, build, oracle: str | None, sf_dir: str) -> str | None:
    """None when ``build`` matches ``oracle`` at ``sf_dir``, else the reason."""
    sdf = build(spark, sf_dir)
    if oracle is None:
        sdf.count()
        return None if sdf.columns else "no columns"
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(oracle)
    dcols = [d[0].lower() for d in res.description]
    drows = res.fetchall()
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} duck={sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rows spark={len(srows)} duck={len(drows)}"
    s, d = canonical(srows, scols), canonical(drows, dcols)
    diff = next(((a, b) for a, b in zip(s, d) if a != b), None)
    return None if diff is None else f"first value mismatch {diff!r}"[:400]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("select", nargs="*", help="names, START END, or a names file")
    ap.add_argument("--sf", action="append", help=f"testdata directory (repeatable; default {DEFAULT_SF})")
    args = ap.parse_args(argv)

    qs, osql = entry.queries(), entry.oracle_sql()
    names = select(args.select, list(qs))
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown entries: {unknown}")
        return 2

    from pyspark.sql import SparkSession

    from sql_query_engine_rs_spark.functions.caching import release_caches

    spark = SparkSession.builder.master("local[8]").appName("parity-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    bad = []
    for sf_dir in args.sf or [DEFAULT_SF]:
        con = duck_con(sf_dir)
        sf = os.path.basename(sf_dir.rstrip("/"))
        for i, name in enumerate(names):
            try:
                why = check(spark, con, qs[name], osql.get(name), sf_dir)
            except Exception as e:  # noqa: BLE001 — report, don't crash the sweep
                why = f"{type(e).__name__}: {e}"[:400]
            release_caches()
            print(f"[{i + 1}/{len(names)}] {sf} {name}: {'ok' if why is None else 'BAD'}", flush=True)
            if why is not None:
                print(f"  {why}", flush=True)
                bad.append(f"{sf}:{name}")
        con.close()
    spark.stop()
    print("DONE bad:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
