"""The helper scripts import the one copy of what they use — the driver
order from ``__spark_entry__``, the oracle compare from
test_oracle_parity, the plan counts from ``plans`` — so they cannot drift
from it unseen. Spark-free: nothing here starts a session."""

from __future__ import annotations

import importlib.util
import os
import pkgutil
import subprocess
import sys

import __spark_entry__

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(ROOT, "scripts")


def _load(name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(SCRIPTS, f"{name}.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_parity_probe_defaults_to_the_driver_window():
    probe = _load("parity_probe")
    order = list(__spark_entry__.queries())
    assert probe.select([], order) == order[:50]
    assert probe.select(["3", "5"], order) == order[3:5]
    assert probe.select(["a,b", "c"], order) == ["a", "b", "c"]
    assert os.path.basename(probe.DEFAULT_SF) == "sf0.01"


def test_capture_plans_uses_the_plans_module():
    from sql_query_engine_rs_spark import plans

    capture = _load("capture_plans")
    assert capture.plan_report is plans.plan_report
    assert capture.explain_str is plans.explain_str


def test_every_package_module_imports_without_a_session():
    """Each module imports in a fresh interpreter with no SparkSession: a
    module that parses a DDL string at import (``@pandas_udf("double")``)
    needs an active session and fails here."""
    import sql_query_engine_rs_spark as pkg

    names = [n for _, n, _ in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
    assert names
    failed = {}
    for name in names:
        proc = subprocess.run(
            [sys.executable, "-c", f"import {name}"],
            cwd=ROOT, capture_output=True, text=True, timeout=120,
        )
        if proc.returncode != 0:
            failed[name] = proc.stderr.strip().splitlines()[-1:]
    assert not failed, failed
