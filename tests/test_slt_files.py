"""sqllogictest-file runner: discovers the reference's .slt corpus on disk
(the reference harness globs tests/slt/**/*.slt — tests/sqllogictest/src/
lib.rs:23-44) and replays every query block through ``Database.run`` with the
reference's rendering rules. Unlike test_v0_parity.py (hand-pinned goldens),
new .slt files dropped into the corpus are picked up automatically."""

from __future__ import annotations

import glob
import os

import pytest

from sql_query_engine_rs_spark.database import Database
from sql_query_engine_rs_spark.fixtures import load_employee

SLT_DIR = "/root/reference/tests/slt"


def parse_slt(path: str) -> list[tuple[str, list[str]]]:
    """Parse ``query <types>`` blocks: SQL lines up to ``----``, then golden
    rows up to a blank line / EOF. Returns [(sql, golden_lines)]."""
    blocks: list[tuple[str, list[str]]] = []
    lines = open(path).read().splitlines()
    i = 0
    while i < len(lines):
        if lines[i].strip().startswith("query"):
            i += 1
            sql: list[str] = []
            while i < len(lines) and lines[i].strip() != "----":
                sql.append(lines[i])
                i += 1
            i += 1  # skip ----
            golden: list[str] = []
            while i < len(lines) and lines[i].strip() != "":
                golden.append(lines[i].rstrip())
                i += 1
            blocks.append((" ".join(s.strip() for s in sql).strip(), golden))
        else:
            i += 1
    return blocks


def render(rows) -> list[str]:
    """Reference slt rendering (src/util/mod.rs:27-54)."""
    out = []
    for row in rows:
        cells = []
        for v in row:
            if v is None:
                cells.append("NULL")
            elif v == "":
                cells.append("(empty)")
            else:
                cells.append(str(v))
        out.append(" ".join(cells))
    return out


@pytest.fixture(scope="module")
def db(spark):
    d = Database(spark)
    load_employee(d)
    return d


def _slt_files() -> list[str]:
    return sorted(glob.glob(os.path.join(SLT_DIR, "**", "*.slt"), recursive=True))


# ids as a list, not a callable: on an empty corpus pytest passes NOTSET to
# an ids callable and collection fails
_SLT_FILES = _slt_files()


@pytest.mark.skipif(not os.path.isdir(SLT_DIR), reason="reference slt corpus not present")
def test_slt_corpus_discovered():
    assert len(_slt_files()) >= 3  # select, filter, aggregation


@pytest.mark.skipif(not os.path.isdir(SLT_DIR), reason="reference slt corpus not present")
@pytest.mark.parametrize("slt_file", _SLT_FILES, ids=[os.path.basename(p) for p in _SLT_FILES])
def test_slt_file(db, slt_file):
    blocks = parse_slt(slt_file)
    assert blocks, f"no query blocks parsed from {slt_file}"
    for sql, golden in blocks:
        got = render(db.run_collect(sql))
        if "group by" in sql.lower():
            # reference hash-agg emits groups in first-appearance order
            # (src/executor/aggregate/hash_agg.rs:95,124); Spark's order
            # differs — compare as multisets
            assert sorted(got) == sorted(golden), f"{slt_file}: {sql}"
        else:
            assert got == golden, f"{slt_file}: {sql}"
