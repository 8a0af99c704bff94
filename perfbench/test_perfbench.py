"""Self-tests of the benchmark: the result checker and the seed contract.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import datagen  # noqa: E402

SQL = """SELECT * FROM (VALUES (1, 'a', 10.5, TIMESTAMP '2024-01-01 00:00:01'),
                               (2, 'b', 20.25, TIMESTAMP '2024-01-02 00:00:00'),
                               (3, 'c', 1e9 / 3, NULL)) t(id, tag, amount, ts)"""


def _rows():
    return duckdb.connect().execute(SQL).fetchall()


def test_checker_accepts_same_rows_in_any_order_and_fp_noise():
    want = _rows()
    got = [list(r) for r in reversed(want)]
    got[0][2] = got[0][2] * (1 + 1e-13)  # another summation order
    assert check.diff(got, want) is None


def test_checker_flags_one_changed_value():
    want = _rows()
    for col, new in ((0, 99), (1, "z"), (2, 10.5001), (3, None)):
        got = [list(r) for r in want]
        got[1][col] = new
        assert check.diff(got, want) is not None, (col, new)


def test_checker_flags_one_dropped_row():
    want = _rows()
    assert check.diff(want[:-1], want) is not None
    assert check.diff(want[1:], want) is not None


def test_checker_matches_columns_by_name():
    want = _rows()
    swapped = [(r[1], r[0], r[2], r[3]) for r in want]
    cols = ["id", "tag", "amount", "ts"]
    assert check.diff(swapped, want, ["tag", "id", "amount", "ts"], cols) is None
    assert check.diff(swapped, want, ["id", "tag", "amount", "ts"], cols) is not None


def _ops(seed: int) -> bytes:
    ops = {
        "sql": [datagen.sql_pass(seed, p) for p in range(-2, 6)],
        "pipeline": [datagen.pipeline_pass(seed, p) for p in range(-1, 3)],
    }
    return json.dumps(ops).encode()


def _shard_digest(seed: int, tmp_path, docs: str) -> str:
    h = hashlib.sha256()
    for p in datagen.write_shards(seed, docs, str(tmp_path / f"s{seed}")):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _docs(tmp_path) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "documents.parquet")
    n = 300
    pq.write_table(pa.table({
        "doc_id": list(range(n)),
        "text": [f"w{i % 17} w{i % 5} w{i % 3}" for i in range(n)],
        "lang": ["en"] * n,
        "source": [f"src{i % 4}" for i in range(n)],
        "n_chars": [8] * n,
    }), path)
    return path


def test_same_seed_gives_identical_operations_and_shards(tmp_path):
    assert _ops(7) == _ops(7)
    docs = _docs(tmp_path)
    a = _shard_digest(7, tmp_path / "a", docs)
    b = _shard_digest(7, tmp_path / "b", docs)
    assert a == b


def test_other_seed_gives_other_operations_and_shards(tmp_path):
    assert _ops(7) != _ops(8)
    docs = _docs(tmp_path)
    assert _shard_digest(7, tmp_path, docs) != _shard_digest(8, tmp_path, docs)


def test_every_pass_runs_every_template_and_entry_once():
    for seed in (1, 2, 3):
        for p in range(3):
            assert sorted(n for n, _ in datagen.sql_pass(seed, p)) == sorted(datagen.SQL_TEMPLATES)
            assert sorted(datagen.pipeline_pass(seed, p)) == sorted(datagen.PIPELINE_ENTRIES)


def test_statements_differ_only_in_literals_across_seeds():
    a = dict(datagen.sql_pass(1, 0))
    b = dict(datagen.sql_pass(2, 0))
    assert a != b
    strip = lambda s: "".join(c for c in s if not c.isdigit())  # noqa: E731
    same_shape = sum(strip(a[k]) == strip(b[k]) for k in a)
    assert same_shape >= len(a) // 2
