"""Deterministic inputs for the benchmark.

Two kinds of input, both made only from seeds:

- the base tables: a TPC-H-style star schema at scale factor 0.1 plus the
  ``events``, ``documents`` and ``embeddings`` tables the pipeline operators
  read, written once as parquet from a fixed data seed (like a dbgen run at
  a fixed scale), with the column names and types the registry expects;
- the workload: per ``--seed``, the SQL statement passes, the pipeline
  entry order, and the CSV shards that ``ingest_upsert`` loads.

Only the generated files and statement text reach the program.
"""

from __future__ import annotations

import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
DATA_VERSION = "4"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# rows at scale factor 0.1, except documents: the DuckDB oracles of
# pipe_ngram_jaccard (all pairs) and pipe_dup_clusters (a recursive CTE)
# grow with the square of the document count
N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM = 150_000, 600_000
N_EVENTS, N_DOCUMENTS, N_EMBEDDINGS, EMB_DIM = 100_000, 1_000, 2_000, 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS_A = ["almond", "blue", "hot", "large", "misty", "pale", "royal", "steel"]
PART_WORDS_B = ["bolt", "gear", "nut", "pipe", "ring", "rod", "screw", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype="int64")),
        "c_name": _names("Customer", N_CUSTOMER),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype="int64")),
        "s_name": _names("Supplier", N_SUPPLIER),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
    })
    pk = np.arange(N_PART)
    a = np.array(PART_WORDS_A)[rng.integers(0, 8, N_PART)]
    b = np.array(PART_WORDS_B)[rng.integers(0, 8, N_PART)]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk.astype("int64")),
        "p_name": pa.array(np.char.add(np.char.add(a, " "), b)),
        "p_brand": pa.array(np.char.add("Brand#", (rng.integers(1, 26, N_PART)).astype(str))),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, N_PART)]),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2)),
    })
    odays = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS).astype("int64")),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, N_ORDERS)),
        "o_orderdate": _ts((EPOCH_1995 * 1_000_000) + odays * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]),
    })
    lok = rng.integers(0, N_ORDERS, N_LINEITEM)
    qty = rng.integers(1, 51, N_LINEITEM).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok.astype("int64")),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(18, 2100, N_LINEITEM), 2)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)]),
        "l_shipdate": _ts(
            (EPOCH_1995 * 1_000_000) + (odays[lok] + rng.integers(1, 122, N_LINEITEM)) * DAY_US
        ),
    })
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS)) + 1704067200 * 1_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype="int64")),
        "ts": _ts(ev_us),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS).astype("int64")),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(_money(rng, 0, 200, N_EVENTS)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng: np.random.Generator) -> pa.Table:
    """Bag-of-words texts with planted exact, case/space-variant and
    one-word-edit near duplicates, so every dedup family has work."""
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for i in range(N_DOCUMENTS):
        r = rng.random()
        if i > 50 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i > 50 and r < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append("  ".join(src.upper().split()))  # normalizes to a duplicate
        elif i > 50 and r < 0.09:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(words))  # near duplicate
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, N_DOCUMENTS, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCUMENTS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """Ten labelled clusters with a few planted near-copies."""
    centers = rng.normal(0, 0.3, (10, EMB_DIM))
    label = rng.integers(0, 10, N_EMBEDDINGS)
    vec = centers[label] + rng.normal(0, 0.3, (N_EMBEDDINGS, EMB_DIM))
    copies = rng.random(N_EMBEDDINGS) < 0.03
    src = rng.integers(0, N_EMBEDDINGS, N_EMBEDDINGS)
    vec[copies] = vec[src[copies]] + rng.normal(0, 0.001, (int(copies.sum()), EMB_DIM))
    label[copies] = label[src[copies]]
    vec = vec.astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype="int64")),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    })


def ensure_tables(data_dir: str) -> str:
    """Write the base tables under ``data_dir`` unless this data version is
    already there; return the directory holding ``<table>.parquet``."""
    stamp = os.path.join(data_dir, "VERSION")
    if os.path.exists(stamp) and open(stamp).read() == DATA_VERSION:
        return data_dir
    os.makedirs(data_dir, exist_ok=True)
    for name, tbl in _tables(np.random.default_rng(DATA_SEED)).items():
        tmp = os.path.join(data_dir, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(data_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(DATA_VERSION)
    return data_dir


# -- workloads ---------------------------------------------------------------

def _date(rng, lo_year=1995, hi_year=2001) -> str:
    return f"{int(rng.integers(lo_year, hi_year + 1))}-{int(rng.integers(1, 13)):02d}-01"


def _case_bucket(q: int, supp: int) -> str:
    bucket = f"CASE WHEN l_quantity < {q} THEN 'small' ELSE 'large' END"
    return (f"SELECT {bucket} AS sz, count(*) AS n, sum(l_tax) AS tax FROM lineitem "
            f"WHERE l_suppkey < {supp} GROUP BY {bucket}")


# Statements in the SQL subset both Spark and DuckDB accept: projection,
# filter, expressions, aggregates with and without GROUP BY, joins, ORDER BY
# with LIMIT and windows. Each template draws its literals from the seed;
# results stay small.
SQL_TEMPLATES = {
    "point_filter": lambda r: (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
        f"WHERE l_orderkey = {int(r.integers(0, N_ORDERS))}"),
    "expressions": lambda r: (
        f"SELECT p_partkey, p_retailprice * (1 - {int(r.integers(1, 30)) / 100}) AS net, "
        "p_size + 1 AS size1, upper(p_name) AS pname FROM part "
        f"WHERE p_size = {int(r.integers(1, 51))} AND p_brand = 'Brand#{int(r.integers(1, 26))}'"),
    "simple_agg": lambda r: (
        "SELECT sum(l_quantity) AS q, count(*) AS n, min(l_extendedprice) AS lo, "
        f"max(l_discount) AS hi FROM lineitem WHERE l_shipdate < TIMESTAMP '{_date(r, 1997, 1999)}'"),
    "hash_agg": lambda r: (
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS q, count(*) AS n, "
        "avg(l_extendedprice) AS p FROM lineitem "
        f"WHERE l_discount <= {int(r.integers(0, 11)) / 100} GROUP BY l_returnflag, l_linestatus"),
    "orders_agg": lambda r: (
        "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s, max(o_totalprice) AS m "
        f"FROM orders WHERE o_orderstatus = '{['F', 'O', 'P'][int(r.integers(0, 3))]}' "
        f"AND o_orderdate >= TIMESTAMP '{_date(r, 1995, 2000)}' GROUP BY o_orderpriority"),
    "join_dim": lambda r: (
        "SELECT n_name, count(*) AS n, sum(c_acctbal) AS bal FROM customer "
        f"JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = {int(r.integers(0, 5))} "
        "GROUP BY n_name"),
    "join_fact": lambda r: (
        "SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice * (1 - l_discount)) AS rev "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        f"WHERE o_custkey < {int(r.integers(200, 300))} GROUP BY o_orderpriority"),
    "join_part": lambda r: (
        "SELECT p_type, count(*) AS n, sum(l_quantity) AS q FROM lineitem "
        f"JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#{int(r.integers(1, 26))}' "
        f"AND l_quantity > {int(r.integers(10, 45))} GROUP BY p_type"),
    "order_limit": lambda r: (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{_date(r, 1995, 2000)}' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "having_topn": lambda r: (
        "SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey "
        f"HAVING count(*) > {int(r.integers(18, 23))} ORDER BY n DESC, o_custkey LIMIT 20"),
    "window_rank": lambda r: (
        "SELECT c_custkey, c_nationkey, c_acctbal, rk FROM (SELECT c_custkey, c_nationkey, "
        "c_acctbal, rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk "
        f"FROM customer WHERE c_mktsegment = '{SEGMENTS[int(r.integers(0, 5))]}') t WHERE rk <= 3"),
    "window_running": lambda r: (
        "SELECT user_id, event_id, value, sum(value) OVER (PARTITION BY user_id ORDER BY event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running FROM events "
        f"WHERE user_id = {int(r.integers(0, 1500))}"),
    "events_agg": lambda r: (
        "SELECT event_type, count(*) AS n, sum(value) AS v, min(ts) AS first_ts FROM events "
        f"WHERE user_id < {int(r.integers(50, 500))} GROUP BY event_type"),
    "case_bucket": lambda r: _case_bucket(int(r.integers(5, 45)), int(r.integers(50, 200))),
}

# The registry entries the pipeline workload runs: exact, MinHash-LSH and
# n-gram Jaccard dedup, TF-IDF retrieval, the quality classifier, one
# iterative entry (duplicate clusters) and one that crosses the Python/Arrow
# boundary (mapInPandas features). The embedding entries are left out: with
# their output sizes a pass would not fit a run. An odd count keeps the
# median latency on one entry instead of between two.
PIPELINE_ENTRIES = (
    "pipe_dedup_exact",
    "pipe_minhash_lsh",
    "pipe_ngram_jaccard",
    "pipe_tfidf_topterms",
    "pipe_quality_classifier",
    "pipe_dup_clusters",
    "pipe_multimodal_features",
)

SQL_TABLES = ("nation", "customer", "part", "orders", "lineitem", "events")
SHARD_ROWS = 150
N_SHARDS = 64


def sql_pass(seed: int, pass_no: int) -> list[tuple[str, str]]:
    """One pass: every template once, in a seed-drawn order, with seed-drawn
    literals. ``pass_no`` < 0 is the warm-up stream."""
    rng = np.random.default_rng([seed, pass_no + 1_000_000])
    names = list(SQL_TEMPLATES)
    order = rng.permutation(len(names))
    return [(names[i], SQL_TEMPLATES[names[i]](rng)) for i in order]


def pipeline_pass(seed: int, pass_no: int) -> list[str]:
    rng = np.random.default_rng([seed, pass_no + 1_000_000])
    return [PIPELINE_ENTRIES[i] for i in rng.permutation(len(PIPELINE_ENTRIES))]


def write_shards(seed: int, docs_path: str, out_dir: str) -> list[str]:
    """Seeded CSV shards of document rows. The seed sets the share of rows
    that repeat a row of an earlier shard (a duplicate across a shard
    boundary), between 5% and 30%."""
    rng = np.random.default_rng([seed, 7])
    docs = pq.read_table(docs_path).to_pylist()
    dup_share = float(rng.uniform(0.05, 0.30))
    os.makedirs(out_dir, exist_ok=True)
    seen: list[dict] = []
    paths = []
    for s in range(N_SHARDS):
        rows = []
        for _ in range(SHARD_ROWS):
            if seen and rng.random() < dup_share:
                rows.append(seen[int(rng.integers(0, len(seen)))])
            else:
                rows.append(docs[int(rng.integers(0, len(docs)))])
        seen.extend(rows)
        path = os.path.join(out_dir, f"shard_{s:03d}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["doc_id", "text", "lang", "source", "n_chars"])
            for r in rows:
                w.writerow([r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"]])
        paths.append(path)
    with open(os.path.join(out_dir, "META.json"), "w") as f:
        json.dump({"dup_share": dup_share, "rows": SHARD_ROWS, "shards": N_SHARDS}, f)
    return paths
