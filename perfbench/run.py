"""Benchmark entry point: run one workload for one seed, print one JSON line.

    python3 perfbench/run.py --workload sql_adhoc --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, one fresh Spark process per run):

- ``sql_adhoc``: seeded ad-hoc statements through ``Database.run`` and
  ``.collect()``;
- ``pipeline_batch``: registry ``pipe_`` entries through ``QuerySpec.build``,
  ``sources.write`` and ``caching.release_caches``;
- ``ingest_upsert``: CSV shards through ``\\load csv``, a parquet append and
  one ``streaming.dedup_index_upsert`` drain each.

The base tables are generated once under ``.perfbench/data`` in the
checkout; everything a run writes goes under ``.perfbench/run``. Every
operation's result is checked against DuckDB after the Spark process has
ended. With ``--trace 0`` the line carries the end-to-end metrics, with
``--trace 1`` the per-layer ones (see ``README.md``). The last line of
standard output is the result; a run that cannot start prints none and
exits non-zero.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

WORKLOADS = ("sql_adhoc", "pipeline_batch", "ingest_upsert")
# warm-up passes before the window: the most the run budget allows (the
# window drift they leave is in STEADINESS.json)
WARMUP_PASSES = {"sql_adhoc": 2, "pipeline_batch": 1, "ingest_upsert": 1}
# Nominal seconds of one warm pass on a 4-core x86 VM at local[2]. The window
# is ceil(--seconds / nominal) whole passes: a fixed operation count that
# lasts about --seconds there, so the same --seconds always measures the
# same work.
NOMINAL_PASS_S = {"sql_adhoc": 3.5, "pipeline_batch": 10.0, "ingest_upsert": 5.0}
# the call whose time drains the operation's result
DRAIN_SPAN = {"sql_adhoc": "exec.drain", "pipeline_batch": "sources.write",
              "ingest_upsert": "streaming.upsert"}
# the Spark process's limit; with input generation and checking a run stays
# within 180 s (the first run in a checkout also computes the oracles)
WORKER_LIMIT_S = 150


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=2, help="Spark local[k] and shuffle partitions")
    ap.add_argument("--driver-memory", default="4g")
    return ap.parse_args(argv)


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (zombies cannot be killed)."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            st = raw[raw.rindex(")") + 2:].split()
            if int(st[3]) == sid and st[0] != "Z":
                out.append(int(name))
    return out


def _reap(child: subprocess.Popen) -> None:
    """Stop the worker's whole session (JVM and Python workers included)
    and wait until every process in it has ended."""
    if child.poll() is None:
        os.killpg(child.pid, signal.SIGKILL)
    child.wait()
    deadline = time.time() + 20
    while _session_pids(child.pid) and time.time() < deadline:
        for pid in _session_pids(child.pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.1)


def launch(spec: dict, env: dict, log_path: str, timeout: float) -> dict | None:
    with open(log_path, "w") as log:
        t_launch = time.time()
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec["spec_path"]],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _reap(child)
    if child.returncode != 0 or not os.path.exists(spec["out"]):
        return None
    with open(spec["out"]) as f:
        res = json.load(f)
    res["setup_s"] = res["t_first_op"] - t_launch
    return res


# -- checking -----------------------------------------------------------------

def pipeline_oracles(data: str) -> dict:
    """DuckDB's result for every pipeline entry's registered oracle. The
    inputs never change, so each is computed once per checkout and kept
    beside the tables, keyed by a hash of the oracle text."""
    import hashlib

    import check
    import datagen
    from sql_query_engine_rs_spark.queries import QUERIES

    out, con = {}, None
    for name in datagen.PIPELINE_ENTRIES:
        sql = QUERIES[name].oracle
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(data, f"oracle_{name}_{key}.json")
        if not os.path.exists(path):
            con = con or check.connect(data, datagen.TABLES)
            cols, rows = check.query(con, sql)
            with open(path + ".tmp", "w") as f:
                json.dump({"columns": cols, "rows": [check.jsonable(r) for r in rows]}, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            o = json.load(f)
        out[name] = (o["columns"], o["rows"])
    if con is not None:
        con.close()
    return out


def check_ops(workload: str, data: str, shards: list[str], ops: list[dict]) -> None:
    """Set ``op["ok"]`` on every operation; wrong results stay in the mix."""
    import check
    import datagen

    con = check.connect(data, datagen.TABLES)
    oracles = pipeline_oracles(data) if workload == "pipeline_batch" else {}
    for op in ops:
        if "error" in op:
            op["ok"] = False
            continue
        r = op["result"]
        if workload == "sql_adhoc":
            _, want = check.query(con, r["sql"])
            op["why"] = check.diff(r["rows"], want)
        elif workload == "pipeline_batch":
            import pyarrow.parquet as pq

            want_cols, want = oracles[r["entry"]]
            got = pq.read_table(r["path"])
            op["result_rows"] = got.num_rows
            rows = [tuple(d.values()) for d in got.to_pylist()]
            op["why"] = check.diff(rows, want, got.column_names, want_cols)
        else:
            import pyarrow.parquet as pq
            from sql_query_engine_rs_spark.queries import QUERIES

            files = ", ".join(f"'{p}'" for p in shards[: r["shards"]])
            con.execute(
                f"CREATE OR REPLACE TEMP VIEW documents AS SELECT * FROM read_csv([{files}], "
                "header = true, columns = {'doc_id': 'BIGINT', 'text': 'VARCHAR', "
                "'lang': 'VARCHAR', 'source': 'VARCHAR', 'n_chars': 'BIGINT'})"
            )
            want_cols, want = check.query(con, QUERIES["stream_dedup_index_upsert"].oracle)
            got = pq.read_table(r["version"])
            op["result_rows"] = got.num_rows
            rows = [tuple(d.values()) for d in got.to_pylist()]
            op["why"] = check.diff(rows, want, got.column_names, want_cols)
        op["ok"] = op["why"] is None
    con.close()


# -- metrics ------------------------------------------------------------------

def _median(xs, default=0.0):
    return float(statistics.median(xs)) if xs else default


def _quantile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def drift(ops: list[dict], warmup_ops: list[dict]) -> float:
    """Median over operations seen in both halves of the window of the
    second-half latency over the first-half latency (1 means warm). A
    one-pass window has no operation in both halves; it is compared with
    the last warm-up pass instead."""
    t0 = min(o["t0"] for o in ops)
    mid = t0 + (max(o["t0"] + o["lat"] for o in ops) - t0) / 2
    halves: dict = {}
    for o in ops:
        halves.setdefault(o["name"], ([], []))[o["t0"] >= mid].append(o["lat"])
    if not any(a and b for a, b in halves.values()):
        halves = {}
        for second, group in enumerate((warmup_ops, ops)):
            for o in group:
                halves.setdefault(o["name"], ([], []))[second].append(o["lat"])
    ratios = [_median(b) / _median(a) for a, b in halves.values() if a and b]
    return _median(ratios, 1.0)


def end_to_end(res: dict) -> dict:
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (sum(p["wall"] for p in res["passes"]), "s"),
        "cpu_s": (sum(p["cpu"] for p in res["passes"]), "s"),
    }


def write_amp(ops: list[dict]) -> float:
    csv_bytes = sum(o.get("csv_bytes", 0) for o in ops)
    return sum(o["written"] for o in ops) / csv_bytes if csv_bytes else 0.0


def per_layer(workload: str, res: dict, eventlog_dir: str) -> dict:
    import eventlog

    traced = [o for o in res["ops"] if o["traced"]]
    first = [o for o in traced if o["pass"] == 1]  # the same op list for a seed
    untraced_wall = _median([p["wall"] for p in res["passes"] if not p["traced"]])
    traced_wall = _median([p["wall"] for p in res["passes"] if p["traced"]])
    overhead = traced_wall / untraced_wall if untraced_wall else 1.0

    def span_ms(layer, ops=traced):
        return 1000 * _median([o["spans"][layer] for o in ops if layer in o["spans"]])

    def jobs(key, layers=None, ops=first):
        return sum(c[key] for o in ops for layer, c in o["jobs"].items()
                   if layers is None or layer in layers)

    def total(key, ops=first):
        return sum(o.get(key, 0) for o in ops)

    ex = eventlog.fold(eventlog_dir, [
        (lo, hi) for o in first for lo, hi in o.get("job_ranges", [])
    ])
    unattributed = [max(0.0, o["lat"] - sum(o["spans"].values())) / o["lat"] for o in traced]
    ops = res["ops"]
    m = {
        "session.start_s": (res["layers"]["session.start_s"], "s"),
        "catalog.register_s": (res["layers"]["catalog.register_s"], "s"),
        "catalog.load_ms": (span_ms("catalog.load"), "ms"),
        "catalog.load_jobs": (jobs("jobs", {"catalog.load"}), "count"),
        "database.run_ms": (span_ms("database.run"), "ms"),
        "catalyst.analysis_ms": (_median([o["catalyst"]["analysis"] for o in traced if "catalyst" in o]), "ms"),
        "catalyst.optimization_ms": (_median([o["catalyst"]["optimization"] for o in traced if "catalyst" in o]), "ms"),
        "catalyst.planning_ms": (_median([o["catalyst"]["planning"] for o in traced if "catalyst" in o]), "ms"),
        "queries.build_ms": (span_ms("queries.build"), "ms"),
        "queries.build_jobs": (jobs("jobs", {"queries.build"}), "count"),
        "queries.build_tasks": (jobs("tasks", {"queries.build"}), "count"),
        "exec.drain_ms": (span_ms(DRAIN_SPAN[workload]), "ms"),
        "exec.jobs": (jobs("jobs"), "count"),
        "exec.stages": (jobs("stages"), "count"),
        "exec.tasks": (jobs("tasks"), "count"),
        "exec.failed_tasks": (jobs("failed_tasks"), "count"),
        "exec.result_rows": (total("result_rows"), "count"),
        "executor.cpu_s": (ex["cpu_s"], "s"),
        "executor.run_s": (ex["run_s"], "s"),
        "executor.gc_s": (ex["gc_s"], "s"),
        "executor.shuffle_write_bytes": (ex["shuffle_write_bytes"], "bytes"),
        "executor.shuffle_read_bytes": (ex["shuffle_read_bytes"], "bytes"),
        "executor.spill_bytes": (ex["spill_bytes"], "bytes"),
        "plans.exchanges": (sum(o.get("plan", {}).get("exchanges", 0) for o in first), "count"),
        "plans.broadcast_joins": (sum(o.get("plan", {}).get("broadcast_joins", 0) for o in first), "count"),
        "plans.shuffle_joins": (sum(o.get("plan", {}).get("shuffle_joins", 0) for o in first), "count"),
        "functions.python_worker_cpu_s": (res["context"]["functions.python_worker_cpu_s"], "s"),
        "functions.caches_released": (total("caches_released"), "count"),
        "sources.write_ms": (span_ms("sources.write"), "ms"),
        "sources.bytes_written": (sum(o.get("source_written", (0, 0))[0] for o in first), "bytes"),
        "sources.files_written": (sum(o.get("source_written", (0, 0))[1] for o in first), "count"),
        "streaming.upsert_ms": (span_ms("streaming.upsert"), "ms"),
        "streaming.index_bytes": (total("index_written"), "bytes"),
        "streaming.checkpoint_bytes": (total("checkpoint_written"), "bytes"),
        "jvm.jit_ms": (res["context"]["jvm.jit_ms"], "ms"),
        "jvm.gc_ms": (res["context"]["jvm.gc_ms"], "ms"),
        "jvm.classes_loaded": (res["context"]["jvm.classes_loaded"], "count"),
        "client.peak_rss_mb": (res["peak_rss_mb"], "MiB"),
        "client.latency_p50_ms": (1000 * _median([o["lat"] for o in ops if not o["traced"]]), "ms"),
        "client.latency_p90_ms": (1000 * _quantile([o["lat"] for o in ops if not o["traced"]], 0.9), "ms"),
        "client.error_rate": (sum(not o["ok"] for o in ops) / len(ops), "ratio"),
        "client.write_amp": (write_amp(first), "ratio"),
        "client.window_drift_pct": (drift([o for o in ops if not o["traced"]], res["warmup_ops"]), "ratio"),
        "box.steal_pct": (res["context"]["box.steal_pct"], "%"),
        "box.foreign_cpu_s": (res["context"]["box.foreign_cpu_s"], "s"),
        "trace.overhead_ratio": (overhead, "ratio"),
        "trace.unattributed_pct": (100 * _median(unattributed), "%"),
        "trace.consistent_share": (
            sum(u <= max(overhead - 1, 0) + 0.02 for u in unattributed) / max(1, len(unattributed)),
            "ratio"),
    }
    return m


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sql_query_engine_rs_spark")):
        print("perfbench: the sql_query_engine_rs_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    import datagen

    work = os.path.join(ROOT, ".perfbench")
    data = datagen.ensure_tables(os.path.join(work, "data"))
    if a.workload == "pipeline_batch" or not glob.glob(os.path.join(data, "oracle_*.json")):
        pipeline_oracles(data)  # the first run in a checkout computes them
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "eventlog", "outputs"):
        os.makedirs(os.path.join(run_dir, d))
    shards = []
    if a.workload == "ingest_upsert":
        shards = datagen.write_shards(a.seed, os.path.join(data, "documents.parquet"),
                                      os.path.join(run_dir, "shards"))
    spec = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": a.cores, "root": ROOT, "data": data, "work": run_dir, "shards": shards,
        "warmup_passes": WARMUP_PASSES[a.workload],
        # traced runs need an untraced pass on each side of a traced one
        "passes": max(3 if a.trace else 1, math.ceil(a.seconds / NOMINAL_PASS_S[a.workload])),
        "run_id": f"{a.workload}-{a.seed}",
        "spec_path": os.path.join(run_dir, "spec.json"), "out": os.path.join(run_dir, "result.json"),
    }
    with open(spec["spec_path"], "w") as f:
        json.dump(spec, f)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_EXTRA_CONF"}
    env.update({
        "SPARK_DRIVER_MEMORY": a.driver_memory, "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"), "TZ": "UTC", "PYTHONHASHSEED": "0",
    })
    res = launch(spec, env, os.path.join(run_dir, "worker.log"), WORKER_LIMIT_S)
    if res is None:
        with open(os.path.join(run_dir, "worker.log")) as f:
            sys.stderr.write("perfbench: the Spark process failed\n" + f.read()[-4000:])
        return 1
    ops = res["ops"]
    check_ops(a.workload, data, shards, ops)
    failed = sum(not o["ok"] for o in ops)
    for o in ops:
        if not o["ok"]:
            print(f"wrong: pass {o['pass']} {o['name']}: {o.get('error') or o.get('why')}",
                  file=sys.stderr)
    if a.trace:
        metrics = per_layer(a.workload, res, os.path.join(run_dir, "eventlog"))
    else:
        metrics = end_to_end(res)
        ctx = {k: res["context"][k] for k in
               ("jvm.jit_ms", "jvm.gc_ms", "box.steal_pct", "box.foreign_cpu_s")}
        ctx["client.window_drift_pct"] = drift(ops, res["warmup_ops"])
        ctx["client.peak_rss_mb"] = res["peak_rss_mb"]
        ctx["client.latency_p50_ms"] = 1000 * _median([o["lat"] for o in ops])
        ctx["ops"], ctx["passes"] = len(ops), len(res["passes"])
        print("context " + json.dumps(ctx))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
