"""One benchmark run in a fresh process: start Spark, warm up, time a window.

``run.py`` launches this with a JSON spec; the outcome goes to the spec's
``out`` file. Nothing here checks results: the program's outputs (rows,
written files, index versions) are saved for ``run.py`` to compare with
DuckDB after this process has ended.

The window runs a fixed number of whole passes. A pass is a fixed,
seed-drawn operation list (every SQL template once, every pipeline entry
once, or a fixed number of shards), so window figures compare across seeds
and commits. With tracing on, even passes run untraced and odd passes
traced: the per-layer numbers come from the traced passes, and the ratio of
their wall times is the tracing overhead.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import proc  # noqa: E402

INGEST_PASS = 4  # shards per ingest pass


def _py(v):
    """A collected value as JSON: timestamps as ISO text, decimals as text."""
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return [_py(x) for x in v]
    return v


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; data files are ``part-*``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.startswith("part-")
    return size, files


class Run:
    def __init__(self, spec: dict):
        self.spec = spec
        self.trace_on = False  # true while a traced pass runs
        self.ops: list[dict] = []
        self.warmup_ops: list[dict] = []

    # -- tracing helpers: each call gets its own job group; with tracing on,
    # the job-id range it launched is read from the DAG scheduler

    def call(self, rec: dict, layer: str, fn, *args):
        self.sc.setJobGroup(f"{self.spec['run_id']}:{len(self.ops)}:{layer}", layer)
        j0 = self.dag.nextJobId() if self.trace_on else 0
        t0 = time.perf_counter()
        out = fn(*args)
        rec["spans"][layer] = time.perf_counter() - t0
        if self.trace_on:
            rec["jobs"][layer] = [j0, self.dag.nextJobId()]
        return out

    def job_counts(self, lo: int, hi: int) -> dict:
        st = self.sc.statusTracker()
        c = {"jobs": hi - lo, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for j in range(lo, hi):
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    c["stages"] += 1
                    c["tasks"] += si.numCompletedTasks
                    c["failed_tasks"] += si.numFailedTasks
        return c

    def jvm(self) -> dict:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return {
            "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
            "gc_ms": sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()),
            "classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
        }

    # -- session

    def start(self):
        from sql_query_engine_rs_spark import Database, get_spark

        s, w = self.spec, self.spec["work"]
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(w, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(w, 'tmp')}",
        }
        if s["trace"]:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(w, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{s['workload']}",
            master=f"local[{s['cores']}]",
            shuffle_partitions=s["cores"],
            extra_conf=conf,
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.dag = self.sc._jsc.sc().dagScheduler()
        self.layers = {"session.start_s": time.perf_counter() - t0}
        self.db = Database(self.spark)
        t0 = time.perf_counter()
        if s["workload"] == "sql_adhoc":  # the pipeline entries read parquet by path
            self.db.catalog.register_testdata(s["data"], datagen.SQL_TABLES)
        self.layers["catalog.register_s"] = time.perf_counter() - t0

    # -- workloads: each returns the op list of pass ``p`` and runs one op

    def passes(self, p: int) -> list:
        s = self.spec
        if s["workload"] == "sql_adhoc":
            return datagen.sql_pass(s["seed"], p)
        if s["workload"] == "pipeline_batch":
            return datagen.pipeline_pass(s["seed"], p)
        return list(range(INGEST_PASS))  # shard slots, filled in order

    def op(self, item, rec: dict):
        getattr(self, "op_" + self.spec["workload"])(item, rec)

    def op_sql_adhoc(self, item, rec):
        name, sql = item
        rec["name"] = name
        df = self.call(rec, "database.run", self.db.run, sql)
        rows = self.call(rec, "exec.drain", df.collect)
        rec["t1"] = time.perf_counter()
        rec["result"] = {"sql": sql, "columns": df.columns, "rows": [[_py(v) for v in r] for r in rows]}
        rec["result_rows"] = len(rows)
        if self.trace_on:
            from sql_query_engine_rs_spark.plans import plan_report

            ph = df._jdf.queryExecution().tracker().phases()
            rec["catalyst"] = {
                k: (ph.apply(k).durationMs() if ph.contains(k) else 0)
                for k in ("analysis", "optimization", "planning")
            }
            rec["plan"] = {k: v for k, v in plan_report(df).items() if isinstance(v, int)}

    def op_pipeline_batch(self, name, rec):
        from sql_query_engine_rs_spark import sources
        from sql_query_engine_rs_spark.functions.caching import release_caches
        from sql_query_engine_rs_spark.queries import QUERIES

        rec["name"] = name
        out = os.path.join(self.spec["work"], "outputs", f"{len(self.ops):04d}_{name}")
        df = self.call(rec, "queries.build", QUERIES[name].build, self.spark, self.spec["data"])
        self.call(rec, "sources.write", sources.write, df, "parquet", out)
        rec["caches_released"] = self.call(rec, "functions.release_caches", release_caches)
        rec["t1"] = time.perf_counter()
        rec["result"] = {"entry": name, "path": out}
        rec["source_written"] = _dir_stats(out)
        if self.trace_on:
            from sql_query_engine_rs_spark.plans import plan_report

            rec["plan"] = {k: v for k, v in plan_report(df).items() if isinstance(v, int)}

    def op_ingest_upsert(self, slot, rec):
        from sql_query_engine_rs_spark import sources
        from sql_query_engine_rs_spark.streaming import dedup_index_upsert

        w = self.spec["work"]
        k = self.next_shard
        if k >= len(self.spec["shards"]):
            raise RuntimeError("out of generated shards")
        self.next_shard += 1
        path = self.spec["shards"][k]
        src, idx = os.path.join(w, "stream_src"), os.path.join(w, "index")
        rec["name"] = f"slot{slot}"
        ckpt = os.path.join(idx, "_checkpoint")
        before = _dir_stats(src), _dir_stats(idx)[0], _dir_stats(ckpt)[0]
        self.call(rec, "catalog.load", self.db.run, f"\\load csv shard {path}")
        df = self.call(rec, "catalog.get_table", self.db.catalog.get_table, "shard")
        self.call(rec, "sources.write", sources.write, df, "parquet", src, "append")
        self.call(rec, "streaming.upsert", lambda: dedup_index_upsert(
            self.spark.readStream.schema(df.schema).parquet(src), idx))
        rec["t1"] = time.perf_counter()
        versions = [int(d[2:]) for d in os.listdir(idx) if d.startswith("v=")]
        rec["result"] = {"shards": k + 1, "version": os.path.join(idx, f"v={max(versions)}")}
        after = _dir_stats(src), _dir_stats(idx)[0], _dir_stats(ckpt)[0]
        rec["csv_bytes"] = os.path.getsize(path)
        rec["source_written"] = [after[0][0] - before[0][0], after[0][1] - before[0][1]]
        rec["checkpoint_written"] = after[2] - before[2]
        rec["index_written"] = (after[1] - before[1]) - rec["checkpoint_written"]
        rec["written"] = rec["source_written"][0] + after[1] - before[1]

    # -- the run

    def run_pass(self, p: int, record: bool) -> dict:
        """Run pass ``p``; window passes keep every op, warm-up passes keep
        the last pass's names and latencies (for the drift figure)."""
        if not record:
            self.warmup_ops = []
        me = os.getpid()
        c0, t0 = proc.cpu_s(me), time.perf_counter()
        for i, item in enumerate(self.passes(p)):
            rec = {"pass": p, "i": i, "name": "?", "spans": {}, "jobs": {}, "traced": self.trace_on}
            rec["t0"] = time.perf_counter()
            try:
                self.op(item, rec)
            except Exception as e:  # a failed op counts in error_rate
                rec["error"] = f"{type(e).__name__}: {e}"[:500]
            # the latency ends at the last program call; saving results and
            # tracing reads after it count in the pass wall only
            rec["lat"] = rec.pop("t1", time.perf_counter()) - rec["t0"]
            if self.trace_on:
                rec["job_ranges"] = list(rec["jobs"].values())
                rec["jobs"] = {k: self.job_counts(lo, hi) for k, (lo, hi) in rec["jobs"].items()}
            if record:
                self.ops.append(rec)
            else:
                self.warmup_ops.append({"name": rec.get("name"), "lat": rec["lat"]})
        return {"pass": p, "wall": time.perf_counter() - t0, "cpu": proc.cpu_s(me) - c0,
                "traced": self.trace_on}

    def main(self) -> dict:
        s = self.spec
        self.next_shard = 0
        self.start()
        warmup = [self.run_pass(-1 - w, record=False)["wall"] for w in range(s["warmup_passes"])]
        me = os.getpid()
        box0, cpu0, pw0, jvm0 = proc.box(), proc.cpu_s(me), proc.cpu_s(me, True), self.jvm()
        t_first = time.time()
        passes = []
        for n in range(s["passes"]):
            self.trace_on = bool(s["trace"]) and n % 2 == 1
            passes.append(self.run_pass(n, record=True))
        self.trace_on = False
        box1, cpu1, pw1, jvm1 = proc.box(), proc.cpu_s(me), proc.cpu_s(me, True), self.jvm()
        busy, steal, total = (b - a for a, b in zip(box0, box1))
        tick = proc.TICK
        result = {
            "t_first_op": t_first,
            "passes": passes,
            "ops": self.ops,
            "layers": self.layers,
            "warmup_walls": warmup,
            "warmup_ops": self.warmup_ops,
            "peak_rss_mb": proc.peak_rss_mb(me),
            "context": {
                "jvm.jit_ms": jvm1["jit_ms"] - jvm0["jit_ms"],
                "jvm.gc_ms": jvm1["gc_ms"] - jvm0["gc_ms"],
                "jvm.classes_loaded": jvm1["classes_loaded"] - jvm0["classes_loaded"],
                "box.steal_pct": 100.0 * steal / total if total else 0.0,
                "box.foreign_cpu_s": max(0.0, busy / tick - (cpu1 - cpu0)),
                "functions.python_worker_cpu_s": pw1 - pw0,
            },
        }
        return result


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    run = Run(spec)
    try:
        result = run.main()
    finally:
        if hasattr(run, "spark"):
            run.spark.stop()
    with open(spec["out"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
