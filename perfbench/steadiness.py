"""Steadiness and exact-count record of the benchmark.

    python3 perfbench/steadiness.py --set A --seeds 10 [--workloads sql_adhoc,...]
    python3 perfbench/steadiness.py --set B --seeds 10
    python3 perfbench/steadiness.py --counts

The first form runs every workload once per seed (untraced) and records,
per workload, each end-to-end metric's median, quartiles and spread (the
distance between the quartiles over the median, as
``statistics.quantiles(values, n=4)`` gives them), and for every run the
JIT and GC time, steal and window drift. With two sets recorded, it also
records how far each median of the second set moved from the first, against
the metric's bound. ``--counts`` runs each workload traced twice with one
seed and records whether the counts that should not move between runs of
the same inputs repeat exactly. Everything merges into ``STEADINESS.json``
beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORD = os.path.join(HERE, "STEADINESS.json")
EXACT = ("exec.jobs", "queries.build_jobs", "exec.tasks", "sources.files_written", "client.write_amp")


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cmd = json.load(f)["command"]
    p = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    ctx = {}
    for line in lines:
        if line.startswith("context "):
            ctx = json.loads(line[len("context "):])
    return json.loads(lines[-1]), ctx


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def load() -> dict:
    if os.path.exists(RECORD):
        with open(RECORD) as f:
            return json.load(f)
    return {}


def save(rec: dict) -> None:
    with open(RECORD, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--set", default="A")
    ap.add_argument("--workloads", default="sql_adhoc,pipeline_batch,ingest_upsert")
    ap.add_argument("--counts", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    rec = load()
    for w in a.workloads.split(","):
        if a.counts:
            pair = [run(w, a.first_seed, seconds, 1)[0]["metrics"] for _ in range(2)]
            rec.setdefault("exact_counts", {})[w] = {
                k: {"values": [m[k]["value"] for m in pair],
                    "repeats": pair[0][k]["value"] == pair[1][k]["value"]}
                for k in EXACT
            }
            rec["exact_counts"][w]["trace.overhead_ratio"] = [
                m["trace.overhead_ratio"]["value"] for m in pair]
            save(rec)
            continue
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            out, ctx = run(w, seed, seconds, 0)
            runs.append({"seed": seed, "correct": out["correct"], "failed": out["failed"],
                         "attempted": out["attempted"],
                         **{k: v["value"] for k, v in out["metrics"].items()}, **ctx})
            print(w, runs[-1], flush=True)
        summary = {}
        for k in bounds:
            s = spread([r[k] for r in runs])
            s["bound"] = bounds[k]
            s["within_third_of_bound"] = s["spread"] <= bounds[k] / 3
            summary[k] = s
        sets = rec.setdefault("sets", {})
        sets.setdefault(a.set, {})[w] = {"runs": runs, "summary": summary, "seconds": seconds}
        done = sorted(n for n in sets if w in sets[n])
        if len(done) >= 2:
            first, second = (sets[n][w]["summary"] for n in done[:2])
            rec.setdefault("median_shift", {})[w] = {
                k: {"shift": second[k]["median"] / first[k]["median"] - 1,
                    "within_bound": second[k]["median"] <= first[k]["median"] * (1 + bounds[k])}
                for k in bounds
            }
        save(rec)
        print(w, json.dumps(summary, indent=1), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
