"""Fold Spark's uncompressed event log into executor totals.

Only tasks of the given job-id ranges count, so the totals belong to the
operations those ranges were recorded around.
"""

from __future__ import annotations

import json
import os


def fold(log_dir: str, job_ranges: list[tuple[int, int]]) -> dict:
    wanted = {j for lo, hi in job_ranges for j in range(lo, hi)}
    stage_job: dict[int, int] = {}
    out = dict.fromkeys(
        ("cpu_s", "run_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"), 0.0
    )
    tasks = []
    for d, _, names in os.walk(log_dir):
        for n in sorted(names):
            with open(os.path.join(d, n)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        for s in ev["Stage IDs"]:
                            stage_job.setdefault(s, ev["Job ID"])
                    elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                        tasks.append((ev["Stage ID"], ev["Task Metrics"]))
    for stage, tm in tasks:
        if stage_job.get(stage) not in wanted:
            continue
        out["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        out["run_s"] += tm.get("Executor Run Time", 0) / 1e3
        out["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics", {})
        sr = tm.get("Shuffle Read Metrics", {})
        out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return out
