"""Plan introspection helpers.

The reference prints an indented plan tree for every query
(dyn PlanNode::explain — src/optimizer/plan_node/mod.rs:44-53, used at
src/db.rs:72-83). Spark's equivalent is ``df.explain``; these helpers expose
the plan as a string and assert scale-critical properties (pushdown, pruning,
broadcast) in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """Plan tree as a string (instead of stdout).

    Fast path reaches through the JVM gateway (private API, stable across
    Spark 3.x/4.x but not guaranteed); on any failure it degrades to
    capturing ``df.explain()`` stdout — same text, slightly slower. All
    ``_jdf``/``_jvm`` access in this package funnels through here and
    ``plan_size_bytes`` so a Spark upgrade degrades gracefully instead of
    crashing plan tests."""
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)  # type: ignore[attr-defined]
    except Exception:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode=mode)
        return buf.getvalue()


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimated size of the optimized plan's output, or None if
    the private queryExecution API is unavailable (callers fall back to a
    partition-count heuristic). Driver-side metadata only — never triggers
    a job."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # type: ignore[attr-defined]
    except Exception:
        return None


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the formatted plan ('' if none)."""
    plan = explain_str(df)
    return "\n".join(line.strip() for line in plan.splitlines() if "PushedFilters" in line)


def uses_broadcast(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, "simple")


def plan_report(df: DataFrame) -> dict[str, int | list[str]]:
    """Structured cost-shape summary of the physical plan — the numbers a
    scale review actually reads: how many shuffles (Exchange), how many are
    broadcast instead, scan count, whole-stage-codegen span count, sorts,
    and the pushed-filter lines. A 100 TB plan review starts with
    "exchanges should be O(few), scans should carry PushedFilters" — this
    makes that check programmatic (the registry-wide lint tests build on
    the same plan text).
    """
    simple = explain_str(df, "simple")
    formatted = explain_str(df)

    # AQE renders differently between modes and across stage
    # materialization (BroadcastExchange vs BroadcastQueryStage; codegen as
    # "*(n)" in simple vs a named node in formatted) — count in both texts
    # and take the max so the report is stable.
    def n(token: str) -> int:
        return max(simple.count(token), formatted.count(token))

    return {
        "exchanges": n("Exchange"),
        "broadcast_exchanges": n("BroadcastExchange") + n("BroadcastQueryStage"),
        "broadcast_joins": n("BroadcastHashJoin") + n("BroadcastNestedLoopJoin"),
        "shuffle_joins": n("SortMergeJoin") + n("ShuffledHashJoin"),
        "scans": n("Scan parquet") + n("Scan csv") + n("Scan json") + n("Scan orc"),
        "in_memory_scans": n("InMemoryTableScan"),
        # under AQE the simple/formatted modes carry no codegen markers and
        # the codegen mode honestly reports 0 subtrees until stages
        # finalize — so this reads "Found N WholeStageCodegen subtrees"
        # and is meaningful for non-adaptive or executed plans only
        "codegen_spans": _codegen_subtrees(df),
        "sorts": n("Sort "),
        # stateful streaming operators (meaningful on a readStream frame's
        # pre-drain plan; always 0 for batch plans): each carries a state
        # store per shuffle partition, so this count x shuffle.partitions
        # is the open-store cost floor of a micro-batch — the first number
        # a streaming-state capacity review reads. Counted on the SIMPLE
        # plan only (formatted mode repeats nodes in its detail section);
        # StateStoreSave also matches SessionWindowStateStoreSave.
        "stateful_ops": (
            simple.count("StateStoreSave")
            + simple.count("FlatMapGroupsWithState")
            + simple.count("FlatMapGroupsInPandasWithState")
            + simple.count("StreamingSymmetricHashJoin")
            + simple.count("StreamingDeduplicate")
            + simple.count("TransformWithState")
        ),
        "pushed_filters": [
            line.strip()
            for line in formatted.splitlines()
            if "PushedFilters" in line and "PushedFilters: []" not in line
        ],
    }


def _codegen_subtrees(df: DataFrame) -> int:
    """N from codegen mode's "Found N WholeStageCodegen subtrees" (0 when
    codegen-mode explain is unavailable, e.g. some streaming frames)."""
    import re

    try:
        text = explain_str(df, "codegen")
    except Exception:
        return 0
    m = re.search(r"Found (\d+) WholeStageCodegen", text)
    return int(m.group(1)) if m else 0


def workload_reuse_report(
    frames: dict[str, DataFrame], min_queries: int = 2, top: int = 10
) -> list[dict]:
    """SparkCruise-style workload common-subplan detection (VLDB 2021:
    "SparkCruise: Workload Optimization in Managed Spark Clusters at
    Microsoft" — see PAPERS.md): canonicalize every subtree of each
    query's analyzed logical plan, fingerprint it, and report the largest
    subplans that appear in >= ``min_queries`` distinct queries. Those are
    the materialization candidates — at 100 TB, a tokenize or pair-
    generation subplan shared by five registry queries is a pass over the
    corpus paid five times that one persisted/written frame would pay
    once (this repo's operator-internal ``persist_tracked`` covers reuse
    WITHIN a query; this report surfaces reuse ACROSS queries).

    Pure diagnostics: walks plan trees via the JVM gateway (same private-
    API posture as ``explain_str``), touches no data, and returns
    [{fingerprint, node, weight, queries}] sorted by (query count, weight).
    """
    import hashlib

    seen: dict[str, dict] = {}

    def visit(node, qname: str) -> None:
        try:
            canon = node.canonicalized()
            key_src = canon.treeString()
        except Exception:
            return
        weight = key_src.count("\n") + 1
        if weight >= 2:  # single leaves (bare scans) are trivially shared
            key = hashlib.md5(key_src.encode()).hexdigest()[:16]
            ent = seen.setdefault(
                key,
                {
                    "fingerprint": key,
                    "node": node.nodeName() + ": " + key_src.split("\n", 1)[0][:120],
                    "weight": weight,
                    "queries": set(),
                },
            )
            ent["queries"].add(qname)
        try:
            for i in range(node.children().size()):
                visit(node.children().apply(i), qname)
        except Exception:
            return

    for qname, df in frames.items():
        try:
            visit(df._jdf.queryExecution().analyzed(), qname)  # type: ignore[attr-defined]
        except Exception:
            continue
    out = [
        {**e, "queries": sorted(e["queries"])}
        for e in seen.values()
        if len(e["queries"]) >= min_queries
    ]
    out.sort(key=lambda e: (-len(e["queries"]), -e["weight"], e["fingerprint"]))
    return out[:top]
