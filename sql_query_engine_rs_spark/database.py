"""Database facade: ``run(sql)`` + meta-commands, mirroring the reference CLI.

Reference lifecycle (src/db.rs:50-92): parse -> bind -> plan -> rewrite ->
execute -> collect. All five stages are Catalyst's job here — ``spark.sql``
parses (Spark SQL dialect ⊇ the reference's PostgreSQL-dialect v0 surface),
analyzes against the temp-view catalog, optimizes (pushdown/pruning/folding,
none of which the reference has — src/optimizer/ has only InputRefRewriter +
PhysicalRewriter), plans physically (SimpleAgg vs HashAgg choice at
src/optimizer/physical_rewriter.rs:33-46 becomes Spark's
HashAggregateExec/SortAggregateExec selection), and runs on Tungsten.

Meta-commands (reference: src/cli.rs:111-135):
- ``\\dt``                      -> show_tables relation
- ``\\load csv <name> <path>``  -> create_csv_table
"""

from __future__ import annotations

import shlex

from pyspark.sql import DataFrame, SparkSession

from sql_query_engine_rs_spark.catalog import Catalog
from sql_query_engine_rs_spark.errors import MetaCommandError
from sql_query_engine_rs_spark.session import get_spark


class Database:
    """The reference's ``Database`` (src/db.rs:16-40) on Spark."""

    def __init__(self, spark: SparkSession | None = None, echo_plan: bool = False):
        self.spark = spark or get_spark()
        self.catalog = Catalog(self.spark)
        self.echo_plan = echo_plan

    # -- query entry point (src/db.rs:50-92)

    def run(self, sql: str) -> DataFrame:
        """Run one SQL statement or meta-command; return the result DataFrame.

        The reference always prints its plan tree while running
        (src/db.rs:72-83); we gate that behind ``echo_plan`` and emit
        Catalyst's formatted physical plan instead.
        """
        stripped = sql.strip()
        if stripped.startswith("\\"):
            return self._run_meta(stripped)
        df = self.spark.sql(sql)
        if self.echo_plan:
            df.explain("formatted")
        return df

    def run_collect(self, sql: str) -> list:
        """``run`` + drain, like the reference's try_collect (src/executor/mod.rs:50-56)."""
        return self.run(sql).collect()

    # -- meta commands (src/cli.rs:111-135)

    def _run_meta(self, cmd: str) -> DataFrame:
        head = cmd[1:].split(None, 1)
        if not head:
            raise MetaCommandError("empty meta command")
        # \explain takes a raw SQL tail — peel it off before shlex, whose
        # quoting rules (apostrophes in string literals) don't apply to SQL
        if head[0] == "explain":
            sql_text = head
            if len(sql_text) < 2:
                raise MetaCommandError(f"usage: \\explain <sql>, got: {cmd}")
            from sql_query_engine_rs_spark.plans import explain_str

            plan = explain_str(self.spark.sql(sql_text[1]))
            return self.spark.createDataFrame([(plan,)], "plan string")
        if head[0] == "plan":
            # \plan <sql> — the structured cost-shape summary (plan_report):
            # exchanges / broadcasts / scans / codegen spans / pushed
            # filters as one row, the programmatic twin of \explain
            if len(head) < 2:
                raise MetaCommandError(f"usage: \\plan <sql>, got: {cmd}")
            from sql_query_engine_rs_spark.plans import plan_report

            r = plan_report(self.spark.sql(head[1]))
            return self.spark.createDataFrame(
                [(
                    r["exchanges"], r["broadcast_exchanges"], r["broadcast_joins"],
                    r["shuffle_joins"], r["scans"], r["in_memory_scans"],
                    r["codegen_spans"], r["sorts"], "; ".join(r["pushed_filters"]),
                )],
                "exchanges int, broadcast_exchanges int, broadcast_joins int, "
                "shuffle_joins int, scans int, in_memory_scans int, "
                "codegen_spans int, sorts int, pushed_filters string",
            )
        # shlex would swallow the leading backslash (escape char), so strip
        # it first and parse only the argument list.
        parts = shlex.split(cmd[1:])
        if parts[0] == "dt":
            return self.catalog.show_tables()
        if parts[0] == "d":
            # \d <table> — per-column schema (Postgres-style describe):
            # name, Spark SQL type, nullability. Errors through CatalogError
            # for unknown tables, same as every catalog lookup.
            if len(parts) != 2:
                raise MetaCommandError(f"usage: \\d <table>, got: {cmd}")
            df = self.catalog.get_table(parts[1])
            rows = [
                (f.name, f.dataType.simpleString(), bool(f.nullable))
                for f in df.schema.fields
            ]
            return self.spark.createDataFrame(
                rows, "column string, type string, nullable boolean"
            )
        if parts[0] == "bench":
            # \bench <registered-query> [trials] — one-query min-of-warm
            # micro-bench with the same method as bench.py: full
            # build+execute to a noop sink per trial, operator caches
            # released between trials, steady = min of the warm trials.
            if len(parts) not in (2, 3):
                raise MetaCommandError(f"usage: \\bench <query-name> [trials>=2], got: {cmd}")
            import os
            import time

            from sql_query_engine_rs_spark.functions.caching import release_caches
            from sql_query_engine_rs_spark.queries import QUERIES

            name = parts[1]
            if name not in QUERIES:
                raise MetaCommandError(
                    f"unknown query {name!r}; registered: {len(QUERIES)} (see queries.py)"
                )
            try:
                trials = int(parts[2]) if len(parts) == 3 else 3
            except ValueError:
                raise MetaCommandError(f"trials must be an integer, got: {parts[2]}") from None
            if trials < 2:
                raise MetaCommandError("trials must be >= 2 (min-of-warm needs a warm trial)")
            sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
            times = []
            for _ in range(trials):
                t0 = time.time()
                QUERIES[name].build(self.spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(time.time() - t0)
                release_caches()
            return self.spark.createDataFrame(
                [(name, sf_dir, trials, round(times[0], 3), round(min(times[1:]), 3))],
                "query string, sf_dir string, trials int, cold_sec double, steady_sec double",
            )
        if parts[0] == "reuse":
            # \reuse <query> <query> [...] — SparkCruise-style cross-query
            # common-subplan report over registered queries: which subplans
            # repeat across the named workload (materialization candidates).
            if len(parts) < 3:
                raise MetaCommandError(
                    f"usage: \\reuse <query> <query> [...], got: {cmd}"
                )
            import os

            from sql_query_engine_rs_spark.plans import workload_reuse_report
            from sql_query_engine_rs_spark.queries import QUERIES

            unknown = [n for n in parts[1:] if n not in QUERIES]
            if unknown:
                raise MetaCommandError(f"unknown queries: {unknown}")
            # \reuse presents as a pure plan-fingerprint report, but
            # build() on stream_* entries (and eagerly-checkpointing
            # builders) EXECUTES work — drains streams, writes temp dirs,
            # sets/restores confs. Streaming plans also have no stable
            # batch subplan to fingerprint, so reject them outright
            # rather than execute a "read-only" command's side effects.
            streams = [n for n in parts[1:] if n.startswith("stream_")]
            if streams:
                raise MetaCommandError(
                    f"\\reuse does not accept streaming queries {streams}: "
                    "building a stream_* entry executes its drain; "
                    "fingerprints only apply to batch plans"
                )
            sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
            frames = {n: QUERIES[n].build(self.spark, sf_dir) for n in parts[1:]}
            rep = workload_reuse_report(frames)
            rows = [
                (e["fingerprint"], e["weight"], len(e["queries"]),
                 ",".join(e["queries"]), e["node"])
                for e in rep
            ] or [("(none)", 0, 0, "", "no shared subplan of weight >= 2")]
            return self.spark.createDataFrame(
                rows,
                "fingerprint string, weight int, n_queries int, queries string, node string",
            )
        if parts[0] == "load" and len(parts) >= 2 and parts[1] == "memory":
            # \load memory <name> <schema> <json-rows> — inline fixtures
            # without touching disk, e.g.:
            #   \load memory t 'a int, b string' '[[1,"x"],[2,"y"]]'
            if len(parts) != 5:
                raise MetaCommandError(
                    f"usage: \\load memory <name> <schema> <json-rows>, got: {cmd}"
                )
            import json as _json

            _, _, name, schema, rows_json = parts
            try:
                rows = _json.loads(rows_json)
            except ValueError as e:
                raise MetaCommandError(f"\\load memory: bad JSON rows: {e}") from None
            if not isinstance(rows, list) or not all(isinstance(r, list) for r in rows):
                raise MetaCommandError(
                    "\\load memory: rows must be a JSON list of lists"
                )
            self.catalog.create_memory_table(name, [tuple(r) for r in rows], schema)
            return self.catalog.show_tables()
        if parts[0] == "load":
            if len(parts) != 4 or parts[1] not in ("csv", "parquet", "json", "orc"):
                raise MetaCommandError(
                    f"usage: \\load csv|parquet|json|orc <name> <path>, got: {cmd}"
                )
            _, fmt, name, path = parts
            if fmt == "csv":
                self.catalog.create_csv_table(name, path)
            else:
                # parquet/json/orc: extensions beyond the reference's
                # csv-only \load (src/cli.rs:111-129)
                self.catalog.create_file_table(name, fmt, path)
            return self.catalog.show_tables()
        raise MetaCommandError(f"unknown meta command: {cmd}")
