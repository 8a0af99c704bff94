"""Physical-plan shape assertions — the scale contract.

Correct results are necessary, not sufficient: at 100 TB the plan must push
filters into the parquet scan, prune columns, broadcast dimensions, and use
TakeOrderedAndProject instead of global sorts. These tests pin those
properties so a refactor that silently regresses the plan fails CI."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_query_engine_rs_spark.plans import explain_str, pushed_filters, uses_broadcast
from sql_query_engine_rs_spark.queries import QUERIES


def hash_exchanges(df) -> list[tuple[str, str]]:
    """(Arguments line, Input line) for every hash-partitioned Exchange in
    the formatted plan's detail section — the Input line lists the exact
    row the exchange moves, the Arguments line its partitioning key.

    This replaces a pattern that split the formatted text on the literal
    "Exchange hashpartitioning": formatted mode prints "(5) Exchange" and
    "Arguments: hashpartitioning(…)" on SEPARATE lines, so that split
    matched nothing and eleven exchange-payload pins were vacuously green
    (found round 8 when a new pin's positive assertion — "a src_id
    exchange exists" — failed). Column membership is checked against the
    Input line with the "name#" ref form so a pruned column named, e.g.,
    "text_len" cannot false-positive a "text" pin."""
    import re as _re

    txt = explain_str(df, "formatted")
    out = []
    for block in _re.split(r"\n(?=\(\d+\) )", txt):
        lines = block.split("\n")
        if not _re.match(r"\(\d+\) Exchange\b", lines[0].strip()):
            continue
        inp = next((l for l in lines[1:] if l.startswith("Input")), "")
        args = next((l for l in lines[1:] if l.startswith("Arguments")), "")
        if "hashpartitioning" in args:
            out.append((args, inp))
    return out


def assert_no_col_in_hash_exchanges(df, col: str) -> None:
    """No hash-partitioned exchange may carry column ``col`` (ref form
    ``col#``) in its moved row. Positive guard: the plan must contain at
    least one hash exchange, so a plan refactor that removes exchanges
    entirely (or a parser regression) cannot make the pin vacuous again —
    callers whose plans legitimately have no hash exchange should assert
    that explicitly instead."""
    import re as _re

    exchanges = hash_exchanges(df)
    assert exchanges, "expected at least one hash exchange in the plan"
    # boundary-anchored: 'text#' must not match 'context#342'
    pat = _re.compile(rf"(?<![A-Za-z0-9_]){_re.escape(col)}#")
    for args, inp in exchanges:
        assert not pat.search(inp), f"{col} in exchange row: {inp} | {args}"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["v0_filter_comparison"].build(spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_quantity" in pf, f"filter not pushed: {pf!r}"


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = QUERIES["v0_projection"].build(spark, sf_dir)
    plan = explain_str(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema, "scan reads unprojected columns"


def test_partition_filter_pushdown_q1(spark, sf_dir):
    df = QUERIES["ext_tpch_q1"].build(spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_shipdate" in pf, f"date filter not pushed: {pf!r}"


def test_dimension_joins_broadcast(spark, sf_dir):
    """Hinted bounded dims (nation/region) and AQE-auto-picked small sides
    both surface as BroadcastHashJoin at test SF."""
    for name in ["ext_join_broadcast", "ext_join_fact", "ext_tpch_q3"]:
        df = QUERIES[name].build(spark, sf_dir)
        assert uses_broadcast(df), f"{name}: no BroadcastHashJoin in plan"


def test_topk_uses_take_ordered(spark, sf_dir):
    df = QUERIES["ext_order_by_limit"].build(spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df, "simple"), "top-k planned as global sort"


def test_semi_anti_join_shapes(spark, sf_dir):
    semi = QUERIES["ext_semi_exists"].build(spark, sf_dir)
    anti = QUERIES["ext_anti_join"].build(spark, sf_dir)
    assert "LeftSemi" in explain_str(semi, "simple")
    assert "LeftAnti" in explain_str(anti, "simple")


def test_aggregation_is_partial_then_final(spark, sf_dir):
    """Map-side combine: HashAggregate appears twice (partial + final)
    around the exchange — the property that shrinks the shuffle."""
    df = QUERIES["v0_hash_agg"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert simple.count("HashAggregate") >= 2


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    # "codegen" mode reports generated subtrees even under AQE (the
    # formatted plan hides them until the adaptive plan is final).
    df = QUERIES["ext_tpch_q1"].build(spark, sf_dir)
    assert "WholeStageCodegen" in explain_str(df, "codegen")


def test_range_join_broadcasts_bands(spark, sf_dir):
    df = QUERIES["ext_range_join"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in simple or "BroadcastHashJoin" in simple


def test_broadcast_hints_only_on_bounded_dims(spark, sf_dir):
    """The 100 TB broadcast contract: with auto-broadcast disabled, every
    BroadcastHashJoin left in the initial plan comes from an explicit
    ``F.broadcast`` hint. Assert those hints exist ONLY for bounded frames
    (nation = 25 rows, region = 5 rows at any SF; single-row scalar
    aggregates) — data-proportional frames (orders, customer, supplier,
    part, per-key aggregates) must fall back to shuffle joins, which AQE
    upgrades to broadcast at runtime when they are genuinely small. A hard
    hint on a data-proportional frame is the plan that OOMs at 100x."""
    expected_bhj = {
        "ext_tpch_q3": 0,
        "ext_tpch_q5": 2,   # nation, region
        "ext_tpch_q7": 2,   # nation x2 (pre-filtered to the 2 nations)
        "ext_tpch_q8": 3,   # nation x2, region
        "ext_tpch_q10": 1,  # nation
        "ext_tpch_q13": 0,
        "ext_tpch_q14": 0,
        "ext_tpch_q15": 1,  # single-row max-revenue frame
        "ext_tpch_q17": 0,
        "ext_tpch_q18": 0,
        "ext_tpch_q19": 0,
        "ext_join_fact": 0,
        "ext_stats_agg": 0,
        "ext_subquery_in": 0,
        "ext_window_rank": 0,
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, n in expected_bhj.items():
            simple = explain_str(QUERIES[name].build(spark, sf_dir), "simple")
            got = simple.count("BroadcastHashJoin")
            assert got == n, f"{name}: {got} hinted BroadcastHashJoins, want {n}\n{simple}"
            if n == 0 and name != "ext_tpch_q15":
                assert "SortMergeJoin" in simple or "ShuffledHashJoin" in simple, (
                    f"{name}: expected a shuffle join for the big-big join\n{simple}"
                )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q10_topk_take_ordered(spark, sf_dir):
    simple = explain_str(QUERIES["ext_tpch_q10"].build(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in simple


def test_q18_semi_join_on_qualifying_orders(spark, sf_dir):
    simple = explain_str(QUERIES["ext_tpch_q18"].build(spark, sf_dir), "simple")
    assert "LeftSemi" in simple


def test_grouping_sets_single_expand(spark, sf_dir):
    """Three grouping sets must plan as ONE Expand (one pass over lineitem),
    not a union of three aggregations."""
    simple = explain_str(QUERIES["ext_grouping_sets"].build(spark, sf_dir), "simple")
    assert simple.count("Expand") == 1
    assert simple.count("Scan parquet") == 1


def test_global_sort_is_range_partitioned(spark, sf_dir):
    """Total order must come from rangepartitioning + local sorts, never a
    single-partition global sort."""
    df = QUERIES["ext_global_sort"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "rangepartitioning" in simple
    assert "TakeOrdered" not in simple


def test_label_centroids_partial_aggregation(spark, sf_dir):
    """posexplode fan-out must still combine map-side: partial+final
    HashAggregate around the (label, dim) exchange — raw vectors never
    shuffle."""
    df = QUERIES["pipe_label_centroids"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert simple.count("HashAggregate") >= 2
    assert "Generate" in simple  # posexplode stays map-side


def test_domain_cap_salted_two_phase(spark, sf_dir):
    """The registered domain cap runs the salted variant: two Window
    operators (salted pre-rank + exact re-rank), the first keyed by
    (domain, salt)."""
    df = QUERIES["pipe_domain_cap"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert simple.count("Window") >= 2
    assert "pmod" in simple or "hash" in simple


def test_stratified_sample_salted_two_phase(spark, sf_dir):
    """The registered stratified sample runs the salted variant: two Window
    operators (salted pre-rank + exact re-rank), the first keyed by
    (stratum, salt), with the per-stratum take frame broadcast."""
    df = QUERIES["pipe_stratified_sample"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert simple.count("Window") >= 2
    assert "pmod" in simple or "hash" in simple
    assert "BroadcastHashJoin" in simple


def test_curation_single_plan_no_text_after_scan(spark, sf_dir):
    """The composed curation pipeline must not carry document text past
    the scoring projection: no shuffle exchanges a 'text' column."""
    df = QUERIES["pipe_corpus_curation"].build(spark, sf_dir)
    assert_no_col_in_hash_exchanges(df, "text")


@pytest.mark.parametrize("name", ["pipe_minhash_lsh", "pipe_simhash"])
def test_lsh_flagships_cap_band_size(spark, sf_dir, name):
    """The registered MinHash/SimHash plans must include the band-size cap
    join (dedup._cap_band_size): a flood band key would otherwise serialize
    the candidate self-join into one quadratic task."""
    df = QUERIES[name].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "_band_n" in simple, f"{name}: band-size cap missing from plan"


def test_bm25_single_token_cache(spark, sf_dir):
    """BM25's explode-all-tokens subtree feeds three consumers (dl, tf, df);
    it must be served from ONE persisted frame, not recomputed per consumer:
    every consumption site reads an InMemoryTableScan (the r2 dead
    persist()/unpersist() pair released the cache before execution)."""
    df = QUERIES["pipe_bm25"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert simple.count("InMemoryTableScan") >= 3


# Deliberate cross join of two bounded 5-row dimensions — the one place a
# cartesian product is the intended plan.
_CARTESIAN_WHITELIST = {"ext_cross_join"}

# Entries allowed to plan a Window over Exchange SinglePartition (a
# global-order single-task window) — each with the reason the single task
# survives 100x data. Everything else must plan NO such window:
# pipe_zorder_layout used to run three of them over the FULL fact table
# (x30/x10 = 3.69, the round-7 verdict's last scale-killer) before the
# round-8 two-level re-chunk.
_GLOBAL_WINDOW_WHITELIST = {
    # (a) window input is a BOUNDED aggregated frame — cardinality set by
    # the domain (hours, months, bins, shards, features, sources), not N:
    "ext_yoy_growth": "lag over per-month revenue (months-bounded)",
    "pipe_ingest_anomaly": "trailing avg over hourly counts (hours-bounded)",
    "pipe_token_gini": "rank over per-source token totals (#sources)",
    "ext_histogram": "cumulative share over fixed value bins",
    "pipe_decision_stump": "cumsum over 256 threshold bins",
    "pipe_kaplan_meier": "cumsum over distinct censoring durations",
    "pipe_mutual_info_rank": "row_number over #features rows",
    "pipe_heaps_law": "cumsum over log-spaced corpus-size buckets",
    "pipe_shard_coverage_curve": "cumsum over #shards rows",
    "pipe_slo_burn_rate": "cumsum over hourly error-rate rows",
    # (a, continued) round-9 two-level conversions — category (b) "exact
    # order statistics need one total order" is GONE: every former member
    # now ranks/cumsums in per-bucket window partitions and the only
    # remaining global windows read CONSTANT <=256-row bucket-stats
    # frames (plus lift's 10-row decile cum). queries._bucketed_running_
    # sums / _bucketed_ntile; shape pinned by
    # test_two_level_order_stats_plan_shape:
    "pipe_lift_deciles": "bucket-count offsets (<=256 rows) + 10-row decile cum",
    "pipe_auc_roc": "bucket-totals cumsum (<=256 rows)",
    "pipe_mannwhitney_u": "bucket-totals cumsum (<=256 rows)",
    "pipe_ks_test": "bucket-totals cumsum (<=256 rows); sup is TakeOrdered top-1",
    "pipe_wasserstein_drift": "bucket-totals cumsum + seam lead (<=256 rows)",
    "pipe_rfm_segments": "last split's bucket-count offset cumsum (<=256 rows; "
    "the first two splits' windows sit behind localCheckpoint barriers — r12)",
    "pipe_length_quality_hist": "bucket-count offsets (<=256 rows)",
    # r12: exact percentile reference moved off the percentile() aggregate
    # (single final-task sort of the value map) onto the same two-level
    # bucketed order statistic — the only global window reads the <=256-row
    # bucket-totals frame (queries._bucketed_exact_percentiles).
    "pipe_approx_quantile_audit": "bucket-count offsets (<=256 rows)",
}


def global_order_windows(plan: str) -> list[str]:
    """Window operators fed by an Exchange SinglePartition in a physical
    plan string — the single-task global-sort shape. Walks each
    SinglePartition exchange up to its nearest shallower ancestor chain;
    a Window reached before any other exchange/agg/join boundary means
    that window consumes the single partition."""
    import re

    lines = plan.splitlines()

    def depth(line: str) -> int:
        return len(re.match(r"^[\s:+\-*(0-9)]*", line).group(0))

    hits = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        d = depth(ln)
        j = i - 1
        while j >= 0:
            dj = depth(lines[j])
            if dj < d:
                name = lines[j].strip()
                if name.startswith("Window") or " Window [" in lines[j]:
                    hits.append(name[:120])
                    break
                if any(b in name for b in ("Exchange", "Aggregate", "Limit", "Join")):
                    break
                d = dj
            j -= 1
    return hits


@pytest.mark.parametrize(
    "name",
    [
        n
        for n in QUERIES
        # stream_* build() executes a full availableNow drain and returns a
        # localCheckpoint, so linting its plan would inspect only an
        # ExistingRDD scan — vacuous, and it pays the whole drain in test
        # time. Their pre-drain plans are linted by
        # test_no_cartesian_product_streaming_transforms below.
        if not n.startswith("stream_")
    ],
)
def test_registry_wide_scale_lint(spark, sf_dir, name):
    """Scale lint over the whole registry, one plan build per entry:

    1. No CartesianProduct — an all-pairs join never survives 100x data
       (1-row stats broadcasts legitimately appear as
       BroadcastNestedLoopJoin and are allowed).
    2. No Window over Exchange SinglePartition outside the documented
       whitelist — a global-order window serializes the frame onto one
       task, the exact plan that made pipe_zorder_layout read 3.69x for
       3x data before its round-8 re-chunk."""
    df = QUERIES[name].build(spark, sf_dir)
    plan = explain_str(df, "simple")
    if name not in _CARTESIAN_WHITELIST:
        assert "CartesianProduct" not in plan, f"{name}: CartesianProduct in plan"
    if name not in _GLOBAL_WINDOW_WHITELIST:
        gw = global_order_windows(plan)
        assert not gw, (
            f"{name}: global-order single-task Window in plan "
            f"(whitelist it with a boundedness reason or re-chunk): {gw}"
        )


@pytest.mark.parametrize(
    "name,max_global",
    [
        ("pipe_mannwhitney_u", 1),
        ("pipe_auc_roc", 1),
        ("pipe_lift_deciles", 2),
        ("pipe_ks_test", 1),
        ("pipe_wasserstein_drift", 1),
        # r12: only the LAST ntile split is visible in the returned plan —
        # the first two are truncated behind localCheckpoint barriers
        ("pipe_rfm_segments", 1),
        ("pipe_length_quality_hist", 1),
    ],
)
def test_two_level_order_stats_plan_shape(spark, sf_dir, name, max_global):
    """Round-9 conversions of the N-proportional order statistics
    (queries._bucketed_running_sum_excl / _bucketed_ntile): the rank /
    running-sum work must run in per-bucket window partitions — an
    Exchange hashpartitioning keyed on _bkt must exist — and the plan may
    keep at most the bounded SinglePartition windows the whitelist reason
    names (the <=256-row bucket-totals offset cumsum; plus lift's 10-row
    decile cum). Both assertions are positive so a refactor back to the
    one-global-window form, or a parser regression, fails loudly."""
    import re as _re

    df = QUERIES[name].build(spark, sf_dir)
    bkt = [
        (args, inp)
        for args, inp in hash_exchanges(df)
        if _re.search(r"(?<![A-Za-z0-9_])_bkt#", args)
    ]
    assert bkt, f"{name}: no _bkt-keyed window exchange — two-level shape lost"
    gw = global_order_windows(explain_str(df, "simple"))
    assert 1 <= len(gw) <= max_global, (
        f"{name}: expected 1..{max_global} bounded offset window(s), got {gw}"
    )


def test_no_cartesian_product_streaming_transforms(spark, sf_dir):
    """Pre-drain cartesian lint for the streaming family: every streaming
    transformation is batch/stream unified, so its batch-frame plan is the
    same join/agg shape the micro-batch planner executes — lint that,
    without paying an availableNow drain per query."""
    from sql_query_engine_rs_spark import streaming as STR

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase")
    frames = {
        "windowed_counts": STR.windowed_counts(events),
        "streaming_dedup": STR.streaming_dedup(events),
        "session_windows": STR.session_windows(events),
        "running_totals_stateful": STR.running_totals_stateful(events),
        "interval_join": STR.interval_join(clicks, purchases),
    }
    for name, df in frames.items():
        assert "CartesianProduct" not in explain_str(df, "simple"), (
            f"{name}: CartesianProduct in pre-drain plan"
        )


def test_streaming_stateful_operator_counts(spark, sf_dir):
    """Pre-drain state-store lint: plan_report's stateful_ops counter on
    REAL readStream frames must match each transform's designed state
    shape — one stateful save for a windowed agg, one dedup operator, one
    symmetric-hash join for the interval join, one flatMapGroupsWithState
    for the custom operator. stateful_ops x shuffle.partitions is the
    open-store floor of every micro-batch, so a silent extra stateful op
    (e.g. an accidental second aggregation) is a capacity regression this
    pins against."""
    from sql_query_engine_rs_spark import streaming as STR
    from sql_query_engine_rs_spark.plans import plan_report

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = spark.readStream.schema(static.schema).parquet(f"{sf_dir}/events.parquet")
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    expected = {
        "windowed_counts": (STR.windowed_counts(ev), 1),
        "streaming_dedup": (STR.streaming_dedup(ev), 1),
        "session_windows": (STR.session_windows(ev), 1),
        "running_totals_stateful": (STR.running_totals_stateful(ev), 1),
        "interval_join": (STR.interval_join(clicks, purchases), 1),
    }
    for name, (df, want) in expected.items():
        assert df.isStreaming, name
        got = plan_report(df)["stateful_ops"]
        assert got == want, f"{name}: stateful_ops {got} != {want}"
    # batch plans carry no streaming state
    assert plan_report(STR.windowed_counts(static))["stateful_ops"] == 0


def test_source_rollup_prunes_and_no_text_shuffle(spark, sf_dir):
    """Per-source rollup must prune the scan to (text, source) and never
    move text through a shuffle — only (source, scalar) rows exchange."""
    df = QUERIES["pipe_source_quality_rollup"].build(spark, sf_dir)
    formatted = explain_str(df, "formatted")
    assert "ReadSchema: struct<text:string,source:string>" in formatted
    assert_no_col_in_hash_exchanges(df, "text")


def test_unigram_logprob_single_token_cache(spark, sf_dir):
    """The unigram-LM scorer's explode pass feeds freq, total, and the
    probe postings; all three must read the one persisted token frame."""
    df = QUERIES["pipe_unigram_logprob"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert simple.count("InMemoryTableScan") >= 3


def test_inverted_index_salted_two_phase(spark, sf_dir):
    """Retrieval-family skew shape: the posting-head build must run the
    salted two-phase aggregate (partial heads per (term, salt), bounded
    merge per term) — never a row_number window over PARTITION BY term,
    which funnels every posting of a hot term through one task. Catalyst
    rewrites the salt alias to _groupingexpression, so assert the two
    term-keyed exchanges (phase 1: (term, salt); phase 2: (term))."""
    df = QUERIES["pipe_inverted_index"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "Window" not in simple
    assert simple.count("hashpartitioning(term") >= 2


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Runtime bloom-filter injection — the 100 TB selective-join recipe:
    when a big fact joins a filtered build side and broadcast is off (too
    big), Spark can inject a bloom_filter_agg on the build side's keys and
    semi-filter the fact's SCAN before the shuffle — rows that cannot match
    never leave the mappers. Off by default at local scale because the
    application side must look >10GB; the production confs are exactly
    these (thresholds express the 'only when the fact is huge' contract).
    Scoped here so the tiny-scale test suite doesn't pay sketch costs."""
    from pyspark.sql import functions as F

    from sql_query_engine_rs_spark.queries import _scoped_confs

    with _scoped_confs(spark, {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        # the filter must land on the FACT side as a scan-level predicate
        assert "might_contain" in plan.lower()


def test_plan_report_shapes(spark, sf_dir):
    """plan_report must count the shapes the lint family asserts on: a
    broadcast join reads 1 broadcast exchange + pushed filter; a groupBy
    reads >= 1 exchange; TPC-H Q3's plan carries scans for each table."""
    from pyspark.sql import functions as F

    from sql_query_engine_rs_spark.plans import plan_report
    from sql_query_engine_rs_spark.queries import QUERIES

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(F.col("l_quantity") > 10)
    dim = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(100)
    j = li.join(F.broadcast(dim), li.l_orderkey == dim.o_orderkey)
    r = plan_report(j)
    assert r["broadcast_joins"] >= 1 and r["broadcast_exchanges"] >= 1
    assert r["scans"] >= 2
    assert any("l_quantity" in f for f in r["pushed_filters"])

    agg = QUERIES["v0_hash_agg"].build(spark, sf_dir)
    r2 = plan_report(agg)
    assert r2["exchanges"] >= 1
    # codegen_spans is honest about AQE: 0 until stages finalize
    assert r2["codegen_spans"] >= 0


def test_exact_substring_dedup_prunes_and_hashes_grams(spark, sf_dir):
    """Span-dedup scale contract: the documents scan is pruned to
    (doc_id, text), and every hash exchange moves md5 gram hashes / int
    positions — raw gram STRINGS never key a shuffle (the gram is md5'd in
    the projection right after shingling)."""
    df = QUERIES["pipe_exact_substring_dedup"].build(spark, sf_dir)
    formatted = explain_str(df, "formatted")
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in formatted
    assert_no_col_in_hash_exchanges(df, "text")
    assert_no_col_in_hash_exchanges(df, "gram")  # raw 8-gram strings


def test_countmin_cells_partial_aggregation(spark, sf_dir):
    """The count-min sketch build must partial-aggregate map-side: the
    token stream collapses to (r, cell) partials before the exchange, so
    the shuffle is O(1024) rows per task regardless of corpus size."""
    df = QUERIES["pipe_countmin_heavyhitters"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert simple.count("HashAggregate") >= 2
    assert "CartesianProduct" not in simple


def test_dsir_weight_table_broadcasts(spark, sf_dir):
    """DSIR's 256-row weight table must join back to the per-doc bucket
    counts as a broadcast — shuffling the doc frame by bucket id would be
    a corpus-sized exchange keyed on 256 hot values."""
    df = QUERIES["pipe_dsir_weights"].build(spark, sf_dir)
    assert uses_broadcast(df)


def test_aqe_skew_join_split_recipe(spark, sf_dir):
    """AQE skew-join — the runtime answer to the hot-key straggler: with
    adaptive skewJoin on, a sort-merge join whose one shuffle partition
    dwarfs the median is SPLIT at runtime into subpartitions (plan node
    carries ``skew=true``), so the hot key's work spreads across tasks
    instead of serializing one straggler. Thresholds here are lowered so a
    planted 50k-row hot key trips the path at test scale; production keeps
    the defaults (256MB/5x) and relies on the same machinery. This pins the
    conf recipe AND that the runtime plan actually split — complementing
    the hand-salted paths (domain_cap, inverted index), which remain the
    answer when the skewed op is an AGGREGATE rather than a join."""
    from pyspark.sql import functions as F

    from sql_query_engine_rs_spark.queries import _scoped_confs

    with _scoped_confs(spark, {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }):
        # 50k rows on ONE key + a uniform remainder; right side small
        left = spark.range(50_000).select(
            F.lit(7).alias("k"), F.col("id").alias("payload")
        ).union(
            spark.range(2_000).select((F.col("id") % 40).alias("k"), F.col("id"))
        )
        right = spark.range(40).select(F.col("id").alias("k"), F.lit("dim").alias("attr"))
        j = left.join(right, on="k")
        # collect() executes THIS DataFrame's queryExecution (a noop write
        # would execute a clone, leaving j's adaptive plan isFinalPlan=false)
        j.collect()
        executed = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed, executed[:2000]


def test_bench_set_is_registered(spark, sf_dir, tmp_path, monkeypatch):
    """Every legacy-256 bench name must exist in the registry — a rename
    or registry refactor must not silently shrink the comparable total —
    and a missing legacy stamp is a clear error, never an empty set."""
    import bench

    from sql_query_engine_rs_spark.queries import QUERIES as REG

    legacy = bench._legacy_bench_queries()
    assert len(set(legacy)) == 256
    missing = [n for n in legacy if n not in REG]
    assert not missing, f"legacy bench queries not registered: {missing}"
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    with pytest.raises(SystemExit, match="cannot read the legacy query set"):
        bench._legacy_bench_queries()


def test_bench_stdout_line_stays_driver_safe():
    """The driver captures bench.py's ONE stdout line and has twice lost the
    headline number to line growth (BENCH_r05/r06 parsed: null — the line
    inlined 253 per-query values and the capture kept only the tail). Pin
    the serialized summary line under 2 KB even at full registry scale so
    per-query data can never creep back onto the capture surface."""
    import json as _json

    import bench

    # worst-case shape: every registered bench query present with a 4-char
    # name-collision-free value; slowest-5 capped by construction
    times = {n: 123.456 for n in bench.BENCH_QUERIES}
    cold = {n: 456.789 for n in bench.BENCH_QUERIES}
    wash = {"total_raw_legacy": 123.456, "noise_ratio_median": 1.001}
    line = _json.dumps(bench.summary_line(times, cold, 0.1, 3, wash))
    assert len(line) < 2000, f"bench stdout line {len(line)} bytes — driver-unsafe"
    parsed = _json.loads(line)
    assert parsed["metric"] == "headline_queries_total_time"
    assert parsed["value"] > 0 and parsed["unit"] == "sec"
    assert len(parsed["queries"]) <= 5
    # r12 VERDICT item 1: the warmth fields must ride the captured line so
    # the driver can wash its own round-over-round comparison, and item 5:
    # both totals (legacy-256 comparable + full-registry) must be present.
    assert parsed["total_raw"] == 123.456
    assert parsed["noise_ratio_median"] == 1.001
    assert parsed["retried"] == 3
    assert parsed["n_queries"] == len(bench._legacy_bench_queries())
    assert parsed["n_queries_full"] == len(bench.BENCH_QUERIES)
    assert parsed["value_full"] > parsed["value"]
    assert parsed["cpus"] == int(bench.CPUS)


def test_knn_graph_candidates_never_exchange_vectors(spark, sf_dir):
    """The k-NN graph's CANDIDATE-volume exchange (the top-k window keyed
    on src_id) must be skinny — (src, nbr, cos) only, never the embedding
    array. The bucket exchange is ALLOWED to carry vectors: that is
    2·N vector-width rows, while a skinny bucket join + vector join-backs
    shuffles the ~target_pop·N candidate stream twice, widened to two
    vectors per row — measured spilling at the x300 rehearsal (106 s vs
    ~35 s for the inline-verify plan). The scale contract is therefore:
    vectors may ride N-sized exchanges, never candidate-sized ones."""
    df = QUERIES["pipe_knn_graph"].build(spark, sf_dir)
    src_exchanges = [
        (args, inp) for args, inp in hash_exchanges(df) if "src_id" in args
    ]
    assert src_exchanges, "expected a skinny top-k exchange keyed on src_id"
    for args, inp in src_exchanges:
        assert "_v#" not in inp and "embedding#" not in inp, (
            f"vectors in candidate exchange: {inp}"
        )


def test_shard_assignment_single_small_exchange(spark, sf_dir):
    """The shard audit reduces to a 16-key aggregate + a 1-row broadcast:
    no sort, no shuffle join, and text never leaves the scan stage."""
    from sql_query_engine_rs_spark.plans import plan_report

    df = QUERIES["pipe_shard_assignment"].build(spark, sf_dir)
    r = plan_report(df)
    assert r["shuffle_joins"] == 0
    assert r["broadcast_joins"] >= 1  # the 1-row total
    for args, inp in hash_exchanges(df):
        assert "text#" not in inp, f"text shuffled: {inp}"


def test_sequence_packing_one_window_pass(spark, sf_dir):
    """Packing = one per-source running-sum window + one rollup: exactly
    one sort (the window's), keyed on source — no global sort, no join."""
    from sql_query_engine_rs_spark.plans import plan_report

    df = QUERIES["pipe_sequence_packing"].build(spark, sf_dir)
    r = plan_report(df)
    assert r["shuffle_joins"] == 0 and r["broadcast_joins"] == 0
    simple = explain_str(df, "simple")
    assert "Window" in simple


def test_token_gini_text_stays_in_scan_stage(spark, sf_dir):
    """The Gini audit collapses map-side to #sources rows before its
    window: no join of any kind, and raw text never enters an exchange —
    only (source, partial token sum) shuffles."""
    from sql_query_engine_rs_spark.plans import plan_report

    df = QUERIES["pipe_token_gini"].build(spark, sf_dir)
    r = plan_report(df)
    assert r["shuffle_joins"] == 0 and r["broadcast_joins"] == 0
    assert_no_col_in_hash_exchanges(df, "text")
    rows = df.collect()
    assert len(rows) == 1 and 0.0 <= rows[0].gini <= 1.0


def test_source_overlap_hashed_skinny_self_join(spark, sf_dir):
    """The source-pair matrix self-joins on md5 hashes, never gram strings:
    no exchange carries a raw gram, the per-source size tables broadcast,
    and exactly one shuffle join (the hash self-join) appears."""
    from sql_query_engine_rs_spark.plans import plan_report

    df = QUERIES["pipe_source_overlap"].build(spark, sf_dir)
    r = plan_report(df)
    assert r["broadcast_joins"] >= 2  # the two per-source size lookups
    for args, inp in hash_exchanges(df):
        assert "_g#" not in inp, f"raw grams shuffled: {inp}"
    rows = df.collect()
    assert rows and all(0.0 <= x.jaccard <= 1.0 for x in rows)


def test_label_centroid_sim_skinny_long_frame(spark, sf_dir):
    """The centroid matrix never shuffles vectors: the posexplode collapses
    map-side to (label, dim) partials, the norm lookups broadcast, and no
    exchange key carries the embedding array."""
    from sql_query_engine_rs_spark.plans import plan_report

    df = QUERIES["pipe_label_centroid_sim"].build(spark, sf_dir)
    r = plan_report(df)
    assert r["broadcast_joins"] >= 2  # the two norm lookups
    assert_no_col_in_hash_exchanges(df, "embedding")
    assert_no_col_in_hash_exchanges(df, "_v")
    rows = df.collect()
    assert rows and all(-1.0 <= x.cos_sim <= 1.0 for x in rows)


def test_event_transitions_broadcast_totals(spark, sf_dir):
    """The transition matrix's row-normalization must broadcast the tiny
    per-from-type totals, never shuffle-join the pair frame against them."""
    from sql_query_engine_rs_spark.plans import plan_report

    df = QUERIES["pipe_event_transitions"].build(spark, sf_dir)
    r = plan_report(df)
    assert r["broadcast_joins"] >= 1 and r["shuffle_joins"] == 0
    rows = df.collect()
    assert rows and all(0.0 < x.prob <= 1.0 for x in rows)
    # probabilities row-normalize: each from_type's outgoing mass ~= 1
    from collections import defaultdict
    mass = defaultdict(float)
    for x in rows:
        mass[x.from_type] += x.prob
    assert all(abs(v - 1.0) < 1e-3 for v in mass.values())


def test_distinct_ngrams_hashed_exchanges(spark, sf_dir):
    """Diversity counts shuffle md5 hashes, not gram strings, and the three
    per-source count tables broadcast back onto the totals."""
    from sql_query_engine_rs_spark.plans import plan_report

    df = QUERIES["pipe_distinct_ngrams"].build(spark, sf_dir)
    r = plan_report(df)
    assert r["broadcast_joins"] >= 3 and r["shuffle_joins"] == 0
    for args, inp in hash_exchanges(df):
        assert "_g#" not in inp, f"raw grams shuffled: {inp}"


def test_join_skew_audit_takeordered_not_window(spark, sf_dir):
    """Per-column top-5 must plan TakeOrderedAndProject (per-partition
    heaps), never a window/global sort over the distinct-key frame."""
    df = QUERIES["pipe_join_skew_audit"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in simple
    assert "Window" not in simple
    rows = df.collect()
    assert len(rows) == 15 and all(r.skew_factor >= 1.0 for r in rows)
    from sql_query_engine_rs_spark.functions.caching import release_caches
    release_caches()


def test_pagerank_reuses_cached_edges(spark, sf_dir):
    """The PageRank loop must iterate over the CACHED co-partitioned edge
    frame (persist, NOT localCheckpoint: only InMemoryTableScan advertises
    the repartition("src") partitioning — an ExistingRDD would force every
    iteration to re-exchange the full edge set, measured 3.1 -> 6.8 s),
    and plan no cartesian product."""
    df = QUERIES["pipe_graph_pagerank"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "InMemoryTableScan" in simple
    assert "CartesianProduct" not in simple
    rows = df.collect()
    import math
    n = len(rows)
    mean = sum(r.pagerank_norm for r in rows) / n
    assert n > 0 and math.isclose(mean, 1.0, rel_tol=1e-3)
    from sql_query_engine_rs_spark.functions.caching import release_caches
    release_caches()


def test_moments_merge_partials_then_fold(spark, sf_dir):
    """The variance merge must aggregate per-shard partials FIRST (16 rows)
    and fold driver-side-free: two aggregate stages, no window, no join."""
    from sql_query_engine_rs_spark.plans import plan_report

    df = QUERIES["pipe_moments_merge"].build(spark, sf_dir)
    r = plan_report(df)
    assert r["shuffle_joins"] == 0 and r["broadcast_joins"] == 0
    rows = df.collect()
    assert len(rows) == 1 and rows[0].n > 0


def test_partitioned_write_prune_directory_pruning(spark, sf_dir):
    """The partitioned-layout entry must resolve its lang predicate at the
    DIRECTORY level: the read-back scan carries a PartitionFilters entry on
    lang (directory pruning), lang is absent from the data-file ReadSchema,
    and the Morton/None data filters don't re-test it row-wise."""
    df = QUERIES["pipe_partitioned_write_prune"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters")[1][:120]
    assert "lang" in pf
    rs = plan.split("ReadSchema: ")[1].split("\n", 1)[0]
    assert "lang" not in rs


def test_zorder_layout_no_python_and_three_sorts(spark, sf_dir):
    """The Morton key is pure JVM arithmetic (no Python boundary), and the
    three layouts are exactly three global-rank Window sorts (Exchange
    SinglePartition — the audit's documented exact-chunking harness; the
    production write path is repartitionByRange, see the docstring)."""
    df = QUERIES["pipe_zorder_layout"].build(spark, sf_dir)
    formatted = explain_str(df, "formatted")
    assert "BatchEvalPython" not in formatted and "ArrowEvalPython" not in formatted
    import re

    assert len(re.findall(r"\(\d+\) Window\b", formatted)) == 3
    assert "SinglePartition" in formatted


def test_zorder_range_layout_fully_distributed(spark, sf_dir):
    """The production-path twin (pipe_zorder_range_layout) must have NO
    single-task stage: value-range bucketing replaces the exact global
    row_number chunking, so the plan may contain no global-order Window
    and no SinglePartition exchange at all (the 1-row stats aggregate
    plans as partial-agg -> regular exchange -> broadcast). Also stays
    JVM-side end to end."""
    df = QUERIES["pipe_zorder_range_layout"].build(spark, sf_dir)
    formatted = explain_str(df, "formatted")
    assert "BatchEvalPython" not in formatted and "ArrowEvalPython" not in formatted
    import re

    assert not re.findall(r"\(\d+\) Window\b", formatted), "unexpected Window"
    assert "Exchange SinglePartition" not in formatted


def test_bucketed_join_no_exchange(spark, sf_dir):
    """The bucketed-table join must be exchange-free: both sides written
    bucketBy(8, orderkey), so the SortMergeJoin reads bucket files aligned
    one-to-one with NO Exchange below the join (the groupBy above it may
    shuffle; only the join inputs are asserted). Broadcast is disabled for
    the assertion so the tiny test SF can't hide the bucketed SMJ path."""
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["pipe_bucketed_join_audit"].build(spark, sf_dir)
        lb = spark.table("bja_lineitem_b")
        ob = spark.table("bja_orders_b")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        simple = explain_str(joined, "simple")
        assert "SortMergeJoin" in simple
        assert "Exchange" not in simple, f"bucketed join must not shuffle:\n{simple}"
        assert df.count() == 5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def test_skipgram_vocab_broadcast_and_no_text_in_exchange(spark, sf_dir):
    """Skip-gram pairs: the vocab frequency table joins back as a
    BROADCAST (never shuffling the giant positional-token frame on the
    word), the ±2 context pairs come from lead/lag over ONE per-doc
    window — NO pair self-join at all (the old doc_id-equality join
    enumerated O(L²) within-doc pairs before the |Δq| ≤ 2 filter) —
    and no exchange carries the raw text column."""
    from sql_query_engine_rs_spark.plans import explain_str, plan_report

    df = QUERIES["pipe_skipgram_pairs"].build(spark, sf_dir)
    r = plan_report(df)
    assert r["broadcast_joins"] >= 2  # vocab cf + 1-row total
    # the pair stage is a window (lead/lag) pass, not a join: the only
    # joins in the whole plan are the two broadcast attach joins above
    assert r["shuffle_joins"] == 0
    formatted = explain_str(df, "formatted")
    assert "Window" in formatted
    assert_no_col_in_hash_exchanges(df, "text")
    rows = df.collect()
    assert len(rows) == 10 and all(x.n_pairs >= 1 for x in rows)


def test_mutual_knn_single_aggregate_no_join(spark, sf_dir):
    """Mutual kNN (r12 §19c): the reciprocity filter is ONE unordered-pair
    aggregate (count == 2) over a single kNN-graph build — no reversed
    self-join, so the expensive bucket-join + top-k subplan is embedded
    once and no shuffle join exists downstream of it. Every emitted pair
    must be genuinely reciprocal in the directed graph."""
    from sql_query_engine_rs_spark.functions.similarity import knn_graph
    from sql_query_engine_rs_spark.plans import plan_report

    df = QUERIES["pipe_mutual_knn"].build(spark, sf_dir)
    r = plan_report(df)
    assert r["shuffle_joins"] == 0
    rows = df.collect()
    g = {
        (x.src_id, x.nbr_id)
        for x in knn_graph(
            QUERIES["pipe_knn_graph"].build(spark, sf_dir).sparkSession.read.parquet(
                f"{sf_dir}/embeddings.parquet"
            ),
            k=4,
            num_planes=None,
        )
        .select("src_id", "nbr_id")
        .collect()
    }
    assert rows, "mutual pairs expected at test SF"
    for p in rows:
        assert (p.id_a, p.id_b) in g and (p.id_b, p.id_a) in g


def test_coverage_curve_single_fingerprint_shuffle(spark, sf_dir):
    """The shard coverage curve reduces on the fingerprint hash with a
    map-side partial min (first-occurrence trick); text never enters an
    exchange, and everything downstream of the two skinny aggregates is
    a 16-row frame."""
    df = QUERIES["pipe_shard_coverage_curve"].build(spark, sf_dir)
    formatted = explain_str(df, "formatted")
    assert "partial_min" in formatted or "partial min" in formatted.lower()
    assert_no_col_in_hash_exchanges(df, "text")
    rows = df.collect()
    assert len(rows) == 16
    assert abs(max(r.coverage_frac for r in rows) - 1.0) < 1e-9


def test_conformal_single_scan_aggregates(spark, sf_dir):
    """Conformal intervals: the three split aggregates are conditional
    single scans joined only through broadcast 1-row frames — no shuffle
    join anywhere, and measured coverage must sit near the nominal 0.9."""
    from sql_query_engine_rs_spark.plans import plan_report

    df = QUERIES["pipe_conformal_interval"].build(spark, sf_dir)
    r = plan_report(df)
    assert r["shuffle_joins"] == 0
    row = df.collect()[0]
    assert 0.8 <= row.coverage <= 1.0
    assert row.n_train > row.n_calib > 0 and row.n_test > 0


def test_stream_variant_telemetry_one_stateful_op(spark, sf_dir):
    """The streaming VARIANT rollup's pre-drain plan carries exactly one
    stateful operator (the windowed aggregate) — VARIANT parse/extract is
    stateless map work and must not add state."""
    from sql_query_engine_rs_spark.plans import plan_report
    from sql_query_engine_rs_spark.queries import _normalize_events_ts

    events = _normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    out = (
        events.withColumn("k", k)
        .groupBy(F.window(F.col("ts"), "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("s"))
    )
    r = plan_report(out)
    assert r["shuffle_joins"] == 0 and r["broadcast_joins"] == 0
    assert out.count() > 0


def test_workload_reuse_report_finds_shared_subplans(spark, sf_dir):
    """SparkCruise-style cross-query reuse detection: the three tokenize
    queries share the repartitioned documents subplan; the two TPC-H
    anchors share the lineitem scan; disjoint pairs report nothing."""
    from sql_query_engine_rs_spark.plans import workload_reuse_report

    frames = {
        n: QUERIES[n].build(spark, sf_dir)
        for n in [
            "pipe_token_count",
            "pipe_token_histogram",
            "pipe_quality_score",
            "ext_tpch_q1",
            "ext_tpch_q6",
        ]
    }
    rep = workload_reuse_report(frames)
    assert rep, "expected shared subplans in the tokenize family"
    tok3 = next(
        (
            e
            for e in rep
            if set(e["queries"])
            >= {"pipe_token_count", "pipe_token_histogram", "pipe_quality_score"}
        ),
        None,
    )
    assert tok3 is not None and tok3["weight"] >= 2
    li2 = next(
        (e for e in rep if set(e["queries"]) >= {"ext_tpch_q1", "ext_tpch_q6"}), None
    )
    assert li2 is not None
    # a disjoint workload has no common subplan of weight >= 2
    disjoint = workload_reuse_report(
        {
            "a": QUERIES["ext_tpch_q6"].build(spark, sf_dir),
            "b": QUERIES["pipe_token_count"].build(spark, sf_dir),
        }
    )
    assert all(len(e["queries"]) < 2 for e in disjoint)


def test_rehearsal_scripts_import_and_agree():
    """scale_rehearsal.py / skew_rehearsal.py live outside the package
    import graph, so a syntax error or a renamed-entry drift would
    otherwise surface only mid-run after minutes of corpus building.
    Import both and pin the cross-script contracts: every skew op is a
    HEAVY member (skew reuses the uniform bench method), every HEAVY and
    SKEW entry resolves in the registry (or is a scaled builder)."""
    import scale_rehearsal as SR
    import skew_rehearsal as SK

    from sql_query_engine_rs_spark.queries import QUERIES as REG

    assert set(SK.SKEW_OPS) <= set(SR.HEAVY), sorted(set(SK.SKEW_OPS) - set(SR.HEAVY))
    unresolved = [
        n for n in SR.HEAVY + SK.SKEW_OPS
        if n not in REG and n not in SR.SCALED_BUILDERS
    ]
    assert not unresolved, unresolved


def test_bench_burst_suspects_selection():
    """The burst-retry pass must trigger on the measured burst shape
    (2-2.6x on multi-second entries), never on sub-second jitter or the
    bounded real costs (kNN probe job +0.3s), and must cap its size."""
    import bench

    ref = {"slow_burst": 3.45, "stream_burst": 1.99, "jitter": 0.4, "knn": 1.04, "flat": 2.0}
    times = {"slow_burst": 6.03, "stream_burst": 5.15, "jitter": 0.95, "knn": 1.40, "flat": 2.05}
    got = bench._burst_suspects(times, ref)
    assert got == ["stream_burst", "slow_burst"]  # worst absolute first
    # entries with no reference never retry; cap bounds the set
    assert bench._burst_suspects({"x": 99.0}, {}) == []
    many = {f"q{i}": 10.0 for i in range(40)}
    assert len(bench._burst_suspects(many, {k: 1.0 for k in many}, cap=16)) == 16


def test_bench_latest_committed_map_reads_newest_round(tmp_path, monkeypatch):
    """Only stamps taken at this run's cpus are a noise/burst reference:
    the newest same-cpus stamp is read, a stamp with no cpus or other cpus
    is skipped even when newer."""
    import json as _json

    import bench

    def stamp(rnd, q, **extra):
        path = tmp_path / f"BENCH_QUERIES_r{rnd:02d}.json"
        path.write_text(_json.dumps({"queries": {q: 1.5}, **extra}))

    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    monkeypatch.setattr(bench, "CPUS", "4")
    stamp(1, "old_same_cpus", cpus=4)
    stamp(2, "same_cpus", cpus=4)
    stamp(3, "no_cpus")
    stamp(4, "other_cpus", cpus=32)
    assert bench._latest_committed_query_map() == {"same_cpus": 1.5}


def _ancestors_to_root(plan: str, needle: str) -> list[str]:
    """Walk a physical-plan tree string from the line containing ``needle``
    up to the root (nearest preceding line with smaller indent, repeatedly).
    Indent = position of the node name after the tree-drawing prefix."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-*(0123456789)":
            i += 1
        return i

    idx = next(i for i, l in enumerate(lines) if needle in l)
    out, d = [], depth(lines[idx])
    for i in range(idx - 1, -1, -1):
        di = depth(lines[i])
        if di < d:
            out.append(lines[i])
            d = di
    return out


def test_incremental_probes_never_shuffle_the_index(spark, sf_dir):
    """The whole point of the incremental shard-vs-index operators is that
    the (huge) persisted index streams map-side against a broadcast of the
    shard's keys: between the index FileScan and its BroadcastHashJoin
    there must be NO hash exchange (a .distinct() upstream of the probe
    once reintroduced one — round 11)."""
    from sql_query_engine_rs_spark.queries import QUERIES

    for name, scan_marker in [
        ("pipe_incremental_dedup", "NOT ((doc_id"),
        ("pipe_incremental_minhash", "NOT ((doc_id"),
    ]:
        df = QUERIES[name].build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        ancestors = _ancestors_to_root(plan, scan_marker)
        seen_before_join = []
        for line in ancestors:
            if "BroadcastHashJoin" in line:
                break
            seen_before_join.append(line)
        else:
            raise AssertionError(f"{name}: index scan never reaches a BroadcastHashJoin")
        bad = [l for l in seen_before_join if "Exchange hashpartitioning" in l]
        assert not bad, f"{name}: index side shuffles before the probe join: {bad}"
