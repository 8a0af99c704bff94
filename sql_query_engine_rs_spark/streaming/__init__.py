"""Structured Streaming operators.

The reference has NO streaming semantics — its futures-based pull pipeline is
an execution mechanism only (SURVEY.md §2.2). Extension surface: event-time
windowed aggregation with watermarks, streaming dedup, and a custom stateful
operator, all over an events-shaped stream (event_id, ts, user_id,
event_type, value, props).

Every transformation takes and returns DataFrames, so the SAME function works
on a batch frame (tests, backfill) and a ``readStream`` frame (production) —
the Spark unified-batch-streaming contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_query_engine_rs_spark.functions.expressions import portable_round


def windowed_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts + value sums per key with late-data handling.

    On a stream, the watermark bounds state: windows older than max(event
    time) - watermark are finalized and dropped from the state store — the
    property that keeps an always-on 100 TB/day pipeline's state finite.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(F.col(ts_col), window_duration).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            portable_round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col(key_col),
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(events: DataFrame, id_col: str = "event_id", ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-style id dedup. On a stream, ``dropDuplicatesWithinWatermark``
    bounds the dedup state by event time; on a batch frame it degrades to
    plain dropDuplicates."""
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark([id_col])
    return events.dropDuplicates([id_col])


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session-window aggregation (gap-based), the canonical stateful op.

    Uses Spark's native ``session_window`` — state is merged/expired by the
    engine, no custom state store code needed.
    """
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"), portable_round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            F.col(key_col),
            "n_events",
            "sum_value",
        )
    )


def running_totals_stateful(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    idle_gap_minutes: int | None = None,
    ts_col: str = "ts",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running event count + value sum, emitted on every update.

    This is the template for operators Spark's built-ins can't express
    (custom session logic, pattern detection, online aggregates): state is a
    per-key tuple persisted by the state store; each micro-batch's rows for
    a key arrive as pandas DataFrames.

    ``idle_gap_minutes`` is the always-on state-expiry path: each update
    arms an EVENT-TIME timer at (key's max event time + gap); once the
    watermark passes it with no new data for the key, the timed-out
    invocation removes the key's state — so an always-on deployment's state
    holds only keys seen within the idle gap of the event-time frontier,
    exactly the horizon the built-in stateful ops (windows, dedup, session)
    expire on. Event-time expiry is deterministic and replayable (same data
    → same expiries, no wall-clock dependence), and is pinned by a
    multi-batch removal test (tests/test_streaming.py).

    Why not wall-clock expiry: in this environment's PySpark 4.1.2,
    GroupStateTimeout.ProcessingTimeTimeout never quiesces the micro-batch
    loop (processAllAvailable hangs; O(1000)-key drains crash the Python
    worker), and the newer transformWithStateInPandas API — whose timers
    would be the canonical fix — requires google.protobuf for its state
    server protocol, which this container does not ship. Event-time timers
    avoid both and are the semantics a data pipeline usually wants anyway.

    On a batch frame, falls back to the equivalent groupBy (same schema).
    """
    from pyspark.sql import functions as F

    out_schema = f"{key_col} long, n_events long, total double"

    if not events.isStreaming:
        return (
            events.groupBy(key_col)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(value_col).cast("double").alias("total"),
            )
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = "n_events long, total double"
    gap_ms = None if idle_gap_minutes is None else idle_gap_minutes * 60 * 1000

    def update(key, pdfs, state: GroupState):
        import math

        import pandas as pd

        if state.hasTimedOut:
            # idle longer than the gap at the event-time frontier: drop the
            # key's state; emit nothing (expiry is bookkeeping, not output)
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        max_ts_ms = None
        for pdf in pdfs:
            n += len(pdf)
            # math.fsum, not Series.sum(): pandas uses numpy pairwise
            # summation whose grouping depends on batch splits, while the
            # DuckDB oracle sums sequentially — near a rounding boundary the
            # orders can disagree in the last ulp and flip the rounded
            # digit. fsum is exactly rounded (order-independent), so the
            # accumulated total is deterministic across any micro-batch
            # partitioning.
            total = math.fsum([total, *(float(v) for v in pdf[value_col])])
            if gap_ms is not None:
                batch_max = int(pd.Timestamp(pdf[ts_col].max()).value // 1_000_000)
                max_ts_ms = batch_max if max_ts_ms is None else max(max_ts_ms, batch_max)
        state.update((n, total))
        if gap_ms is not None and max_ts_ms is not None:
            state.setTimeoutTimestamp(max_ts_ms + gap_ms)
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n], "total": [total]})

    # applyInPandasWithState ships EVERY input column through Arrow to the
    # Python worker — Catalyst cannot prune into an opaque function (guide
    # §4.1). Project to the columns the update function reads (key, value,
    # and ts only when event-time timers are armed) so payload columns
    # (props, event_type, ...) never cross the boundary or sit in shuffle.
    need = [key_col, value_col] + ([ts_col] if gap_ms is not None else [])
    src = events.select(*need)
    if gap_ms is not None:
        # EventTimeTimeout requires a watermark on the stream
        src = src.withWatermark(ts_col, watermark)
    return src.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if gap_ms is None
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


def ewma_stateful(
    series: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "hr",
    x_col: str = "x",
    alpha: float = 0.3,
    dev_threshold: float = 0.3,
) -> DataFrame:
    """Streaming EWMA control chart via ``applyInPandasWithState``: per key,
    the exponentially weighted moving average of an ordered series with
    anomaly counting (|x − forecast| / forecast > threshold) — the always-on
    twin of the batch array-fold (queries.pipe_ewma_anomaly). State is four
    scalars per key (ewma, n_anomalies, max_deviation, n_seen); each
    micro-batch's rows are sorted by event time and folded from the carried
    state, so any batch split of the same ordered input yields the same
    final emission. Arithmetic is IEEE float64 with the exact recurrence
    e' = α·x + (1−α)·e the batch twin and the DuckDB recursive-CTE oracle
    use — bit-identical across all three.

    On a batch frame, falls back to the same fold via ``applyInPandas``
    (identical output schema and values — the unified contract).
    """
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401  (parity with siblings)

    out_schema = (
        f"{key_col} string, n_hours long, ewma double, "
        "n_anomalies long, max_dev double"
    )

    def fold(rows: "pd.DataFrame", e, n_anom, maxdev, n_seen):
        rows = rows.sort_values(ts_col, kind="mergesort")
        for x in (float(v) for v in rows[x_col]):
            if n_seen == 0:
                e = x
            else:
                # e == 0 guard: the batch twin's SQL (pipe_ewma_anomaly)
                # divides abs(x-e)/e, which is NULL at e=0 — NULL > thresh
                # is false and greatest(maxdev, NULL) keeps maxdev, i.e.
                # the anomaly checks are silently skipped. Mirror that
                # contract instead of raising ZeroDivisionError on a
                # zero-valued carry (possible on gauge series even though
                # the registry's count series are always >= 1).
                if e != 0.0:
                    dev = abs(x - e) / e
                    if dev > dev_threshold:
                        n_anom += 1
                    if dev > maxdev:
                        maxdev = dev
                e = alpha * x + (1.0 - alpha) * e
            n_seen += 1
        return e, n_anom, maxdev, n_seen

    if not series.isStreaming:
        def batch_fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
            e, n_anom, maxdev, n_seen = fold(pdf, 0.0, 0, 0.0, 0)
            return pd.DataFrame({
                key_col: [pdf[key_col].iloc[0]],
                "n_hours": [n_seen],
                "ewma": [e],
                "n_anomalies": [n_anom],
                "max_dev": [maxdev],
            })

        return series.groupBy(key_col).applyInPandas(batch_fn, schema=out_schema)

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = "e double, n_anom long, maxdev double, n_seen long"

    def update(key, pdfs, state: GroupState):
        e, n_anom, maxdev, n_seen = (
            state.get if state.exists else (0.0, 0, 0.0, 0)
        )
        batch = pd.concat(list(pdfs))
        e, n_anom, maxdev, n_seen = fold(batch, e, n_anom, maxdev, n_seen)
        state.update((e, n_anom, maxdev, n_seen))
        yield pd.DataFrame({
            key_col: [key[0]],
            "n_hours": [n_seen],
            "ewma": [e],
            "n_anomalies": [n_anom],
            "max_dev": [maxdev],
        })

    return series.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def last_touch_attribution_stateful(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    value_col: str = "value",
    touch_types: tuple = ("click", "view"),
    convert_type: str = "purchase",
    lookback_s: int = 3600,
) -> DataFrame:
    """Streaming last-touch attribution — per-key (last marketing-touch
    type, its epoch-second timestamp) held in the state store
    (``applyInPandasWithState``); each micro-batch emits per-channel
    (n, value) DELTAS for the conversions it contains, crediting each
    conversion to the key's most recent touch within ``lookback_s``
    seconds (else 'direct'). Summing the emissions reproduces the batch
    IGNORE-NULLS-last_value window exactly — the unified batch/streaming
    contract — with O(keys) state (2 scalars per key) instead of a
    window over all history. Rows within a batch are sorted by
    (ts, order_col), a unique total order; the carried touch seeds index
    0 from state, so correctness only needs per-key batch-order delivery
    (Kafka-partition-by-user in production; the registry drains one
    ordered batch). The carry is pandas-vectorized (mask + ffill), and
    the only floats are the summed conversion values. On a batch frame,
    falls back to the equivalent window form (same output schema)."""
    from pyspark.sql import functions as F

    out_schema = "channel string, n long, value_sum double"
    tt = list(touch_types)

    if not events.isStreaming:
        from pyspark.sql import Window

        w = (
            Window.partitionBy(key_col)
            .orderBy(ts_col, order_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        is_touch = F.col(type_col).isin(tt)
        seq = events.select(
            F.col(type_col), F.col(ts_col), F.col(value_col),
            F.last(F.when(is_touch, F.col(type_col)), ignorenulls=True).over(w).alias("_tt"),
            F.last(F.when(is_touch, F.col(ts_col)), ignorenulls=True).over(w).alias("_tts"),
        ).filter(F.col(type_col) == convert_type)
        return seq.select(
            F.when(
                F.col("_tts").isNotNull()
                & ((F.unix_timestamp(ts_col) - F.unix_timestamp("_tts")) <= lookback_s),
                F.col("_tt"),
            ).otherwise("direct").alias("channel"),
            F.col(value_col),
        ).groupBy("channel").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(value_col).alias("value_sum"),
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = "touch_type string, touch_epoch long"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            last_type, last_epoch = state.get
        else:
            last_type, last_epoch = None, None
        out = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values([ts_col, order_col]).reset_index(drop=True)
            # unit-independent epoch seconds (pandas may hand us ns- or
            # us-resolution datetime64 depending on the Arrow path)
            epoch = (
                (pdf[ts_col] - pd.Timestamp("1970-01-01")).dt.total_seconds()
            ).astype("int64")
            is_touch = pdf[type_col].isin(tt)
            carried_type = pdf[type_col].where(is_touch).shift(1).ffill()
            carried_epoch = epoch.astype("float64").where(is_touch).shift(1).ffill()
            if last_type is not None:
                carried_type = carried_type.fillna(last_type)
                carried_epoch = carried_epoch.fillna(float(last_epoch))
            conv = pdf[type_col] == convert_type
            if conv.any():
                ct = carried_type[conv]
                ce = carried_epoch[conv]
                within = ce.notna() & ((epoch[conv] - ce) <= lookback_s)
                channel = ct.where(within).fillna("direct")
                out.append(
                    pd.DataFrame(
                        {"channel": channel, "value": pdf.loc[conv, value_col]}
                    )
                )
            if is_touch.any():
                last_idx = is_touch[is_touch].index[-1]
                last_type = str(pdf[type_col].iloc[last_idx])
                last_epoch = int(epoch.iloc[last_idx])
        if last_type is not None:
            state.update((last_type, last_epoch))
        if out:
            allp = pd.concat(out)
            agg = allp.groupby("channel").agg(n=("value", "size"), value_sum=("value", "sum"))
            yield agg.reset_index()

    # project to the update function's inputs — an opaque stateful op ships
    # every column through Arrow otherwise (guide §4.1)
    events = events.select(key_col, type_col, ts_col, order_col, value_col)
    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def transition_counts_stateful(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming Markov transition counts — per-key LAST-EVENT-TYPE state
    (``applyInPandasWithState``) emitting each micro-batch's (from_type,
    to_type) count DELTAS; sum the emissions to get the corpus transition
    matrix. The state is one string per key (the smallest possible custom
    state), and because the emissions are deltas the final sum is
    independent of how the source splits into micro-batches PROVIDED
    batches arrive in event-time order per key (the file-stream drain the
    registry uses is a single ordered batch; a production deployment fronts
    this with the usual per-key ordered ingestion, e.g. Kafka partitions
    keyed by user). Rows within a batch are sorted by (ts, order_col) —
    a unique total order, so counts are deterministic. The pair counting
    is pandas-vectorized (shift + value_counts), not a per-row loop, and
    integer-only (no float drift). On a batch frame, falls back to the
    equivalent LAG window + groupBy (same schema) — the batch twin the
    DuckDB oracle replays."""
    from pyspark.sql import functions as F

    out_schema = "from_type string, to_type string, n long"

    if not events.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy(key_col).orderBy(ts_col, order_col)
        seq = events.select(
            F.col(type_col), F.lag(type_col).over(w).alias("_prev")
        ).filter(F.col("_prev").isNotNull())
        return seq.groupBy(
            F.col("_prev").alias("from_type"), F.col(type_col).alias("to_type")
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = "last_type string"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        last = state.get[0] if state.exists else None
        frames = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values([ts_col, order_col])
            s = pdf[type_col].reset_index(drop=True)
            prev = s.shift(1)
            if last is not None:
                prev.iloc[0] = last
            last = s.iloc[-1]
            mask = prev.notna()
            if mask.any():
                frames.append(pd.DataFrame({"from_type": prev[mask], "to_type": s[mask]}))
        if last is not None:
            state.update((str(last),))
        if frames:
            allp = pd.concat(frames)
            vc = allp.groupby(["from_type", "to_type"]).size().reset_index(name="n")
            yield vc

    # project to the update function's inputs — an opaque stateful op ships
    # every column through Arrow otherwise (guide §4.1)
    events = events.select(key_col, type_col, ts_col, order_col)
    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    upper: str = "10 minutes",
    left_watermark: str = "30 minutes",
    right_watermark: str = "30 minutes",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join on key + event-time interval:
    right.ts ∈ [left.ts, left.ts + upper]. ``how`` extends to
    ``left_outer`` — unmatched left rows emit with NULL right columns.

    On streams, BOTH sides carry watermarks and the time-range condition is
    what lets Spark expire join state — without it the state store grows
    unboundedly and a 100 TB/day pipeline dies; with it, each side holds at
    most (watermark + upper) of history per key. On batch frames the same
    plan is a plain range-predicate join (batch twin for oracles/backfill).

    Outer-join caveat that matters on BOUNDED drains: an unmatched left row
    is emitted only once the watermark proves no match can still arrive, and
    the watermark only advances on new data — so rows near the stream's end
    stay undecided at termination unless something advances the frontier
    past them. The registered drain appends a far-future sentinel row to
    both sides (filtered from output); Spark's no-data micro-batch then
    flushes every real row's outer result before availableNow terminates
    (exact batch-LEFT-JOIN parity, pinned by the driver oracle).

    Both sides are prefix-renamed so the self-join case (same source twice)
    is unambiguous; output keeps the shared key un-prefixed.
    """
    def prefixed(df: DataFrame, prefix: str) -> DataFrame:
        renames = {c: f"{prefix}{c}" for c in df.columns}
        return df.select([F.col(c).alias(n) for c, n in renames.items()])

    l = prefixed(left, left_prefix)
    r = prefixed(right, right_prefix)
    lts, rts = f"{left_prefix}{ts_col}", f"{right_prefix}{ts_col}"
    if l.isStreaming:
        l = l.withWatermark(lts, left_watermark)
    if r.isStreaming:
        r = r.withWatermark(rts, right_watermark)
    cond = (
        (F.col(f"{left_prefix}{key_col}") == F.col(f"{right_prefix}{key_col}"))
        & (F.col(rts) >= F.col(lts))
        & (F.col(rts) <= F.col(lts) + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, how).withColumnRenamed(f"{left_prefix}{key_col}", key_col).drop(
        f"{right_prefix}{key_col}"
    )


# Per-column merge of a batch partial into the previous snapshot's value.
# least() skips NULLs (returns the smallest non-null), so the min-merge
# needs no coalesce scaffolding; the sum-merge treats a side with no row
# for the key as 0.
_UPSERT_MERGES = {
    "min": F.least,
    "sum": lambda prev, batch: F.coalesce(prev, F.lit(0)) + F.coalesce(batch, F.lit(0)),
}


def _versioned_upsert(
    stream_df: DataFrame,
    target_dir: str,
    key: str,
    partials: Callable[[DataFrame], DataFrame],
    merges: dict[str, str],
) -> None:
    """foreachBatch keyed upsert into a versioned parquet table — the
    exactly-once MERGE pattern for sinks with no transactional support,
    shared by the three index sinks below.

    Each micro-batch is reduced by ``partials`` to one row per ``key``
    holding the index's value columns, then full-outer merged into the
    PREVIOUS version snapshot column by column (``merges`` maps each value
    column to ``"min"`` or ``"sum"``), and written as version
    ``v=<batch_id>`` — a pure function of (prior state, batch_id's data).
    Both merges are commutative and associative, so the final snapshot
    equals the one-pass batch aggregate regardless of how rows are sharded
    into batches. A batch replayed after a crash reads the snapshot below
    its own id and rewrites the SAME version directory from the SAME
    inputs, so re-processing is idempotent: that, plus the checkpoint's
    batch-id tracking (``<target_dir>/_checkpoint``), is Spark's end-to-end
    exactly-once contract for non-transactional sinks. Readers take the
    highest committed version (``_latest_upsert_version``; snapshot
    isolation by directory convention — the same versioned-manifest idea
    Delta/Iceberg formalize).

    Blocks until the availableNow drain finishes.
    """
    import os

    spark = stream_df.sparkSession

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        part = partials(batch_df)
        prev = _latest_upsert_version(spark, target_dir, below=batch_id)
        if prev is not None:
            batch = part.select(key, *[F.col(c).alias(f"_b_{c}") for c in merges])
            part = prev.join(batch, on=key, how="full_outer").select(
                key,
                *[
                    _UPSERT_MERGES[how](F.col(c), F.col(f"_b_{c}")).alias(c)
                    for c, how in merges.items()
                ],
            )
        part.write.mode("overwrite").parquet(os.path.join(target_dir, f"v={batch_id}"))

    (
        stream_df.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(target_dir, "_checkpoint"))
        .start()
        .awaitTermination()
    )


def _latest_upsert_version(spark, target_dir: str, below: int | None = None):
    """Highest committed ``v=<id>`` snapshot (optionally strictly below a
    batch id — the read path of an idempotent batch replay). None if the
    table is empty."""
    import glob
    import os

    versions = []
    for p in glob.glob(os.path.join(target_dir, "v=*")):
        try:
            v = int(os.path.basename(p).split("=", 1)[1])
        except ValueError:
            continue
        if below is None or v < below:
            versions.append(v)
    if not versions:
        return None
    return spark.read.parquet(os.path.join(target_dir, f"v={max(versions)}"))


def foreach_batch_upsert(
    stream_df: DataFrame,
    target_dir: str,
    key_col: str = "user_id",
    value_col: str = "value",
) -> None:
    """foreachBatch keyed upsert into a versioned parquet table — the
    exactly-once MERGE pattern for sinks with no transactional support.

    Each micro-batch aggregates its rows per key (event count + value sum),
    reads the PREVIOUS version snapshot, full-outer sum-merges, and writes
    version ``v=<batch_id>`` (see ``_versioned_upsert`` for the
    idempotent-replay contract).

    Index schema: (<key_col>, n_events bigint, total double).

    Blocks until the availableNow drain finishes.
    """
    def partials(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).cast("double").alias("total"),
        )

    _versioned_upsert(
        stream_df, target_dir, key_col, partials, {"n_events": "sum", "total": "sum"}
    )


def dedup_index_upsert(
    stream_df: DataFrame,
    target_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental dedup-index maintenance — the actual 100 TB ingest loop:
    each arriving shard's document fingerprints are UPSERTED into the
    persisted fingerprint index that ``pipe_cross_corpus_dedup`` reads as a
    static table. Per micro-batch: fingerprint the batch (md5 of normalized
    text — map-side, text never shuffles), reduce to per-fingerprint
    (min id, count) partials, and full-outer merge into the previous index
    snapshot with min-/sum-merge. Both merge operators are commutative and
    associative, so the final index equals the one-pass batch aggregate
    REGARDLESS of how documents are sharded into batches — which is exactly
    what makes the index consistent under out-of-order shard arrival, and
    what the DuckDB oracle checks.

    Index schema: (fingerprint, first_doc_id, n_seen) — first_doc_id is the
    canonical kept head (the same keep-min-id rule as the batch dedup
    family; a probe that hits the index drops its doc), n_seen the running
    occurrence count (the dup-rate audit). Versioned-parquet sink with the
    idempotent-replay contract of ``_versioned_upsert``. At 100 TB the
    snapshot would be bucketed by fingerprint prefix so the per-batch
    merge join is co-partitioned.

    Blocks until the availableNow drain finishes.
    """
    from sql_query_engine_rs_spark.functions.text import fingerprint

    def partials(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint")
            )
            .groupBy("fingerprint")
            .agg(
                F.min(id_col).cast("bigint").alias("first_doc_id"),
                F.count(F.lit(1)).alias("n_seen"),
            )
        )

    _versioned_upsert(
        stream_df, target_dir, "fingerprint", partials,
        {"first_doc_id": "min", "n_seen": "sum"},
    )


def url_index_upsert(
    stream_df: DataFrame,
    target_dir: str,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> None:
    """Incremental URL-dedup index maintenance — crawl curation's first
    pass run as the ingest loop: each arriving shard's URLs are
    canonicalized (functions.text.canonicalize_url — scheme/www/host-case/
    tracking-param/trailing-slash, pure JVM regexp chain) and UPSERTED
    into the persisted canonical-URL index. Per micro-batch: canonicalize
    map-side, reduce to per-canonical (min id, count) partials, full-outer
    min-/sum-merge into the previous snapshot. Both merge operators are
    commutative-associative, so the final index equals the one-pass batch
    aggregate regardless of sharding — the DuckDB oracle's check.

    Index schema: (canonical_url, keeper_doc_id, n_docs). Same
    versioned-parquet idempotent-replay contract (``_versioned_upsert``).
    At 100 TB the snapshot would be bucketed by canonical-url hash so the
    per-batch merge join is co-partitioned.

    Blocks until the availableNow drain finishes.
    """
    from sql_query_engine_rs_spark.functions.text import canonicalize_url

    def partials(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                F.col(id_col), canonicalize_url(F.col(url_col)).alias("canonical_url")
            )
            .groupBy("canonical_url")
            .agg(
                F.min(id_col).cast("bigint").alias("keeper_doc_id"),
                F.count(F.lit(1)).alias("n_docs"),
            )
        )

    _versioned_upsert(
        stream_df, target_dir, "canonical_url", partials,
        {"keeper_doc_id": "min", "n_docs": "sum"},
    )
