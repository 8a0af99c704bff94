"""Structured Streaming: the same transformations run as a REAL stream
(file source -> memory sink, availableNow trigger) and match their batch
twin — the unified batch/streaming contract the module promises."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_query_engine_rs_spark.streaming import (
    session_windows,
    streaming_dedup,
    windowed_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """A small events table written as parquet for the file stream source
    (micros timestamps so the streaming reader needs no nanos handling)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:20:00", 1, "click", 2.0),
            (3, "2024-01-01 11:05:00", 1, "view", 3.0),   # > 30 min gap -> new session
            (4, "2024-01-01 10:10:00", 2, "click", 4.0),
            (4, "2024-01-01 10:10:00", 2, "click", 4.0),  # duplicate event_id
        ],
        "event_id long, ts_s string, user_id long, event_type string, value double",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type", "value")
    df.write.mode("overwrite").parquet(path)
    return path


def read_stream(spark, path):
    static = spark.read.parquet(path)
    return spark.readStream.schema(static.schema).parquet(path)


def drain(stream_df, name, mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_windowed_counts_stream_matches_batch(spark, events_dir):
    stream = windowed_counts(read_stream(spark, events_dir), "1 hour", watermark="2 hours")
    assert stream.isStreaming
    # complete mode: append would hold windows above the watermark back
    # until a later micro-batch, and availableNow has none.
    drain(stream, "win_sink", "complete")
    got = {
        (str(r.window_start), r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("win_sink").collect()
    }
    batch = windowed_counts(spark.read.parquet(events_dir), "1 hour")
    want = {
        (str(r.window_start), r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want
    # duplicate event_id 4 is NOT deduped here (that's streaming_dedup's job):
    # 10:00 click window = events 1, 2, 4, 4 -> count 4, sum 1+2+4+4 = 11
    assert got[("2024-01-01 10:00:00", "click")] == (4, 11.0)


def test_streaming_dedup(spark, events_dir):
    stream = streaming_dedup(read_stream(spark, events_dir), watermark="1 hour")
    drain(stream, "dedup_sink", "append")
    ids = [r.event_id for r in spark.table("dedup_sink").collect()]
    assert sorted(ids) == [1, 2, 3, 4]  # duplicate event_id 4 dropped


def test_session_windows_batch_twin(spark, events_dir):
    """session_window works on the batch frame: user 1 has 2 sessions
    (65-min gap), user 2 has 1."""
    out = session_windows(spark.read.parquet(events_dir), gap="30 minutes")
    per_user = {}
    for r in out.collect():
        per_user[r.user_id] = per_user.get(r.user_id, 0) + 1
    assert per_user == {1: 2, 2: 1}


def test_session_windows_stream_runs(spark, events_dir):
    stream = session_windows(read_stream(spark, events_dir), gap="30 minutes", watermark="2 hours")
    assert stream.isStreaming
    drain(stream, "sess_sink", "complete")
    rows = spark.table("sess_sink").collect()
    assert len(rows) == 3  # 2 sessions for user 1 + 1 for user 2


def test_interval_join_stream_matches_batch(spark, events_dir):
    from sql_query_engine_rs_spark.streaming import interval_join

    static = spark.read.parquet(events_dir)

    def pair(df_l, df_r):
        return interval_join(
            df_l.filter(F.col("event_type") == "click"),
            df_r.filter(F.col("event_type") == "view"),
            key_col="user_id", upper="1 hour",
            left_watermark="2 hours", right_watermark="2 hours",
        ).select("l_event_id", "r_event_id", "user_id")

    batch_rows = {tuple(r) for r in pair(static, static).collect()}
    stream = pair(read_stream(spark, events_dir), read_stream(spark, events_dir))
    assert stream.isStreaming
    drain(stream, "sj_t", "append")
    stream_rows = {tuple(r) for r in spark.table("sj_t").collect()}
    assert stream_rows == batch_rows
    # the 10:20 click -> 11:05 view pair for user 1 (the 10:00 click is >1h away)
    assert (2, 3, 1) in stream_rows and len(stream_rows) == 1


@pytest.mark.slow  # heavyweight sweep; round-end full validation runs it (SPARK_GRAFT_FULL_TESTS=1)
def test_custom_state_event_time_expiry(spark, tmp_path):
    """Idle-key state REMOVAL across micro-batches: a key idle past the
    event-time gap must restart from zero when it reappears — the always-on
    bounded-state contract of running_totals_stateful(idle_gap_minutes=...).

    Four single-file batches (maxFilesPerTrigger=1, availableNow):
      f1: key 1 and key 2 at 10:00         -> both keys get state + timers
      f2: key 2 at 12:00                   -> advances watermark to 11:55
      f3: key 2 at 12:10 (no key-1 data)   -> watermark 11:55 > key 1's
                                              timeout (10:30): timer fires,
                                              key 1's state removed
      f4: key 1 at 12:30                   -> fresh state: n_events=1
    Without expiry, key 1's second emission would be (2, 17.0)."""
    from sql_query_engine_rs_spark.streaming import running_totals_stateful

    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    import os

    os.makedirs(src_dir)

    def add_file(rows, name):
        tmp = str(tmp_path / ("stage_" + name))
        (
            spark.createDataFrame(rows, "user_id long, ts string, value double")
            .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        import glob as g
        import shutil

        shutil.copy(g.glob(tmp + "/part-*.parquet")[0], os.path.join(src_dir, name))

    add_file([(1, "2026-01-01 10:00:00", 10.0), (2, "2026-01-01 10:00:00", 3.0)], "f1.parquet")
    add_file([(2, "2026-01-01 12:00:00", 4.0)], "f2.parquet")
    add_file([(2, "2026-01-01 12:10:00", 1.0)], "f3.parquet")
    add_file([(1, "2026-01-01 12:30:00", 7.0)], "f4.parquet")

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = running_totals_stateful(
        stream, key_col="user_id", value_col="value", idle_gap_minutes=30,
        watermark="5 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("expiry_sink")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {(r.user_id, r.n_events, r.total) for r in spark.table("expiry_sink").collect()}
    spark.catalog.dropTempView("expiry_sink")
    # key 1 restarted after expiry...
    assert (1, 1, 10.0) in rows and (1, 1, 7.0) in rows
    assert (1, 2, 17.0) not in rows, f"state NOT expired: {sorted(rows)}"
    # ...while key 2 (never idle past the gap... 10:00->12:00 IS past the
    # gap, but its own batches re-arm before any batch runs without it) kept
    # accumulating monotonically
    assert (2, 3, 8.0) in rows


def test_stream_parquet_sink_exactly_once_restart(spark, tmp_path):
    """Checkpointed file sink: draining, RESTARTING from the same
    checkpoint with no new data, and draining again must not duplicate
    rows (offset tracking + committed-batch idempotence — the property
    that makes a 100 TB/day ingest restartable); new data after the
    restart appends exactly once."""
    import glob as g
    import os
    import shutil

    src_dir = str(tmp_path / "src")
    sink_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    def add_file(rows, name):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, "event_id long, value double").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        shutil.copy(g.glob(stage + "/part-*.parquet")[0], os.path.join(src_dir, name))

    def drain_once():
        q = (
            spark.readStream.schema("event_id long, value double")
            .parquet(src_dir)
            .writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    add_file([(1, 1.0), (2, 2.0)], "f1.parquet")
    drain_once()
    assert sorted(r.event_id for r in spark.read.parquet(sink_dir).collect()) == [1, 2]
    # restart from the same checkpoint, no new data: nothing reprocessed
    drain_once()
    assert sorted(r.event_id for r in spark.read.parquet(sink_dir).collect()) == [1, 2]
    # new data after restart lands exactly once
    add_file([(3, 3.0)], "f2.parquet")
    drain_once()
    assert sorted(r.event_id for r in spark.read.parquet(sink_dir).collect()) == [1, 2, 3]


@pytest.mark.slow  # heavyweight sweep; round-end full validation runs it (SPARK_GRAFT_FULL_TESTS=1)
def test_windowed_counts_append_drops_late_data(spark, tmp_path):
    """Watermark semantics under append mode: an event arriving after the
    watermark passed its window must be DROPPED (state for that window is
    gone — the bound that keeps an always-on aggregation's memory finite),
    and each finalized window is emitted exactly once with the on-time
    count."""
    import glob as g
    import os
    import shutil

    from sql_query_engine_rs_spark.streaming import windowed_counts

    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    def add_file(rows, name):
        stage = str(tmp_path / ("stage_" + name))
        (
            spark.createDataFrame(rows, "event_id long, ts_s string, user_id long, event_type string, value double")
            .select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type", "value")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        shutil.copy(g.glob(stage + "/part-*.parquet")[0], os.path.join(src_dir, name))

    # batch1: 10:10 (win 10:00) + 11:40 -> watermark 11:10 computed at batch
    # end (takes effect one batch later)
    add_file([(1, "2026-01-01 10:10:00", 1, "click", 1.0),
              (2, "2026-01-01 11:40:00", 1, "click", 1.0)], "f1.parquet")
    # batch2: on-time event; the 11:10 watermark commits into effect
    add_file([(6, "2026-01-01 12:00:00", 1, "click", 1.0)], "f2.parquet")
    # batch3: a LATE 10:20 event — the in-effect watermark (>= 11:10) is
    # past win 10:00's end, so it is dropped; 12:50 keeps advancing time
    add_file([(3, "2026-01-01 10:20:00", 1, "click", 1.0),
              (4, "2026-01-01 12:50:00", 1, "click", 1.0)], "f3.parquet")
    # batch4: flush batch so win 11:00 emits
    add_file([(5, "2026-01-01 13:40:00", 1, "click", 1.0)], "f4.parquet")

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = windowed_counts(stream, "1 hour", watermark="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("late_sink")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {str(r.window_start): r.n_events for r in spark.table("late_sink").collect()}
    spark.catalog.dropTempView("late_sink")
    # win 10:00 emitted ONCE with count 1 — the late event 3 was dropped
    # (count 2 would mean watermark state survived past finalization)
    assert rows.get("2026-01-01 10:00:00") == 1, rows
    assert rows.get("2026-01-01 11:00:00") == 1, rows


def test_stream_outer_join_emits_unmatched(spark, sf_dir):
    """The sentinel-flushed LEFT OUTER drain must contain NULL-purchase rows
    (silently degrading to inner-join results would still pass a
    rows-exist check) and exactly the batch left-join row count."""
    from pyspark.sql import functions as F

    from sql_query_engine_rs_spark.queries import QUERIES, events_table

    res = QUERIES["stream_outer_join"].build(spark, sf_dir)
    n_stream = res.count()
    n_unmatched = res.filter(F.col("purchase_id").isNull()).count()
    assert n_unmatched > 0

    ev = events_table(spark, sf_dir)
    c = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    batch = c.join(
        p,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 10 minutes")),
        "left_outer",
    )
    assert n_stream == batch.count()


def test_foreachbatch_upsert_restart_no_reprocess(spark, tmp_path):
    """Re-draining from the same checkpoint with no new data must create no
    new versions and leave the snapshot unchanged; new data after restart
    merges exactly once."""
    import glob
    import os

    from sql_query_engine_rs_spark.streaming import (
        _latest_upsert_version,
        foreach_batch_upsert,
    )

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq_arrow

    src_dir = str(tmp_path / "src")
    tgt_dir = str(tmp_path / "tgt")
    os.makedirs(src_dir)
    schema = "event_id long, user_id long, value double"
    arrow_schema = pa.schema(
        [("event_id", pa.int64()), ("user_id", pa.int64()), ("value", pa.float64())]
    )

    def write_file(rows, name):
        pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "value"])
        pq_arrow.write_table(
            pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False),
            os.path.join(src_dir, name),
        )

    write_file([(1, 1, 10.0), (2, 2, 5.0)], "f1.parquet")

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        foreach_batch_upsert(stream, tgt_dir, key_col="user_id", value_col="value")

    drain()
    versions_before = sorted(glob.glob(tgt_dir + "/v=*"))
    snap_before = {
        (r.user_id, r.n_events, r.total)
        for r in _latest_upsert_version(spark, tgt_dir).collect()
    }
    assert snap_before == {(1, 1, 10.0), (2, 1, 5.0)}

    # restart, nothing new: no reprocessing, no new versions
    drain()
    assert sorted(glob.glob(tgt_dir + "/v=*")) == versions_before
    assert {
        (r.user_id, r.n_events, r.total)
        for r in _latest_upsert_version(spark, tgt_dir).collect()
    } == snap_before

    # new file lands exactly once: user 1 accumulates, user 3 appears
    write_file([(3, 1, 2.5), (4, 3, 1.0)], "f2.parquet")
    drain()
    assert {
        (r.user_id, r.n_events, r.total)
        for r in _latest_upsert_version(spark, tgt_dir).collect()
    } == {(1, 2, 12.5), (2, 1, 5.0), (3, 1, 1.0)}
    # the merged (not first-batch) snapshot keeps the index schema
    assert _latest_upsert_version(spark, tgt_dir).dtypes == [
        ("user_id", "bigint"), ("n_events", "bigint"), ("total", "double"),
    ]


def test_dedup_index_upsert_restart_no_reprocess(spark, tmp_path):
    """The streaming dedup index: re-draining from the same checkpoint with
    no new shards creates no new versions and leaves the index unchanged; a
    new shard after restart merges exactly once (min-merge on first_doc_id,
    sum-merge on n_seen)."""
    import glob
    import os

    from sql_query_engine_rs_spark.streaming import (
        _latest_upsert_version,
        dedup_index_upsert,
    )

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq_arrow

    src_dir = str(tmp_path / "src")
    tgt_dir = str(tmp_path / "tgt")
    os.makedirs(src_dir)
    schema = "doc_id long, text string"
    arrow_schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

    def write_file(rows, name):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        pq_arrow.write_table(
            pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False),
            os.path.join(src_dir, name),
        )

    write_file([(10, "alpha beta"), (11, "gamma delta"), (12, "alpha beta")], "f1.parquet")

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        dedup_index_upsert(stream, tgt_dir)

    drain()
    versions_before = sorted(glob.glob(tgt_dir + "/v=*"))
    snap = {
        r.fingerprint: (r.first_doc_id, r.n_seen)
        for r in _latest_upsert_version(spark, tgt_dir).collect()
    }
    assert len(snap) == 2
    by_first = {v[0]: v[1] for v in snap.values()}
    assert by_first == {10: 2, 11: 1}  # "alpha beta" kept at 10, seen twice

    # restart, nothing new: no reprocessing, no new versions
    drain()
    assert sorted(glob.glob(tgt_dir + "/v=*")) == versions_before
    assert {
        r.fingerprint: (r.first_doc_id, r.n_seen)
        for r in _latest_upsert_version(spark, tgt_dir).collect()
    } == snap

    # new shard lands exactly once: a SMALLER id for a known fingerprint
    # must take over as the canonical head (min-merge), counts accumulate
    write_file([(3, "alpha beta"), (20, "epsilon zeta")], "f2.parquet")
    drain()
    after = {
        r.first_doc_id: r.n_seen
        for r in _latest_upsert_version(spark, tgt_dir).collect()
    }
    assert after == {3: 3, 11: 1, 20: 1}
    assert _latest_upsert_version(spark, tgt_dir).dtypes == [
        ("fingerprint", "string"), ("first_doc_id", "bigint"), ("n_seen", "bigint"),
    ]


def test_transition_state_carries_across_batches(spark, tmp_path):
    """The last-event-type state must survive micro-batch boundaries: a
    user's first event of batch N pairs with their last event of batch
    N-1. Three single-file batches; the (B,C) and (A,A) transitions only
    exist if state carries."""
    import glob as g
    import os
    import shutil

    from sql_query_engine_rs_spark.streaming import transition_counts_stateful

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)

    def add_file(rows, name):
        tmp = str(tmp_path / ("stage_" + name))
        (
            spark.createDataFrame(rows, "event_id long, user_id long, ts string, event_type string")
            .select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        shutil.copy(g.glob(tmp + "/part-*.parquet")[0], os.path.join(src_dir, name))

    add_file([(1, 1, "2026-01-01 10:00:00", "A"), (2, 1, "2026-01-01 10:01:00", "B")], "f1.parquet")
    add_file([(3, 1, "2026-01-01 10:02:00", "C"), (4, 2, "2026-01-01 10:00:00", "A")], "f2.parquet")
    add_file([(5, 2, "2026-01-01 10:05:00", "A")], "f3.parquet")

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = transition_counts_stateful(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("tr_carry")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.from_type, r.to_type): r.n
        for r in spark.table("tr_carry").groupBy("from_type", "to_type").agg(
            F.sum("n").alias("n")
        ).collect()
    }
    spark.catalog.dropTempView("tr_carry")
    assert got == {("A", "B"): 1, ("B", "C"): 1, ("A", "A"): 1}


def test_attribution_state_carries_across_batches(spark, tmp_path):
    """The last-touch (type, epoch) state must survive micro-batch
    boundaries: a purchase in batch N is credited to a click/view from
    batch N-1 iff it lands within the 1-hour lookback. Three single-file
    batches: u1's batch-2 purchase credits the batch-1 click; u1's
    batch-3 purchase is 2h after that click -> 'direct'; u2's purchase
    has no prior touch at all -> 'direct'."""
    import glob as g
    import os
    import shutil

    from sql_query_engine_rs_spark.streaming import last_touch_attribution_stateful

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)

    def add_file(rows, name):
        tmp = str(tmp_path / ("stage_" + name))
        (
            spark.createDataFrame(
                rows, "event_id long, user_id long, ts string, event_type string, value double"
            )
            .select(
                "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
                "event_type", "value",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        shutil.copy(g.glob(tmp + "/part-*.parquet")[0], os.path.join(src_dir, name))

    add_file([(1, 1, "2026-01-01 10:00:00", "click", 0.0)], "f1.parquet")
    add_file(
        [
            (2, 1, "2026-01-01 10:30:00", "purchase", 10.0),
            (3, 2, "2026-01-01 10:00:00", "purchase", 5.0),
        ],
        "f2.parquet",
    )
    add_file([(4, 1, "2026-01-01 12:30:00", "purchase", 7.0)], "f3.parquet")

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = last_touch_attribution_stateful(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("attr_carry")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.channel): (r.n, r.v)
        for r in spark.table("attr_carry").groupBy("channel").agg(
            F.sum("n").alias("n"), F.sum("value_sum").alias("v")
        ).collect()
    }
    spark.catalog.dropTempView("attr_carry")
    assert got == {"click": (1, 10.0), "direct": (2, 12.0)}


def test_ewma_stateful_batch_streaming_contract(spark, sf_dir):
    """ewma_stateful's batch fallback (applyInPandas fold) and the
    registered streaming drain (applyInPandasWithState) must produce the
    same readings — the unified batch/streaming contract for the EWMA
    control chart."""
    from sql_query_engine_rs_spark.queries import QUERIES, events_table
    from sql_query_engine_rs_spark.streaming import ewma_stateful

    e = events_table(spark, sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    batch = {
        r.event_type: (r.n_hours, round(r.ewma, 4), r.n_anomalies, round(r.max_dev, 4))
        for r in ewma_stateful(hourly).collect()
    }
    stream = {
        r.event_type: (r.n_hours, r.ewma, r.n_anomalies, r.max_dev)
        for r in QUERIES["stream_ewma_monitor"].build(spark, sf_dir).collect()
    }
    assert batch == stream


@pytest.mark.slow  # heavyweight sweep; round-end full validation runs it (SPARK_GRAFT_FULL_TESTS=1)
def test_custom_state_expiry_survives_restart(spark, tmp_path):
    """Recovery-from-checkpoint for the stateful expiry operator (r10
    verdict item 7): a second drain restarted from the SAME checkpoint
    must (a) keep already-expired keys expired — a reappearing key
    restarts from zero, never resurrects pre-expiry state — and (b)
    honor timers ARMED BEFORE the restart: a key whose state + event-time
    timer were checkpointed in drain 1 expires in drain 2 once the
    watermark passes its timeout, without ever being seen again first.

    Drain 1 (two single-file batches):
      f1: keys 1,2 at 10:00        -> state + timers (gap 30m: 10:30)
      f2: key 2 at 12:00           -> wm 11:55 > 10:30: key 1 expired;
                                      key 2 re-armed (timeout 12:30)
    Drain 2, same checkpoint, new files only:
      f3: key 1 at 12:30           -> expired key restarts from zero
                                      ((1,1,7.0), NOT (1,2,17.0))
      f4: key 4 at 15:00           -> advances wm to 14:55
      f5: key 4 at 15:10           -> batch with no key-2 data, wm 14:55
                                      > 12:30: key 2's PRE-RESTART timer
                                      fires, state removed
      f6: key 2 at 15:30           -> fresh state: (2,1,1.0), NOT
                                      (2,3,8.0)"""
    import glob as g
    import os
    import shutil

    from sql_query_engine_rs_spark.streaming import running_totals_stateful

    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    def add_file(rows, name):
        tmp = str(tmp_path / ("stage_" + name))
        (
            spark.createDataFrame(rows, "user_id long, ts string, value double")
            .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        shutil.copy(g.glob(tmp + "/part-*.parquet")[0], os.path.join(src_dir, name))

    out_dir = str(tmp_path / "out")

    def drain(_sink_name):
        # memory sink cannot recover from a checkpoint; foreachBatch ->
        # parquet append is the restartable shape (same as the
        # exactly-once parquet-sink test). Returns ALL rows emitted so far.
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        out = running_totals_stateful(
            stream, key_col="user_id", value_col="value", idle_gap_minutes=30,
            watermark="5 minutes",
        )
        q = (
            out.writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return sorted(
            (r.user_id, r.n_events, r.total) for r in spark.read.parquet(out_dir).collect()
        )

    add_file([(1, "2026-01-01 10:00:00", 10.0), (2, "2026-01-01 10:00:00", 3.0)], "f1.parquet")
    add_file([(2, "2026-01-01 12:00:00", 4.0)], "f2.parquet")
    rows1 = drain("expiry_restart_1")
    assert (1, 1, 10.0) in rows1 and (2, 2, 7.0) in rows1

    add_file([(1, "2026-01-01 12:30:00", 7.0)], "f3.parquet")
    add_file([(4, "2026-01-01 15:00:00", 2.0)], "f4.parquet")
    add_file([(4, "2026-01-01 15:10:00", 2.5)], "f5.parquet")
    add_file([(2, "2026-01-01 15:30:00", 1.0)], "f6.parquet")
    rows2 = drain("expiry_restart_2")  # cumulative: drain-1 rows + new

    # (a) key 1 expired in drain 1 stays expired across the restart
    assert (1, 1, 7.0) in rows2, f"expired key resurrected: {rows2}"
    assert (1, 2, 17.0) not in rows2
    # (b) key 2's pre-restart timer fired after recovery: fresh state
    assert (2, 1, 1.0) in rows2, f"pre-restart timer lost: {rows2}"
    assert (2, 3, 8.0) not in rows2
    assert (4, 1, 2.0) in rows2 and (4, 2, 4.5) in rows2
    # exactly-once over the checkpoint: nothing from drain 1 was
    # reprocessed (every emission appended exactly once)
    assert len(rows2) == len(set(rows2)), f"replayed emissions: {rows2}"
    assert len(rows2) == len(rows1) + 4


@pytest.mark.slow  # heavyweight sweep; round-end full validation runs it (SPARK_GRAFT_FULL_TESTS=1)
def test_session_windows_state_survives_restart(spark, tmp_path):
    """Built-in session-window state across a checkpoint restart: a session
    left OPEN at the end of drain 1 must merge post-restart events (same
    user within the gap) instead of starting fresh, and drain-1 emissions
    must not replay.

    Drain 1 (gap 30m, watermark 1h, one file per batch):
      f1: user 1 at 10:00(5.0) + 10:10(1.0); user 2 at 10:05(2.0)
      f2: user 1 at 13:00 (5.0)     -> wm 9:10 after f1's batch
      f3: user 2 at 13:05 (3.0)     -> batch starts at wm 12:00: closes and
                                       EMITS user 1's 10:00-10:40 (n=2) and
                                       user 2's 10:05-10:35 (n=1); user 1's
                                       13:00 session stays OPEN in state
    Drain 2, same checkpoint:
      f4: user 1 at 13:10 (2.0)     -> must MERGE into the open session
      f5: user 3 at 17:00 (9.0)
      f6: user 3 at 17:10 (1.0)     -> batch starts at wm 16:00: closes the
                                       merged 13:00-13:40 session (n=2,
                                       sum 7.0) and user 2's 13:05 one"""
    import glob as g
    import os
    import shutil

    from sql_query_engine_rs_spark.streaming import session_windows

    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    os.makedirs(src_dir)

    def add_file(rows, name):
        tmp = str(tmp_path / ("stage_" + name))
        (
            spark.createDataFrame(rows, "user_id long, ts string, value double")
            .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        shutil.copy(g.glob(tmp + "/part-*.parquet")[0], os.path.join(src_dir, name))

    def drain():
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        out = session_windows(stream, gap="30 minutes", watermark="1 hour")
        q = (
            out.writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return sorted(
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.sum_value)
            for r in spark.read.parquet(out_dir).collect()
        )

    add_file(
        [(1, "2026-01-01 10:00:00", 5.0), (1, "2026-01-01 10:10:00", 1.0),
         (2, "2026-01-01 10:05:00", 2.0)],
        "f1.parquet",
    )
    add_file([(1, "2026-01-01 13:00:00", 5.0)], "f2.parquet")
    add_file([(2, "2026-01-01 13:05:00", 3.0)], "f3.parquet")
    rows1 = drain()
    assert (1, "2026-01-01 10:00:00", "2026-01-01 10:40:00", 2, 6.0) in rows1
    assert (2, "2026-01-01 10:05:00", "2026-01-01 10:35:00", 1, 2.0) in rows1
    # user 1's 13:00 session is still open - not emitted yet
    assert not any(r[0] == 1 and r[1].startswith("2026-01-01 13:") for r in rows1)

    add_file([(1, "2026-01-01 13:10:00", 2.0)], "f4.parquet")
    add_file([(3, "2026-01-01 17:00:00", 9.0)], "f5.parquet")
    add_file([(3, "2026-01-01 17:10:00", 1.0)], "f6.parquet")
    rows2 = drain()
    # the pre-restart open session MERGED the post-restart event
    assert (1, "2026-01-01 13:00:00", "2026-01-01 13:40:00", 2, 7.0) in rows2, rows2
    # no fresh-start singleton for the 13:10 event
    assert not any(r[0] == 1 and r[1].startswith("2026-01-01 13:10") for r in rows2)
    assert (2, "2026-01-01 13:05:00", "2026-01-01 13:35:00", 1, 3.0) in rows2
    # exactly-once: every emission appended once, drain-1 rows not replayed
    assert len(rows2) == len(set(rows2))
    assert len(rows2) == len(rows1) + 2


def test_url_index_upsert_restart_no_reprocess(spark, tmp_path):
    """The streaming URL index: re-draining from the same checkpoint with
    no new shards creates no new versions; a new shard after restart
    merges exactly once (min-merge keeper, sum-merge count), and URL
    variants that canonicalize together land on one index key."""
    import glob
    import os

    from sql_query_engine_rs_spark.streaming import (
        _latest_upsert_version,
        url_index_upsert,
    )

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq_arrow

    src_dir = str(tmp_path / "src")
    tgt_dir = str(tmp_path / "tgt")
    os.makedirs(src_dir)
    schema = "doc_id long, url string"
    arrow_schema = pa.schema([("doc_id", pa.int64()), ("url", pa.string())])

    def write_file(rows, name):
        pdf = pd.DataFrame(rows, columns=["doc_id", "url"])
        pq_arrow.write_table(
            pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False),
            os.path.join(src_dir, name),
        )

    write_file(
        [(10, "https://A.example.com/p/1"),
         (11, "http://www.a.example.com/p/1/?utm_source=x"),
         (12, "https://b.example.com/q")],
        "f1.parquet",
    )

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        url_index_upsert(stream, tgt_dir)

    drain()
    versions_before = sorted(glob.glob(tgt_dir + "/v=*"))
    snap = {
        r.canonical_url: (r.keeper_doc_id, r.n_docs)
        for r in _latest_upsert_version(spark, tgt_dir).collect()
    }
    # 10 and 11 canonicalize together (scheme/www/case/utm/trailing slash)
    assert snap == {
        "a.example.com/p/1": (10, 2),
        "b.example.com/q": (12, 1),
    }

    # restart, nothing new: no reprocessing, no new versions
    drain()
    assert sorted(glob.glob(tgt_dir + "/v=*")) == versions_before
    assert {
        r.canonical_url: (r.keeper_doc_id, r.n_docs)
        for r in _latest_upsert_version(spark, tgt_dir).collect()
    } == snap

    # new shard lands exactly once: smaller id takes over the keeper slot
    write_file([(3, "http://a.example.com/p/1"), (20, "https://c.example.com/r")], "f2.parquet")
    drain()
    assert {
        r.canonical_url: (r.keeper_doc_id, r.n_docs)
        for r in _latest_upsert_version(spark, tgt_dir).collect()
    } == {
        "a.example.com/p/1": (3, 3),
        "b.example.com/q": (12, 1),
        "c.example.com/r": (20, 1),
    }
    assert _latest_upsert_version(spark, tgt_dir).dtypes == [
        ("canonical_url", "string"), ("keeper_doc_id", "bigint"), ("n_docs", "bigint"),
    ]
