"""Session hygiene for the streaming family: building a ``stream_`` entry
must leave the session as it found it — the scoped confs back at their
prior values, no memory-sink view left registered, no stream still
running, no temp directories left behind — and return rows that stay
readable once its temp files are gone. Entries that write files and return
a lazy read of them leave no temp directory once ``release_caches()`` has
run."""

from __future__ import annotations

import tempfile

import pytest

from sql_query_engine_rs_spark.queries import QUERIES

# the confs every stream_ builder scopes, each primed to a value the scope
# does not use so a leak shows as a changed value
PRIMED_CONFS = {
    "spark.sql.session.timeZone": "America/Los_Angeles",
    "spark.sql.shuffle.partitions": "5",
    "spark.sql.legacy.parquet.nanosAsLong": "false",
}

# one entry per drain shape runs by default: memory sink, foreachBatch
# table, versioned index; the rest are slow-marked
DEFAULT_RUN = {"stream_windowed_counts", "stream_topk_per_window", "stream_dedup_index_upsert"}

STREAM_ENTRIES = [
    pytest.param(n, marks=() if n in DEFAULT_RUN else pytest.mark.slow)
    for n in QUERIES
    if n.startswith("stream_")
]


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("name", STREAM_ENTRIES)
def test_stream_build_leaves_no_trace(spark, sf_dir, tmp_path, monkeypatch, name):
    saved = {k: spark.conf.get(k, None) for k in PRIMED_CONFS}
    try:
        for k, v in PRIMED_CONFS.items():
            spark.conf.set(k, v)
        views = _temp_views(spark)
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

        df = QUERIES[name].build(spark, sf_dir)

        assert {k: spark.conf.get(k) for k in PRIMED_CONFS} == PRIMED_CONFS
        assert _temp_views(spark) == views
        assert spark.streams.active == []
        assert sorted(p.name for p in tmp_path.iterdir()) == []
        assert df.count() > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# entries that write a per-build directory: one checkpoints its result and
# removes it at once, three return a lazy read and register it for release
WRITING_ENTRIES = [
    "pipe_partitioned_write_prune",
    "pipe_schema_evolution",
    "pipe_ann_ivf_bucketed",
    "pipe_bucketed_join_audit",
]


@pytest.mark.parametrize("name", WRITING_ENTRIES)
def test_written_dirs_removed_on_release(spark, sf_dir, tmp_path, monkeypatch, name):
    from sql_query_engine_rs_spark.functions.caching import release_caches

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = QUERIES[name].build(spark, sf_dir)
    assert df.count() > 0
    release_caches()
    assert sorted(p.name for p in tmp_path.iterdir()) == []
