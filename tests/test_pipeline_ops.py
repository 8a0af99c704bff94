"""Unit tests for the pipeline operators beyond their SQL oracles:
SimHash/MinHash banding edge cases, sign-LSH ANN (recall vs brute force),
multimodal mapInPandas plumbing, and the as-of join operator against a
hand-computed answer."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sql_query_engine_rs_spark.functions import dedup as D
from sql_query_engine_rs_spark.functions import similarity as S
from sql_query_engine_rs_spark.functions.multimodal import frame_sample, image_features
from sql_query_engine_rs_spark.operators.join import asof_join


# ---------------------------------------------------------------- simhash

def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha  beta gamma delta"), (3, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in D.simhash_md5_candidates(df, max_hamming=None).collect()}
    assert pairs.get((1, 2)) == 0  # whitespace-normalized duplicates


# ---------------------------------------------------------------- LSH ANN

def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    bf = {
        (r.query_id, r.vec_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in S.lsh_topk(emb, queries, k=5, num_planes=1).collect()
    }
    # 1 plane halves the candidate set; measured recall on this corpus is
    # ~0.64. Require > 40% overlap to catch construction regressions without
    # flaking on data. More planes trade recall for cost (documented).
    assert len(approx & bf) / len(bf) > 0.4
    # every approx neighbor must share the query's bucket -> correctness of
    # the bucket restriction is implied by the smaller candidate count
    assert len(approx) <= len(bf)


def test_bucket_ids_in_range(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    buckets = S.random_hyperplane_buckets(emb, num_planes=4).select("bucket").distinct().collect()
    assert all(0 <= r.bucket < 16 for r in buckets)


# ---------------------------------------------------------------- multimodal

def test_image_features_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"fake-jpeg-bytes-0001")), (2, bytearray(b"fake-jpeg-bytes-0002"))],
        "item_id long, payload binary",
    )
    rows = {r.item_id: r for r in image_features(df).collect()}
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert r.n_bytes == 20
        assert len(r.feature) == 8
        assert 64 <= r.width < 64 + 1024
    # determinism: same bytes -> same features
    again = {r.item_id: r for r in image_features(df).collect()}
    assert again[1].feature == rows[1].feature


def test_frame_sample_fanout(spark):
    df = spark.createDataFrame([(7, bytearray(bytes(range(256)) * 20))], "item_id long, payload binary")
    frames = frame_sample(df, every_ms=1000).collect()
    assert len(frames) > 1  # 1 video -> N frames
    assert [f.frame_idx for f in frames] == list(range(len(frames)))
    assert all(f.item_id == 7 for f in frames)


def test_codec_registry_injection(spark):
    """Production-codec seam: a 'real' kernel registered through the public
    registry must flow into NEW plans (closure capture at build time)
    without touching the plumbing, and reset_codec must restore the stub."""
    from sql_query_engine_rs_spark.functions import multimodal as M

    df = spark.createDataFrame(
        [(1, bytearray(b"0123456789abcdef" * 20))], "item_id long, payload binary"
    )

    def fake_real_decode(payload: bytes):
        return 1920, 1080, [0.5] * 4  # pretend-PIL: fixed dims, tiny feature

    def fake_real_demux(payload: bytes, every_ms: int):
        return [(0, 0, b"KEYFRAME")]  # pretend-ffmpeg: single keyframe

    try:
        M.register_codec("image_decode", fake_real_decode)
        M.register_codec("video_frames", fake_real_demux)
        img = M.image_features(df).collect()[0]
        assert (img.width, img.height) == (1920, 1080)
        assert img.feature == [0.5] * 4
        frames = M.frame_sample(df).collect()
        assert len(frames) == 1 and bytes(frames[0].frame_payload) == b"KEYFRAME"
    finally:
        M.reset_codec()
    # stub restored: deterministic fake dims, multi-frame fan-out
    img = M.image_features(df).collect()[0]
    assert (img.width, img.height) != (1920, 1080)
    assert len(M.frame_sample(df, every_ms=100).collect()) > 1
    # unknown kinds are rejected at the seam
    import pytest as _pytest

    with _pytest.raises(KeyError):
        M.register_codec("nope", fake_real_decode)


# ---------------------------------------------------------------- as-of join

def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 99, 50)], "event_id long, k long, ts long"
    )
    right = spark.createDataFrame(
        [(10, 90), (10, 100), (10, 200), (10, 300), (99, 60)], "k long, rts long"
    )
    out = {r.event_id: r._asof_ts for r in asof_join(left, right, "k", "ts", "rts").collect()}
    assert out == {1: 100, 2: 200}  # event 3 has no match (60 > 50) and drops


def test_asof_join_forward(spark):
    left = spark.createDataFrame([(1, 10, 100)], "event_id long, k long, ts long")
    right = spark.createDataFrame([(10, 90), (10, 150), (10, 120)], "k long, rts long")
    out = asof_join(left, right, "k", "ts", "rts", direction="forward").collect()
    assert out[0]._asof_ts == 120


def test_asof_join_preserves_duplicate_left_rows(spark):
    """Two identical left rows must each produce an output row (the old
    groupBy-all-columns shape collapsed them)."""
    left = spark.createDataFrame(
        [(1, 10, 100), (1, 10, 100)], "event_id long, k long, ts long"
    )
    right = spark.createDataFrame([(10, 90)], "k long, rts long")
    out = asof_join(left, right, "k", "ts", "rts").collect()
    assert len(out) == 2 and all(r._asof_ts == 90 for r in out)


def test_asof_join_bucketed_equals_plain_with_hot_key(spark):
    """Planted hot key: one key holds 5000 dense right rows + 500 left rows
    (plus a sparse second key and a no-match key). The bucketed variant must
    return EXACTLY the plain asof_join's rows while its data-bearing window
    partitions on (key, bucket) — the property that bounds any one task by a
    bucket's density, not the key's full history."""
    from sql_query_engine_rs_spark.operators.join import asof_join, asof_join_bucketed

    # hot key 1: right every 10s over ~14h, left every 100s (offset 7)
    left_rows = [(i, 1, 7 + 100 * i) for i in range(500)]
    right_rows = [(1, 10 * j) for j in range(5000)]
    # sparse key 2 + left-only key 3 (drops: no right row at-or-before)
    left_rows += [(9001, 2, 1000), (9002, 3, 1000)]
    right_rows += [(2, 900), (2, 2000)]
    left = spark.createDataFrame(left_rows, "event_id long, k long, ts long").repartition(8)
    right = spark.createDataFrame(right_rows, "k long, rts long").repartition(8)

    for direction in ("backward", "forward"):
        plain = {
            (r.event_id, r._asof_ts)
            for r in asof_join(left, right, "k", "ts", "rts", direction=direction).collect()
        }
        bucketed_df = asof_join_bucketed(
            left, right, "k", "ts", "rts", direction=direction, bucket_seconds=3600
        )
        bucketed = {(r.event_id, r._asof_ts) for r in bucketed_df.collect()}
        assert bucketed == plain, f"{direction}: {len(bucketed)} vs {len(plain)}"
    assert (9002, 1000) not in {(e, t) for e, t in plain}

    # plan shape: the big union-window shuffles on (k, _b), never k alone
    from sql_query_engine_rs_spark.plans import explain_str

    simple = explain_str(
        asof_join_bucketed(left, right, "k", "ts", "rts", bucket_seconds=3600), "simple"
    )
    assert "hashpartitioning(k" in simple and "_b" in simple


def test_asof_join_bucketed_subsecond_and_cross_bucket(spark):
    """Timestamps differing only in sub-second must resolve exactly (the
    epoch image is double, not truncated seconds), and a left bucket with
    no right rows must reach back to earlier buckets."""
    from pyspark.sql import functions as F
    from sql_query_engine_rs_spark.operators.join import asof_join_bucketed

    left = spark.createDataFrame(
        [(1, 1, "2026-01-01 10:00:00.700"), (2, 1, "2026-01-05 23:00:00")],
        "event_id long, k long, ts_s string",
    ).select("event_id", "k", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00.500"), (1, "2026-01-01 10:00:00.900")],
        "k long, rts_s string",
    ).select("k", F.col("rts_s").cast("timestamp").alias("rts"))
    out = {
        r.event_id: str(r._asof_ts)
        for r in asof_join_bucketed(left, right, "k", "ts", "rts", bucket_seconds=3600).collect()
    }
    # event 1: .500 matches (not .900); event 2 is 4 days of empty buckets later
    assert out == {
        1: "2026-01-01 10:00:00.500000",
        2: "2026-01-01 10:00:00.900000",
    }


# ---------------------------------------------------------------- band-size cap (skew)

def test_minhash_band_cap_drops_flood_keeps_real_pairs(spark):
    """A planted flood (1000 copies of one doc) would emit ~500k candidate
    pairs in one band bucket; max_band_size drops the flood bucket while
    genuine near-dup pairs outside it survive."""
    flood = [(i, "common boilerplate banner text repeated everywhere online today") for i in range(1000)]
    real = [
        (5001, "the unique quick brown fox jumps over the lazy sleeping dog"),
        (5002, "the unique quick brown fox jumps over the lazy sleeping cat"),
        (5003, "completely different content about distributed query engines"),
    ]
    df = spark.createDataFrame(flood + real, "doc_id long, text string")
    capped = D.minhash_lsh_candidates(
        df, num_hashes=8, bands=2, ngram=3, verify_threshold=0.5, max_band_size=50
    )
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (5001, 5002) in pairs          # genuine near-dup survives
    assert not any(a < 1000 and b < 1000 for a, b in pairs)  # flood dropped


@pytest.mark.parametrize(
    "build, min_scans",
    [
        # band self-join (2 sides) + cap count + cap join-back + verify joins (2)
        (lambda d: D.minhash_lsh_candidates(d, verify_threshold=0.5, max_band_size=256), 5),
        # the same candidates + one signature/shingle join-back per side
        (lambda d: D.minhash_estimate_audit(d, max_band_size=256), 5),
        # band self-join (2 sides) + cap count + cap join-back
        (lambda d: D.simhash_md5_candidates(d, max_hamming=None, max_band_size=256), 4),
    ],
    ids=["minhash_lsh_candidates", "minhash_estimate_audit", "simhash_md5_candidates"],
)
def test_minhash_single_cache_barrier(spark, build, min_scans):
    """Each banded pair generator materializes exactly ONE tracked cache —
    its signature frame — and every consumer (band keys, cap counts, both
    self-join sides, the join-backs) reads it as an InMemoryTableScan. A
    second cache would cost a second eager count job per query; zero would
    recompute the hash pass per consumer."""
    from sql_query_engine_rs_spark.functions import caching as C
    from sql_query_engine_rs_spark.plans import explain_str

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta token{i % 7} eta theta") for i in range(40)],
        "doc_id long, text string",
    )
    before = len(C._LIVE_CACHES)
    pairs = build(docs)
    assert len(C._LIVE_CACHES) - before == 1, "expected exactly one tracked cache"
    assert explain_str(pairs, "simple").count("InMemoryTableScan") >= min_scans
    assert pairs.count() > 0
    C.release_caches()


def test_minhash_band_keys_match_candidate_banding(spark):
    """minhash_band_keys is the index form of minhash_lsh_candidates'
    banding: on a planted corpus, the doc pairs that share a band key are
    exactly the unverified, uncapped candidate pairs."""
    base = "the quick brown fox jumps over the lazy dog near the quiet river bank"
    texts = [
        base,
        "The quick  brown fox" + base[19:],  # normalizes to 0
        base + " today",                      # near-dup of 0
        "an entirely different sentence about distributed query planning engines",
        "an entirely different sentence about distributed query planning systems",
        "short",                              # no 3-gram shingles: no keys, no pairs
    ] + [f"filler document number {i} with its own words w{i} x{i} y{i}" for i in range(20)]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    keys = D.minhash_band_keys(df)
    a, b = keys.alias("a"), keys.alias("b")
    shared = {
        (r.id_a, r.id_b)
        for r in a.join(b, "_band_key")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
        .collect()
    }
    candidates = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_candidates(df, verify_threshold=None).collect()
    }
    assert shared == candidates
    assert {(0, 1), (0, 2), (1, 2)} <= candidates
    assert not any(5 in p for p in candidates)


def test_simhash_band_cap(spark):
    flood = [(i, "common boilerplate banner text repeated everywhere online today") for i in range(300)]
    real = [
        (9001, "the unique quick brown fox jumps over the lazy sleeping dog"),
        (9002, "the unique quick brown fox jumps over the lazy sleeping dog"),
    ]
    df = spark.createDataFrame(flood + real, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in D.simhash_md5_candidates(df, max_band_size=50).collect()
    }
    assert (9001, 9002) in pairs
    assert not any(a < 300 and b < 300 for a, b in pairs)


# ---------------------------------------------------------------- dedup edges

def test_token_ngrams_short_doc(spark):
    df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    rows = df.select(D.token_ngrams(F.col("text"), 3).alias("g")).collect()
    assert rows[0].g == []  # shorter than n -> empty, not an error


def test_exact_dedup_groups_counts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, text string"
    )
    rows = {r.doc_id: r.n_copies for r in D.exact_dedup_groups(df, "doc_id", ["text"]).collect()}
    assert rows == {1: 2, 3: 1}  # min-id canonical representative


def test_embedding_lsh_dedup_recall(spark, sf_dir):
    """Bucket-local near-dup must be a subset of the exact pairs with
    substantial recall at 2 planes."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.id_a, r.id_b) for r in D.embedding_cosine_dups(emb, threshold=0.4).collect()}
    lsh = {(r.id_a, r.id_b) for r in D.embedding_cosine_dups_lsh(emb, threshold=0.4, num_planes=2).collect()}
    assert lsh <= exact  # verification step keeps only true near-dups
    if exact:
        assert len(lsh & exact) / len(exact) > 0.3


def test_embedding_multi_table_lsh_recall(spark, sf_dir):
    """OR-amplification contract: the registered 4-table × 3-plane setting
    must (a) emit only true near-dup pairs (verification subset), (b) recall
    at least as many exact pairs as the old single-table 1-plane
    registration, and (c) recall every pair a single 3-plane table finds
    (union can only add candidates)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.id_a, r.id_b) for r in D.embedding_cosine_dups(emb, threshold=0.4).collect()}
    multi = {
        (r.id_a, r.id_b)
        for r in D.embedding_cosine_dups_lsh(
            emb, threshold=0.4, num_planes=3, num_tables=4
        ).collect()
    }
    one_plane = {
        (r.id_a, r.id_b)
        for r in D.embedding_cosine_dups_lsh(
            emb, threshold=0.4, num_planes=1, num_tables=1
        ).collect()
    }
    single_table = {
        (r.id_a, r.id_b)
        for r in D.embedding_cosine_dups_lsh(
            emb, threshold=0.4, num_planes=3, num_tables=1
        ).collect()
    }
    assert multi <= exact
    assert single_table <= multi
    assert len(multi) >= len(one_plane)
    if exact:
        assert len(multi) / len(exact) > 0.5


def test_decontaminate_planted_overlap(spark):
    """A corpus doc embedding a verbatim benchmark sentence must be flagged
    with the exact shared-shingle count; clean docs must not appear."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro text the quick brown fox jumps over the lazy dog outro"),
            (2, "completely unrelated words about spark partitions and shuffles"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_hits for r in D.decontaminate_hits(corpus, bench, ngram=5).collect()}
    # benchmark has 5 distinct 5-grams, all present verbatim in doc 1
    assert hits == {1: 5}


def test_ngram_repetition_known_values(spark):
    from sql_query_engine_rs_spark.functions.text import ngram_repetition

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # 2-grams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "all words here differ"),
            (3, "x"),             # shorter than n -> 0.0
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r.rep
        for r in df.select("doc_id", F.round(ngram_repetition(F.col("text"), 2), 6).alias("rep")).collect()
    }
    assert rows[1] == round(1 - 2 / 5, 6)
    assert rows[2] == 0.0
    assert rows[3] == 0.0


# ---------------------------------------------------------------- skew + bucketing

def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salting must not change results — only the key distribution."""
    from sql_query_engine_rs_spark.operators.join import salted_join

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey", "c_mktsegment")
    plain = {(r.o_orderkey, r.c_mktsegment) for r in o.join(c, "c_custkey").collect()}
    salted = {(r.o_orderkey, r.c_mktsegment) for r in salted_join(o, c, "c_custkey").collect()}
    assert salted == plain and len(plain) > 0


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketed tables co-locate join keys at write time: the sort-merge
    join reads both sides without an Exchange — the ahead-of-time answer to
    repeated 100 TB joins on the same key."""
    import uuid

    suffix = uuid.uuid4().hex[:6]
    a = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    b = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 11).alias("w"))
    # external-table paths: warehouse.dir is a static conf, unsettable here
    a.write.bucketBy(8, "id").sortBy("id").option("path", str(tmp_path / "ta")).mode(
        "overwrite"
    ).saveAsTable(f"ta_{suffix}")
    b.write.bucketBy(8, "id").sortBy("id").option("path", str(tmp_path / "tb")).mode(
        "overwrite"
    ).saveAsTable(f"tb_{suffix}")
    # hint forces sort-merge (tiny test tables would otherwise broadcast
    # and never exercise the bucket layout)
    joined = spark.table(f"ta_{suffix}").hint("merge").join(spark.table(f"tb_{suffix}"), "id")
    plan = joined._sc._jvm.PythonSQLUtils.explainString(joined._jdf.queryExecution(), "simple")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, f"bucketed join still shuffles: {plan}"
    assert joined.count() == 1000


def test_ivf_bucketed_corpus_probe_join_no_corpus_exchange(spark, sf_dir, tmp_path):
    """The IVF bucketed-storage contract: with the corpus written bucketed
    by centroid_id, the batch probe join plans an Exchange ONLY on the
    query side — the corpus's distribution comes from the file layout. And
    the results equal the self-contained ivf_topk on the same codebook."""
    import uuid

    from sql_query_engine_rs_spark.functions.similarity import (
        ivf_topk,
        ivf_topk_bucketed,
        ivf_write_bucketed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    table = f"ivf_corpus_{uuid.uuid4().hex[:6]}"
    try:
        cents = ivf_write_bucketed(
            emb, table, str(tmp_path / "ivf"), num_centroids=8, num_buckets=8
        )
        out = ivf_topk_bucketed(spark, table, cents, queries, k=5, nprobe=4)
        plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "simple")
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan, "corpus scan not bucketed"
        # the corpus branch of the SortMergeJoin (between the join node and
        # the bucketed FileScan) must hold NO Exchange: its distribution
        # comes from the bucket layout. Exchanges remain only on the probe
        # pipeline (query assignment window + join probe side + final rank).
        corpus_branch = plan.split("SortMergeJoin", 1)[1].split("FileScan", 1)[0]
        assert "Exchange" not in corpus_branch, corpus_branch
        got = {(r.query_id, r.vec_id, r.cos_sim, r.rank) for r in out.collect()}
        want = {
            (r.query_id, r.vec_id, r.cos_sim, r.rank)
            for r in ivf_topk(emb, queries, k=5, num_centroids=8, nprobe=4).collect()
        }
        assert got == want and len(got) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# ---------------------------------------------------------------- approx aggs

def test_approx_count_distinct_tolerance(spark, sf_dir):
    """HLL sketch must land within its documented rsd of the exact count."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = li.select(F.countDistinct("l_orderkey").alias("n")).collect()[0].n
    approx = li.select(F.approx_count_distinct("l_orderkey", rsd=0.05).alias("n")).collect()[0].n
    assert abs(approx - exact) / exact < 0.15  # 3x rsd safety margin


def test_percentile_approx_tolerance(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exact = o.select(F.percentile("o_totalprice", F.lit(0.5)).alias("p")).collect()[0].p
    approx = o.select(F.percentile_approx("o_totalprice", 0.5, 1000).alias("p")).collect()[0].p
    assert abs(approx - exact) / exact < 0.05


# ---------------------------------------------------------------- components

def test_connected_components_known_graph(spark):
    from sql_query_engine_rs_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 8)], "id_a long, id_b long"
    )
    got = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8}


def test_connected_components_orientation_invariant(spark):
    """The single-explode edge mirroring (r12: replaces the union of two
    `pairs` references and its extra materialization barrier) must make the
    result independent of pair orientation: reversing every (a, b) — or
    mixing orientations — yields identical components."""
    from sql_query_engine_rs_spark.functions.dedup import connected_components

    fwd = spark.createDataFrame([(1, 2), (2, 3), (5, 6), (8, 8)], "id_a long, id_b long")
    rev = spark.createDataFrame([(2, 1), (3, 2), (6, 5), (8, 8)], "id_a long, id_b long")
    mixed = spark.createDataFrame([(2, 1), (2, 3), (6, 5), (8, 8)], "id_a long, id_b long")
    want = {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8}
    for pairs in (fwd, rev, mixed):
        got = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
        assert got == want


def test_connected_components_chain_diameter(spark):
    """A long chain needs multiple propagation rounds — exercises the loop."""
    from sql_query_engine_rs_spark.functions.dedup import connected_components

    chain = [(i, i + 1) for i in range(0, 12)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert all(v == 0 for v in got.values()) and len(got) == 13


def test_connected_components_reliable_checkpoint_mode(spark, sf_dir):
    """The executor-loss-safe mode (reliable checkpoint() to the checkpoint
    dir) must produce identical components to the localCheckpoint default —
    exercised both on a multi-round chain graph and through the full
    duplicate_clusters pipeline on real documents."""
    from sql_query_engine_rs_spark.functions.dedup import (
        connected_components,
        duplicate_clusters,
    )

    import pytest

    chain = [(i, i + 1) for i in range(0, 12)] + [(50, 60), (99, 99)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    local = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    if spark.sparkContext.getCheckpointDir() is None:
        # r10 verdict item 4: no configured checkpoint dir must REFUSE,
        # not silently fall back to a driver-local (non-executor-loss-safe)
        # temp dir.
        with pytest.raises(RuntimeError, match="requires a configured checkpoint dir"):
            connected_components(pairs, reliable_checkpoint=True).collect()
    reliable = {
        r.node: r.cluster_id
        for r in connected_components(
            pairs, reliable_checkpoint=True, allow_local_checkpoint=True
        ).collect()
    }
    assert reliable == local
    assert spark.sparkContext.getCheckpointDir() is not None

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw = dict(num_hashes=8, bands=2, ngram=3, verify_threshold=0.8, max_band_size=256)
    base = {(r.doc_id, r.cluster_id) for r in duplicate_clusters(docs, **kw).collect()}
    rel = {
        (r.doc_id, r.cluster_id)
        for r in duplicate_clusters(
            docs, reliable_checkpoint=True, allow_local_checkpoint=True, **kw
        ).collect()
    }
    assert rel == base


def test_get_spark_plumbs_checkpoint_dir(spark, tmp_path):
    """session.get_spark(checkpoint_dir=...) must configure the reliable
    checkpoint store on the (shared) context, so production callers reach
    reliable_checkpoint=True without touching the SparkContext directly."""
    from sql_query_engine_rs_spark.session import get_spark

    target = str(tmp_path / "ckpt")
    s2 = get_spark("engine-tests", checkpoint_dir=target)
    got = s2.sparkContext.getCheckpointDir()
    assert got is not None and "ckpt" in got


# ---------------------------------------------------------------- IVF ANN

def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    bf = {(r.query_id, r.vec_id) for r in S.brute_force_topk(emb, queries, k=5).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in S.ivf_topk(emb, queries, k=5, num_centroids=8, nprobe=3).collect()
    }
    # probing 3/8 cells; cosine-clustered cells put true neighbors in the
    # query's own cell, so recall is high — require >50% to avoid data-flake
    assert len(approx & bf) / len(bf) > 0.5
    assert len(approx) <= len(bf)


def test_ivf_full_probe_is_exact(spark, sf_dir):
    """nprobe = num_centroids degenerates to brute force — exactness check."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(120)
    queries = emb.filter(F.col("vec_id") < 3)
    bf = {(r.query_id, r.vec_id) for r in S.brute_force_topk(emb, queries, k=5).collect()}
    full = {
        (r.query_id, r.vec_id)
        for r in S.ivf_topk(emb, queries, k=5, num_centroids=4, nprobe=4, iterations=0).collect()
    }
    assert full == bf


def test_ivf_centroid_shapes(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = S.ivf_centroids(emb, num_centroids=6, iterations=1).collect()
    assert len(cents) == 6
    assert {r.centroid_id for r in cents} == set(range(6))
    dims = {len(r._centroid) for r in cents}
    assert dims == {64}


def test_ivf_seed_rank_matches_globallimit_form(spark, sf_dir):
    """The distributed seed rank (k > CODEBOOK_COLLECT_MAX route) must
    yield bit-identical (centroid_id, id) pairs to the GlobalLimit +
    single-task-window form it replaces at scale."""
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = 37
    got = {
        (r.centroid_id, r.vec_id)
        for r in S._ivf_seed_rank(emb, k, id_col="vec_id").collect()
    }
    w = Window.orderBy("_h")
    want = {
        (r.centroid_id, r.vec_id)
        for r in emb.select("vec_id")
        .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h")
        .limit(k)
        .select((F.row_number().over(w) - 1).alias("centroid_id"), "vec_id")
        .collect()
    }
    assert got == want and len(got) == k


def test_ivf_seed_rank_handles_corpus_smaller_than_k(spark, sf_dir):
    """k past the corpus size ranks every row, like limit(k) on N<k rows."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < 19)
    rows = S._ivf_seed_rank(emb, 5000, id_col="vec_id").collect()
    assert len(rows) == 19
    assert {r.centroid_id for r in rows} == set(range(19))


def test_ivf_seed_rank_plan_has_no_globallimit(spark, sf_dir):
    """The distributed form must not feed the rank through GlobalLimit /
    CollectLimit (the single-task bound the route exists to remove)."""
    from sql_query_engine_rs_spark.plans import explain_str

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = explain_str(S._ivf_seed_rank(emb, 100_000, id_col="vec_id"), "simple")
    assert "GlobalLimit" not in plan and "CollectLimit" not in plan


def test_ivf_centroids_routes_distributed_past_codebook_bound(spark, sf_dir, monkeypatch):
    """ivf_centroids with k past CODEBOOK_COLLECT_MAX (bound patched down
    so the route executes at test scale) returns bit-identical seed
    centroids — ids AND vectors — to the small-k GlobalLimit path.
    iterations=0 keeps the patched bound away from the Lloyd assign's own
    collect guard (a separate, already-pinned route)."""
    import sql_query_engine_rs_spark.functions.arrow_kernels as AK

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < 200)
    small = {
        r.centroid_id: list(r._centroid)
        for r in S.ivf_centroids(emb, num_centroids=6, iterations=0).collect()
    }
    monkeypatch.setattr(AK, "CODEBOOK_COLLECT_MAX", 5)
    routed = {
        r.centroid_id: list(r._centroid)
        for r in S.ivf_centroids(emb, num_centroids=6, iterations=0).collect()
    }
    assert routed == small


# ---------------------------------------------------------------- pii / chunk / sample

def test_scrub_pii_tags_and_order(spark):
    from sql_query_engine_rs_spark.functions.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail a@b.co or https://x.io/u@v then +1 555-123-4567 done")],
        "id long, text string",
    )
    out = df.select(scrub_pii(F.col("text")).alias("t")).collect()[0].t
    assert "<EMAIL>" in out and "<URL>" in out and "<PHONE>" in out
    # URL ran first: the '@' inside the URL was absorbed by <URL>, not tagged
    assert "u@v" not in out and "@" not in out


def test_chunk_tokens_sizes(spark):
    from sql_query_engine_rs_spark.functions.text import chunk_tokens

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(32))),   # exactly one chunk
         (2, " ".join(f"w{i}" for i in range(33))),   # ragged second chunk
         (3, "")],                                     # dropped
        "doc_id long, text string",
    )
    rows = {(r.doc_id, r.chunk_id): r.n_tokens for r in chunk_tokens(docs, 32).collect()}
    assert rows == {(1, 0): 32, (2, 0): 32, (2, 1): 1}


def test_stratified_sample_exact_sizes(spark, sf_dir):
    from sql_query_engine_rs_spark.functions.sampling import stratified_sample
    import math

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {r.source: r.n for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {
        r.source: r.n
        for r in stratified_sample(docs, "source", 0.3)
        .groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {s: math.ceil(n * 0.3) for s, n in full.items()}


def test_audio_features_windows(spark):
    from sql_query_engine_rs_spark.functions.multimodal import audio_features

    # 8000 samples @8kHz = 1s = two 500ms windows; constant +64 -> rms 0.5, 0 crossings
    clip = bytes([64]) * 8000
    # alternating +64/-64 -> rms 0.5, crossings = len-1
    alt = bytes([64, 192] * 4000)
    df = spark.createDataFrame([(1, bytearray(clip)), (2, bytearray(alt))],
                               "item_id long, payload binary")
    rows = {(r.item_id, r.window_idx): r for r in audio_features(df).collect()}
    assert set(rows) == {(1, 0), (1, 1), (2, 0), (2, 1)}
    assert abs(rows[(1, 0)].rms - 0.5) < 1e-6
    assert rows[(1, 0)].zero_crossings == 0
    assert rows[(2, 1)].zero_crossings == 3999


def test_approx_distinct_within_tolerance(spark, sf_dir):
    from sql_query_engine_rs_spark.queries import QUERIES

    rows = QUERIES["ext_approx_distinct"].build(spark, sf_dir).collect()
    # one row per event type, sketch within the configured 2% rsd (5% slack)
    assert len(rows) > 0
    for r in rows:
        assert r.exact_users > 0
        assert r.approx_within_5pct, (r.event_type, r.exact_users)


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    from pyspark.sql import functions as F
    from sql_query_engine_rs_spark.queries import QUERIES

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mean_all = docs.agg(F.avg("n_chars")).first()[0]
    sample = QUERIES["pipe_weighted_sample"].build(spark, sf_dir)
    mean_sampled = sample.agg(F.avg("n_chars")).first()[0]
    # length-weighted sampling must pull the mean length above the corpus mean
    assert mean_sampled > mean_all


def test_stratified_sample_salted_equals_exact_with_mega_stratum(spark):
    """One mega-stratum (5000 rows) + two small ones: the salted two-phase
    path must return EXACTLY the rows of the single-window form — same ids,
    same exact per-stratum sizes."""
    import math

    from sql_query_engine_rs_spark.functions.sampling import stratified_sample

    rows = [(i, "mega") for i in range(5000)]
    rows += [(10_000 + i, "small_a") for i in range(10)]
    rows += [(20_000 + i, "small_b") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string").repartition(8)
    exact = {
        (r.doc_id, r.source)
        for r in stratified_sample(df, "source", 0.1, salted=False).collect()
    }
    salted = {
        (r.doc_id, r.source)
        for r in stratified_sample(df, "source", 0.1, salted=True, n_salts=7).collect()
    }
    assert salted == exact
    by_stratum = {"mega": 5000, "small_a": 10, "small_b": 40}
    for s, n in by_stratum.items():
        assert len([1 for _, src in salted if src == s]) == math.ceil(n * 0.1)


def test_domain_cap_salted_equals_exact_with_mega_domain(spark):
    from pyspark.sql import functions as F
    from sql_query_engine_rs_spark.functions.sampling import domain_cap

    # one mega-domain (5000 rows) + two small ones; salted phase must keep
    # the exact same first-25-by-id set the single-window form keeps
    rows = [(i, "mega") for i in range(5000)]
    rows += [(10_000 + i, "small_a") for i in range(10)]
    rows += [(20_000 + i, "small_b") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string").repartition(8)
    exact = {
        (r.doc_id, r.source, r.rn)
        for r in domain_cap(df, "source", 25, salted=False).collect()
    }
    salted = {
        (r.doc_id, r.source, r.rn)
        for r in domain_cap(df, "source", 25, salted=True, n_salts=7).collect()
    }
    assert salted == exact
    assert len([1 for _, s, _ in exact if s == "mega"]) == 25
    assert len([1 for _, s, _ in exact if s == "small_a"]) == 10


# ----------------------------------------------------------- round-5 additions


def test_semdedup_invariants(spark, sf_dir):
    """Every vector appears exactly once; the smallest id in each cell is
    always kept; every removed vector has a smaller-id same-cell neighbor
    with rounded cosine >= threshold (the greedy rule, re-verified from the
    result itself)."""
    from pyspark.sql import functions as F
    from sql_query_engine_rs_spark.functions.dedup import semdedup
    from sql_query_engine_rs_spark.functions.expressions import portable_round
    from sql_query_engine_rs_spark.functions.similarity import cosine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = semdedup(emb, threshold=0.4, num_centroids=8)
    rows = res.collect()
    assert len(rows) == emb.count()
    assert len({r.vec_id for r in rows}) == len(rows)

    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.centroid_id, []).append(r)
    removed = [r for r in rows if not r.kept]
    assert removed, "threshold 0.4 should remove at least one vector"
    for cell, members in by_cell.items():
        assert min(members, key=lambda r: r.vec_id).kept, f"cell {cell} min id removed"

    # each removed id must have a qualifying smaller-id neighbor in-cell
    cells = res.select("vec_id", "centroid_id").join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    a = cells.select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("va"), "centroid_id"
    )
    b = cells.select(
        F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"), "centroid_id"
    )
    witnesses = {
        r.idb
        for r in a.join(b, "centroid_id")
        .filter(F.col("ida") < F.col("idb"))
        .filter(portable_round(cosine(F.col("va"), F.col("vb")), 6) >= 0.4)
        .select("idb")
        .distinct()
        .collect()
    }
    assert {r.vec_id for r in removed} == witnesses


def test_mixture_sample_budgets(spark, sf_dir):
    """Selected count per source equals the temperature-weighted target
    computed independently (sqrt weights, left-fold normalizer, floor+0.5)."""
    import math

    from sql_query_engine_rs_spark.queries import QUERIES

    res = QUERIES["pipe_mixture_sample"].build(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sizes = {
        r.source: r.s for r in docs.groupBy("source").agg(F.sum("n_chars").alias("s")).collect()
    }
    ws = {s: math.sqrt(float(n)) for s, n in sizes.items()}
    total = 0.0
    for w, _s in sorted((w, s) for s, w in ws.items()):
        total += w
    targets = {s: max(1, int(math.floor(w / total * 200 + 0.5))) for s, w in ws.items()}
    got = {}
    for r in res:
        got[r.source] = got.get(r.source, 0) + 1
    assert got == targets
    # ranks are exactly 1..take_s per source
    for s, n in targets.items():
        assert sorted(r.rk for r in res if r.source == s) == list(range(1, n + 1))


def test_quality_classifier_is_map_only(spark, sf_dir):
    """The classifier scoring plan must contain no hash-partitioned shuffle —
    the whole operator is one map-side pass (fold inside the token array).
    The only allowed Exchange is docs_parallel's round-robin repartition, a
    local-mode parallelism shim over the single-file testdata scan."""
    from sql_query_engine_rs_spark.plans import explain_str
    from sql_query_engine_rs_spark.queries import QUERIES

    df = QUERIES["pipe_quality_classifier"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "Exchange hashpartitioning" not in simple
    assert "Exchange rangepartitioning" not in simple
    rows = df.collect()
    assert all(-0.5 <= r.score <= 0.5 for r in rows)
    assert any(r.keep for r in rows) and any(not r.keep for r in rows)


def test_boilerplate_ngrams_bounds(spark, sf_dir):
    from sql_query_engine_rs_spark.queries import QUERIES

    rows = QUERIES["pipe_boilerplate_ngrams"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_boiler <= r.n_grams
        assert 0.0 <= r.boiler_ratio <= 1.0
    assert any(r.n_boiler > 0 for r in rows), "corpus should contain frequent 3-grams"


def test_ivf_two_level_assignment_agreement(spark, sf_dir):
    """Hierarchical assignment must (a) assign every vector to a real
    centroid, (b) be deterministic (same data -> same assignment), and
    (c) agree with exact brute-force assignment well above the 1/m chance
    floor. No per-vector score-gap bound is asserted: on THIS corpus the
    embeddings are near-isotropic, so centroids are near-orthogonal and
    coarse routing is only weakly informative — the operative production
    contract is that near-dup RECALL survives rerouting (near-dup pairs
    route together because they are near each other), which
    test_semdedup_hierarchical_invariants pins."""
    from sql_query_engine_rs_spark.functions.similarity import (
        ivf_assign,
        ivf_assign_two_level,
        ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(emb, num_centroids=16)
    exact = ivf_assign(emb.select("vec_id", "embedding"), cents, nprobe=1)
    two = ivf_assign_two_level(emb.select("vec_id", "embedding"), cents)
    n = emb.count()
    assert two.count() == n
    e = {r.vec_id: r.centroid_id for r in exact.collect()}
    t = {r.vec_id: r.centroid_id for r in two.collect()}
    assert set(t) == set(e)
    again = {
        r.vec_id: r.centroid_id
        for r in ivf_assign_two_level(emb.select("vec_id", "embedding"), cents).collect()
    }
    assert again == t, "two-level assignment must be deterministic"
    # m = sqrt(16) = 4 coarse groups -> chance agreement ~ 1/4; require 2x
    agree = sum(1 for k in e if e[k] == t[k]) / n
    assert agree >= 0.5, f"two-level agreement {agree:.2f} vs chance 0.25"


def test_semdedup_keeps_zero_vectors(spark):
    """An all-zero embedding has no cosine with anything: its within-cell
    pairs score NULL (no DIVIDE_BY_ZERO under ANSI mode), fail the
    threshold, and the zero vector is kept."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(20)]
    rows += [(20, [0.0] * 8), (21, [0.0] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = {r.vec_id: r.kept for r in D.semdedup(emb, num_centroids=2, iterations=1).collect()}
    assert len(kept) == 22
    assert kept[20] and kept[21]


def test_semdedup_hierarchical_invariants(spark, sf_dir):
    """The hierarchical-assignment SemDeDup keeps the core output contract:
    one row per vector, min id per cell kept, and (at matched parameters)
    a removed-set size in the same ballpark as the exact-assignment path."""
    from sql_query_engine_rs_spark.functions.dedup import semdedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = semdedup(emb, threshold=0.4, num_centroids=16, hierarchical_assign=True)
    rows = res.collect()
    assert len(rows) == emb.count()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.centroid_id, []).append(r)
    for members in by_cell.values():
        assert min(members, key=lambda r: r.vec_id).kept
    n_removed_h = sum(1 for r in rows if not r.kept)
    exact = semdedup(emb, threshold=0.4, num_centroids=16)
    n_removed_e = sum(1 for r in exact.collect() if not r.kept)
    assert n_removed_e > 0
    assert 0.5 * n_removed_e <= n_removed_h <= 2 * n_removed_e


def test_auto_knobs_grow_with_corpus():
    """The auto-derived scale knobs (a) reproduce the registered driver-SF
    configs exactly — sf0.01's 500 embeddings derive k=8 and 3 planes, the
    values pipe_semdedup / pipe_embedding_near_dup register explicitly so
    their static DuckDB oracles stay valid — and (b) grow with N so cell /
    bucket populations stay bounded at ANY corpus size."""
    from sql_query_engine_rs_spark.functions.dedup import (
        LSH_TARGET_BUCKET,
        SEMDEDUP_TARGET_CELL,
        auto_num_centroids,
        auto_num_planes,
    )

    # anchors: the registered driver-SF configs fall out of the formulas
    assert auto_num_centroids(500) == 8
    assert auto_num_planes(500) == 3

    # monotone growth + bounded populations
    prev_k = prev_p = 0
    for n in [100, 1_000, 10_000, 1_000_000, 100_000_000, 10_000_000_000]:
        k, p = auto_num_centroids(n), auto_num_planes(n)
        assert k >= prev_k and p >= prev_p
        prev_k, prev_p = k, p
        # expected populations stay within ~2x of target at every scale
        assert n / k <= SEMDEDUP_TARGET_CELL + 1
        assert n / (2**p) <= 2 * LSH_TARGET_BUCKET
    # a 100 TB-ish corpus derives a k where brute N*k assignment is a
    # non-starter — the hierarchical auto-switch must engage
    from sql_query_engine_rs_spark.functions.dedup import SEMDEDUP_HIERARCHICAL_K

    assert auto_num_centroids(10_000_000_000) >= SEMDEDUP_HIERARCHICAL_K


def test_semdedup_auto_defaults(spark, sf_dir, monkeypatch):
    """semdedup with no knobs = semdedup with the explicitly derived knobs
    (bit-identical output), and the hierarchical auto-switch routes through
    ivf_assign_two_level exactly when derived k crosses the threshold."""
    from sql_query_engine_rs_spark.functions import dedup as D
    from sql_query_engine_rs_spark.functions import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    k = D.auto_num_centroids(n)
    auto = {(r.vec_id, r.centroid_id, r.kept) for r in D.semdedup(emb, threshold=0.4).collect()}
    explicit = {
        (r.vec_id, r.centroid_id, r.kept)
        for r in D.semdedup(emb, threshold=0.4, num_centroids=k).collect()
    }
    assert auto == explicit

    calls = []
    real_two_level = S.ivf_assign_two_level

    def spy(*args, **kwargs):
        calls.append(1)
        return real_two_level(*args, **kwargs)

    monkeypatch.setattr(S, "ivf_assign_two_level", spy)
    # below the crossover: brute assignment, no two-level call
    D.semdedup(emb, threshold=0.4).collect()
    assert not calls
    # force the crossover below the derived k: auto-switch must engage
    monkeypatch.setattr(D, "SEMDEDUP_HIERARCHICAL_K", 1)
    D.semdedup(emb, threshold=0.4).collect()
    assert calls


# ---------------------------------------------------------------- PQ ANN

def _exact_l2_topk(spark, emb, k=5):
    """Exact squared-L2 top-k reference (test-local; the registered exact
    path is cosine brute force — PQ approximates L2, so recall is measured
    against the matching metric)."""
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", S.l2sq(F.col("_qv"), F.col("embedding")).alias("d2"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def test_pq_topk_recall_vs_exact_l2(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.vec_id) for r in _exact_l2_topk(spark, emb, k=5).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in S.pq_topk(
            emb, queries, k=5, num_subspaces=16, num_centroids=32, iterations=1
        ).collect()
    }
    assert len(approx) == len(exact)
    # registered config (16 subspaces x 32 centroids, 1 Lloyd step) measures
    # recall ~0.52 here; the seed-only 4x8 book reads ~0.04 (chance), so
    # this also pins that refinement actually happened
    assert len(approx & exact) / len(exact) > 0.3


def test_two_stage_rerank_beats_raw_pq(spark, sf_dir):
    """The exact rerank over the PQ top-20 shortlist must recall at least
    as much of the exact-L2 top-5 as the raw PQ top-5 (it re-scores a
    superset with the true metric), and here strictly repairs most of the
    quantization error."""
    from sql_query_engine_rs_spark.queries import QUERIES

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.vec_id) for r in _exact_l2_topk(spark, emb, k=5).collect()}
    raw = {
        (r.query_id, r.vec_id)
        for r in S.pq_topk(
            emb, queries, k=5, num_subspaces=16, num_centroids=32, iterations=1
        ).collect()
    }
    two = {
        (r.query_id, r.vec_id)
        for r in QUERIES["pipe_ann_two_stage"].build(spark, sf_dir).collect()
    }
    assert len(two) == len(exact)
    recall_raw = len(raw & exact) / len(exact)
    recall_two = len(two & exact) / len(exact)
    assert recall_two >= recall_raw
    assert recall_two >= 0.6, f"rerank recall {recall_two:.2f}"


def test_pq_codes_shape_and_range(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    cb = S.pq_codebook(emb, num_subspaces=4, num_centroids=8)
    assert cb.count() == 32  # M x ks
    codes = S.pq_encode(emb, cb, num_subspaces=4).collect()
    assert len(codes) == 100 * 4
    assert all(0 <= r.code < 8 and 0 <= r.m < 4 for r in codes)


def test_pq_codebook_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = {(r.m, r.centroid_id): tuple(r._centroid) for r in S.pq_codebook(emb).collect()}
    b = {(r.m, r.centroid_id): tuple(r._centroid) for r in S.pq_codebook(emb).collect()}
    assert a == b and len(a) == 32


# ------------------------------------------------- fourth/fifth-wave invariants

def test_span_corruption_invariants(spark, sf_dir):
    """Each span start masks at least its own position (n_masked >= n_spans),
    a span covers at most 3 positions (n_masked <= 3*n_spans), and the mask
    never exceeds the doc (n_masked <= n_tok)."""
    from sql_query_engine_rs_spark.queries import QUERIES

    rows = QUERIES["pipe_span_corruption"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_spans <= r.n_tok
        assert r.n_spans <= r.n_masked <= min(r.n_tok, 3 * r.n_spans)
        assert abs(r.mask_ratio - r.n_masked / r.n_tok) < 1e-4


def test_funnel_stage_monotonicity(spark, sf_dir):
    """Cumulative funnel counts must be monotone: users reaching stage k+1
    are a subset of those reaching stage k."""
    from sql_query_engine_rs_spark.queries import QUERIES

    counts = {r.stage: r.n_users for r in QUERIES["ext_funnel_stages"].build(spark, sf_dir).collect()}
    c1 = counts.get(1, 0) + counts.get(2, 0) + counts.get(3, 0)
    c2 = counts.get(2, 0) + counts.get(3, 0)
    c3 = counts.get(3, 0)
    assert c1 >= c2 >= c3
    assert c3 > 0  # data has full-funnel users at every SF


def test_hard_negatives_labels_differ(spark, sf_dir):
    from sql_query_engine_rs_spark.queries import QUERIES

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    out = QUERIES["pipe_hard_negatives"].build(spark, sf_dir).collect()
    assert out
    for r in out:
        assert labels[r.query_id] != labels[r.vec_id]
        assert r.query_id != r.vec_id


def test_kl_source_drift_nonnegative(spark, sf_dir):
    """KL divergence is >= 0 up to rounding; a source identical to the
    corpus blend would read ~0."""
    from sql_query_engine_rs_spark.queries import QUERIES

    rows = QUERIES["pipe_kl_source_drift"].build(spark, sf_dir).collect()
    assert rows
    assert all(r.kl >= -1e-4 for r in rows)


# ------------------------------------------------- round-5 wave additions

def test_positional_shingles_index_is_start_pos(spark):
    """positional_shingles_from_tokens: element i must be the n-gram
    starting at token i, with null padding past L-n (the property
    exact-substring dedup's span math depends on)."""
    df = spark.createDataFrame([(["a", "b", "c", "d"],)], "toks array<string>")
    row = df.select(
        D.positional_shingles_from_tokens(F.col("toks"), 3).alias("g")
    ).collect()[0]
    assert row.g == ["a b c", "b c d", None, None]


def test_exact_substring_dedup_invariants(spark, tmp_path):
    """Planted contract: two docs sharing an 8-token run lose exactly that
    span (plus overlapping coverage); a doc with no cross-doc 8-gram keeps
    every token and its original text round-trips."""
    shared = "one two three four five six seven eight"
    docs = [
        (0, f"{shared} tail0 only0"),
        (1, f"head1 {shared} tail1"),
        (2, "totally unique words nine ten eleven twelve thirteen fourteen"),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": [d[0] for d in docs],
            "text": [d[1] for d in docs],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(d[1]) for d in docs],
        }),
        sf / "documents.parquet",
    )
    from sql_query_engine_rs_spark.queries import QUERIES

    out = {
        r.doc_id: r
        for r in QUERIES["pipe_exact_substring_dedup"].build(spark, str(sf)).collect()
    }
    assert out[2].n_removed == 0 and out[2].cleaned_text == docs[2][1]
    assert out[0].n_removed == 8 and out[0].cleaned_text == "tail0 only0"
    assert out[1].n_removed == 8 and out[1].cleaned_text == "head1 tail1"


def test_minhash_estimate_bounds(spark, sf_dir):
    """Estimates are k-quantized in [0.5, 1] on banding survivors (>= one
    full band of 4 equal components out of 8) and abs_err is consistent."""
    rows = D.minhash_estimate_audit(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).collect()
    assert rows, "no candidate pairs at test SF"
    for r in rows:
        assert 0.5 <= r.est_jaccard <= 1.0
        assert abs(r.abs_err - round(abs(r.est_jaccard - r.exact_jaccard), 4)) <= 1e-4


def test_recursive_hierarchy_matches_python(spark, sf_dir):
    """Driver-loop ancestor traversal equals the direct Python fixpoint."""
    from sql_query_engine_rs_spark.queries import QUERIES

    got = {
        r.p_partkey: (r.root_key, r.depth)
        for r in QUERIES["ext_recursive_hierarchy"].build(spark, sf_dir).collect()
    }

    def walk(n):
        d = 0
        while n >= 8:
            n //= 8
            d += 1
        return n, d

    for k, v in got.items():
        assert v == walk(k), (k, v, walk(k))


def test_containment_catches_planted_subset(spark, tmp_path):
    """A doc fully embedded in a longer doc must surface with containment
    1.0 even though its Jaccard vs the container is low — the case
    size-blocked Jaccard dedup is blind to. The contained doc's grams are
    rare corpus-wide, so rare-gram blocking finds the pair."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    contained = "alpha beta gamma delta epsilon zeta"
    container = (
        "prefix words before the quote " + contained + " and a long tail of other content "
        "stretching the union far beyond the subset so jaccard stays low one two three"
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": [0, 1, 2],
            "text": [contained, container, "unrelated filler text with different words entirely here"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(contained), len(container), 40],
        }),
        sf / "documents.parquet",
    )
    from sql_query_engine_rs_spark.queries import QUERIES

    rows = QUERIES["pipe_containment_dups"].build(spark, str(sf)).collect()
    pairs = {(r.id_a, r.id_b): r.containment for r in rows}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0, pairs
    # and the Jaccard flagship at its 0.8 threshold must NOT pair them
    jac = QUERIES["pipe_ngram_jaccard"].build(spark, str(sf)).collect()
    assert not any({r.id_a, r.id_b} == {0, 1} for r in jac)


def test_charclass_audit_counts_every_class(spark, tmp_path):
    """The sf corpora are pure alpha+space, so the oracle exercises those
    classes only; this fixture plants digits, ASCII punctuation, and
    non-ASCII chars and checks each class is counted exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # 10 alpha, 1 space-run of 3, 4 digits, 3 punct, 2 non-ASCII = 22 chars
    text = "abcdeFGHIJ   1234,.;é中"
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": [0],
            "text": [text],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": [len(text)],
        }),
        sf / "documents.parquet",
    )
    from sql_query_engine_rs_spark.queries import QUERIES

    (r,) = QUERIES["pipe_charclass_audit"].build(spark, str(sf)).collect()
    assert r.n_chars == 22
    assert abs(r.alpha_ratio - 10 / 22) < 1e-5
    assert abs(r.digit_ratio - 4 / 22) < 1e-5
    assert abs(r.space_ratio - 3 / 22) < 1e-5
    assert abs(r.punct_ratio - 3 / 22) < 1e-5
    assert abs(r.non_ascii_ratio - 2 / 22) < 1e-5


def test_fk_integrity_detects_planted_orphans(spark, tmp_path):
    """The synthetic corpora are referentially clean (all n_orphans = 0),
    so this fixture plants orphans on both a broadcast arm and the
    shuffle arm and checks the counts land on the right relationships."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.table({"c_custkey": [1, 2]}), sf / "customer.parquet")
    pq.write_table(
        pa.table({"o_orderkey": [10, 11, 12], "o_custkey": [1, 2, 99]}),
        sf / "orders.parquet",
    )
    pq.write_table(
        pa.table({
            "l_orderkey": [10, 10, 77, 78],
            "l_partkey": [5, 5, 5, 6],
            "l_suppkey": [3, 3, 3, 3],
        }),
        sf / "lineitem.parquet",
    )
    pq.write_table(pa.table({"p_partkey": [5, 6]}), sf / "part.parquet")
    pq.write_table(pa.table({"s_suppkey": [3]}), sf / "supplier.parquet")
    pq.write_table(
        pa.table({"doc_id": [0, 1, 2], "text": ["a", "b", "c"],
                  "lang": ["en"] * 3, "source": ["s"] * 3, "n_chars": [1, 1, 1]}),
        sf / "documents.parquet",
    )
    pq.write_table(
        pa.table({"vec_id": [0, 1], "embedding": [[0.0], [1.0]], "label": [0, 1]}),
        sf / "embeddings.parquet",
    )
    from sql_query_engine_rs_spark.queries import QUERIES

    rows = {r.relationship: r for r in QUERIES["pipe_fk_integrity"].build(spark, str(sf)).collect()}
    assert rows["orders->customer"].n_orphans == 1          # o_custkey 99
    assert rows["lineitem->orders"].n_orphans == 2          # l_orderkey 77, 78
    assert rows["lineitem->part"].n_orphans == 0
    assert rows["lineitem->supplier"].n_orphans == 0
    assert rows["documents->embeddings"].n_orphans == 1     # doc_id 2
    assert rows["lineitem->orders"].n_child == 4


def test_ivf_assign_keep_rank_contract(spark, sf_dir):
    """ivf_assign(keep_rank=True) retains the probe ORDER: per vector the
    probe_rank values are exactly 1..nprobe, rank 1 is the nprobe=1
    nearest cell, and filtering probe_rank <= p reproduces the plain
    nprobe=p assignment — the contract the one-pass nprobe sweep
    (pipe_ann_nprobe_sweep) rests on."""
    from sql_query_engine_rs_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") < 10).select("vec_id", "embedding")
    cents = ivf_centroids(emb, num_centroids=8)
    ranked = ivf_assign(qv, cents, nprobe=4, keep_rank=True)
    rows = ranked.select("vec_id", "centroid_id", "probe_rank").collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, {})[r.probe_rank] = r.centroid_id
    assert all(sorted(m) == [1, 2, 3, 4] for m in by_vec.values())
    for p in (1, 2):
        plain = ivf_assign(qv, cents, nprobe=p)
        expect = {(r.vec_id, r.centroid_id) for r in plain.collect()}
        got = {
            (r.vec_id, r.centroid_id)
            for r in ranked.filter(F.col("probe_rank") <= p).collect()
        }
        assert got == expect, f"probe_rank<={p} must equal nprobe={p}"


def test_embedding_lsh_clone_collapse_equivalence(spark):
    """The round-8 exact-clone collapse must be output-INVISIBLE: on a
    corpus with planted exact-duplicate vectors, the collapsed path's
    (id_a, id_b, cos_sim) set equals an uncollapsed reference that joins
    the SAME per-table buckets directly on all ids (the pre-collapse
    plan), including every within-clone pair at cos 1.0 and every
    cross-group orientation."""
    import random

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(30)]
    rows = [Row(vec_id=i, embedding=base[i]) for i in range(30)]
    # plant two clone groups: ids 100-109 clone base[0], 200-204 clone a
    # NEAR-dup of base[1] (so cross-group pairs exercise both paths)
    rows += [Row(vec_id=100 + j, embedding=list(base[0])) for j in range(10)]
    near1 = [x + 0.001 for x in base[1]]
    rows += [Row(vec_id=200 + j, embedding=list(near1)) for j in range(5)]
    emb = spark.createDataFrame(rows)

    def reference(df, threshold, num_planes, num_tables):
        from sql_query_engine_rs_spark.functions.similarity import (
            dot,
            norm,
            random_hyperplane_signature,
        )
        from sql_query_engine_rs_spark.functions.expressions import portable_round

        v = df.select(
            F.col("vec_id").alias("_id"),
            F.col("embedding").alias("_v"),
            norm(F.col("embedding")).alias("_n"),
        )
        bkt = v.select(
            "_id",
            *[
                random_hyperplane_signature(
                    F.col("_v"), num_planes, plane_offset=t * num_planes
                ).alias(f"_b{t}")
                for t in range(num_tables)
            ],
        )
        cand = None
        for t in range(num_tables):
            tbl = bkt.select("_id", F.col(f"_b{t}").alias("bucket"))
            a, b = tbl.alias("a"), tbl.alias("b")
            p = (
                a.join(b, on="bucket")
                .filter(F.col("a._id") < F.col("b._id"))
                .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            )
            cand = p if cand is None else cand.unionByName(p)
        va = v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"))
        vb = v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
        return (
            cand.join(va, on="id_a")
            .join(vb, on="id_b")
            .select(
                "id_a",
                "id_b",
                portable_round(
                    dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
                ).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
            .distinct()
        )

    for planes, tables in ((2, 1), (3, 4)):
        got = {
            (r.id_a, r.id_b, r.cos_sim)
            for r in D.embedding_cosine_dups_lsh(
                emb, threshold=0.4, num_planes=planes, num_tables=tables
            ).collect()
        }
        want = {
            (r.id_a, r.id_b, r.cos_sim)
            for r in reference(emb, 0.4, planes, tables).collect()
        }
        assert got == want
        # the clone groups themselves must be fully paired at 1.0
        assert all(
            (a, b, 1.0) in got for a in range(100, 110) for b in range(a + 1, 110)
        )


def test_embedding_lsh_zero_norm_vector_is_dropped_not_crash(spark):
    """ANSI-mode regression pin (round-8 review finding): an all-zeros
    embedding row must not crash the LSH near-dup or the kNN graph with
    DIVIDE_BY_ZERO — its cosine is undefined, so its pairs (and the
    zero-group's self-pairs) simply drop, while every other pair is
    unaffected."""
    import random

    rng = random.Random(11)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(64)])
        for i in range(20)
    ]
    rows += [Row(vec_id=100, embedding=[0.0] * 64), Row(vec_id=101, embedding=[0.0] * 64)]
    emb = spark.createDataFrame(rows)
    pairs = D.embedding_cosine_dups_lsh(emb, threshold=0.4, num_planes=2).collect()
    ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert 100 not in ids and 101 not in ids  # zero vectors never pair
    g = S.knn_graph(emb, k=3, num_planes=2).collect()
    assert all(r.cos_sim is not None for r in g)
    assert all(r.src_id not in (100, 101) and r.nbr_id not in (100, 101) for r in g)


def test_arrow_pair_verify_matches_fold_on_small_corpus(spark, monkeypatch):
    """The use_arrow_verify branch (reps >= PAIR_VERIFY_ARROW_MIN = 150k)
    was previously reachable only at rehearsal scale. Force it on a small
    corpus by dropping the crossover to 0 and pin exact output equality
    with the JVM fold path for BOTH callers (embedding_cosine_dups_lsh and
    knn_graph) — including planted zero-norm and exact-clone rows, so the
    when() guard is verified to drop degenerate pairs before the pandas
    UDF evaluates and the clone expansion is verified on the Arrow path."""
    import random

    rng = random.Random(17)
    base = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(40)]
    rows = [Row(vec_id=i, embedding=v) for i, v in enumerate(base)]
    rows += [Row(vec_id=200 + j, embedding=list(base[0])) for j in range(3)]
    rows += [Row(vec_id=300, embedding=[0.0] * 64), Row(vec_id=301, embedding=[0.0] * 64)]
    emb = spark.createDataFrame(rows)

    def pairs():
        return {
            (r.id_a, r.id_b, r.cos_sim)
            for r in D.embedding_cosine_dups_lsh(
                emb, threshold=0.4, num_planes=2, num_tables=2
            ).collect()
        }

    def knn():
        return {
            (r.src_id, r.nbr_id, r.cos_sim, r.rank)
            for r in S.knn_graph(emb, k=3, num_planes=2).collect()
        }

    fold_pairs, fold_knn = pairs(), knn()
    assert fold_pairs, "fold path produced no pairs — fixture is vacuous"
    monkeypatch.setattr(D, "PAIR_VERIFY_ARROW_MIN", 0)
    arrow_pairs, arrow_knn = pairs(), knn()
    assert arrow_pairs == fold_pairs
    assert arrow_knn == fold_knn
    zero_ids = {300, 301}
    assert not any(a in zero_ids or b in zero_ids for a, b, _ in arrow_pairs)
    assert not any(s in zero_ids or n in zero_ids for s, n, _, _ in arrow_knn)
    # the clone group (0, 200, 201, 202) must be fully paired at 1.0 on
    # the Arrow path too — the expansion runs after the kernel verify
    clone = sorted([0, 200, 201, 202])
    for i, a in enumerate(clone):
        for b in clone[i + 1:]:
            assert (a, b, 1.0) in arrow_pairs


def test_knn_graph_clone_collapse_matches_direct_form(spark, monkeypatch):
    """The round-10 exact-clone collapse must be BIT-identical to the
    retained all-member self-join twin on an adversarial corpus: a large
    clone block (bigger than k+1, so head truncation is exercised), a
    two-member group, zero vectors (pairs drop), NaN-component and
    inf-norm vectors (legacy NaN/0.0 scores, never 1.0 mates), and ties
    between a 1.0 clone-mate and nothing-up-my-sleeve randoms. The
    bucket-population trigger is forced to 0 so the collapse path runs
    at test scale (untouched, this corpus would route direct — which is
    the twin itself, and the compare would be vacuous)."""
    import math
    import random

    monkeypatch.setattr(S, "KNN_CLONE_COLLAPSE_TRIGGER", 0)

    rng = random.Random(23)
    base = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(30)]
    rows = [Row(vec_id=i, embedding=v) for i, v in enumerate(base)]
    # clone block of 7 (> k+1 = 4) sharing base[3]'s vector
    rows += [Row(vec_id=400 + j, embedding=list(base[3])) for j in range(6)]
    # a two-member group
    rows += [Row(vec_id=500, embedding=list(base[7]))]
    # degenerate rows
    rows += [Row(vec_id=600, embedding=[0.0] * 64), Row(vec_id=601, embedding=[0.0] * 64)]
    nanv = list(base[9]); nanv[0] = float("nan")
    rows += [Row(vec_id=700, embedding=list(nanv)), Row(vec_id=701, embedding=list(nanv))]
    bigv = [1.0e200] * 64  # norm overflows to inf
    rows += [Row(vec_id=800, embedding=bigv)]
    emb = spark.createDataFrame(rows)

    def norm_rows(recs):
        out = set()
        for r in recs:
            c = "nan" if (r.cos_sim is not None and math.isnan(r.cos_sim)) else r.cos_sim
            out.add((r.src_id, r.nbr_id, c, r.rank))
        return out

    for k in (3, 8):
        got = norm_rows(S.knn_graph(emb, k=k, num_planes=2).collect())
        want = norm_rows(S._knn_graph_direct(emb, k=k, num_planes=2).collect())
        assert got == want, f"k={k}: {sorted(got ^ want)[:10]}"
    # the clone block must neighbor itself at literal 1.0
    g = S.knn_graph(emb, k=3, num_planes=2).collect()
    assert {(r.src_id, r.nbr_id) for r in g if r.cos_sim == 1.0} >= {(3, 400), (400, 3), (401, 400)}


def test_knn_graph_routes_direct_under_healthy_buckets(spark, sf_dir, monkeypatch):
    """Routing pin: with bucket populations under the trigger the plan is
    the direct self-join (no collapse Union of cross+mates — its three
    extra exchanges measured +1-3.5 s per sf0.1 query for zero benefit on
    clone-free data); past the trigger the collapse plan engages."""
    from sql_query_engine_rs_spark.plans import explain_str

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    direct = explain_str(S.knn_graph(emb, k=4, num_planes=None), "simple")
    assert "Union" not in direct
    monkeypatch.setattr(S, "KNN_CLONE_COLLAPSE_TRIGGER", 0)
    collapsed = explain_str(S.knn_graph(emb, k=4, num_planes=None), "simple")
    assert "Union" in collapsed


def test_basket_lift_caps_mega_order_with_oracle_parity(spark, tmp_path):
    """A planted bot/ETL mega-order (> _BASKET_PAIR_CAP distinct parts)
    must be dropped from pair generation — and the ORACLE must agree,
    because the cap is mirrored verbatim in its SQL: Spark and DuckDB are
    compared on the planted corpus itself, not just cap-free test data.
    Normal baskets' pairs survive untouched."""
    import math

    import duckdb

    from sql_query_engine_rs_spark.queries import QUERIES, _BASKET_PAIR_CAP

    rows = []
    # 40 normal orders, each a 4-part basket drawn from a 10-part pool so
    # pair supports comfortably clear the HAVING >= 3 floor
    for ok in range(40):
        for j in range(4):
            rows.append((ok, (ok + j * 3) % 10))
    # the mega-order: _BASKET_PAIR_CAP + 5 distinct parts
    mega_ok = 10_000
    for pk in range(1000, 1000 + _BASKET_PAIR_CAP + 5):
        rows.append((mega_ok, pk))
    sf = str(tmp_path)
    spark.createDataFrame(
        [(ok, pk, 1) for ok, pk in rows],
        "l_orderkey long, l_partkey long, l_linenumber int",
    ).write.parquet(f"{sf}/lineitem.parquet")

    spec = QUERIES["pipe_basket_lift"]
    # the cap literal must stay in lockstep between builder and oracle
    assert f"bc <= {_BASKET_PAIR_CAP}" in spec.oracle
    sdf = spec.build(spark, sf)
    srows = [tuple(r) for r in sdf.collect()]
    assert srows, "fixture produced no surviving pairs"
    # no mega-order part may appear in any surviving pair
    assert all(r[0] < 1000 and r[1] < 1000 for r in srows)

    con = duckdb.connect()
    # Spark wrote a directory-style parquet; glob the part files
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet/*.parquet'")
    res = con.execute(spec.oracle)
    dcols = [d[0].lower() for d in res.description]
    drows = res.fetchall()

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 9)
        return v

    def canon(rws, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(tuple(norm(r[i]) for i in order) for r in rws)

    assert canon(srows, [c.lower() for c in sdf.columns]) == canon(drows, dcols)


# ------------------------------------------------- round-11 crawl-curation ops

def test_canonicalize_url_edge_cases(spark):
    """The regexp chain's contract: scheme/www/host-case/tracking-params/
    trailing-slash variants collapse; non-tracking params and xref-style
    lookalike names survive."""
    from sql_query_engine_rs_spark.functions.text import canonicalize_url

    cases = [
        ("https://Example.COM/a/b", "example.com/a/b"),
        ("http://www.example.com/a/b/", "example.com/a/b"),
        # uppercase WWW must strip too (lower runs before the strip)
        ("https://WWW.Example.com/a/b", "example.com/a/b"),
        ("https://example.com/a?utm_source=x&utm_medium=y", "example.com/a"),
        ("https://example.com/a?id=5&utm_source=x", "example.com/a?id=5"),
        ("https://example.com/a?utm_source=x&id=5", "example.com/a?id=5"),
        ("https://example.com/a?utm_source=f&ref=s", "example.com/a"),
        # a RUN of 3+ adjacent tracking params collapses in one pass
        ("https://example.com/a?utm_source=f&utm_medium=m&utm_campaign=c", "example.com/a"),
        ("https://example.com/a?utm_source=f&utm_medium=m&id=5", "example.com/a?id=5"),
        ("https://example.com/a?id=5&utm_source=f&ref=s&utm_medium=m", "example.com/a?id=5"),
        # xref must NOT be treated as the tracking param `ref`
        ("https://example.com/a?xref=7", "example.com/a?xref=7"),
        # trailing slash before a KEPT query collapses too
        ("https://example.com/a/?id=5", "example.com/a?id=5"),
        ("ftp://Host.Org/Path/", "host.org/Path"),  # path case preserved
        ("example.com/no-scheme///", "example.com/no-scheme"),
        # a literal '&' in a PATH (no query string) is not a param
        # separator — two distinct resources must stay distinct
        ("https://example.com/a&ref=b", "example.com/a&ref=b"),
        ("https://example.com/a&ref=b?utm_source=x", "example.com/a&ref=b"),
        # fragments are never sent to the server: stripped consistently,
        # whether or not a tracking param precedes them
        ("https://example.com/a#frag", "example.com/a"),
        ("https://example.com/a?utm_source=x#frag", "example.com/a"),
        ("https://example.com/a?id=5#frag", "example.com/a?id=5"),
        ("example.com#frag", "example.com"),  # path-less: not folded into host
        # tracking-param match is case-insensitive (host-case already is)
        ("https://example.com/a?UTM_SOURCE=x", "example.com/a"),
        ("https://example.com/a?Ref=y&id=5", "example.com/a?id=5"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonicalize_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_incremental_dedup_status_classifies_all_branches(spark):
    from sql_query_engine_rs_spark.functions.dedup import incremental_dedup_status

    shard = spark.createDataFrame(
        [
            (10, "already indexed text"),
            (11, "fresh text one"),
            (12, "fresh text one"),   # same fp as 11, larger id
            (13, "fresh text two"),
        ],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    from sql_query_engine_rs_spark.functions.text import normalized_text

    index = spark.createDataFrame(
        [("already  INDEXED text",)], "text string"
    ).select(F.md5(normalized_text(F.col("text"))).alias("fingerprint"))
    got = {
        r.doc_id: r.status
        for r in incremental_dedup_status(shard, index).collect()
    }
    assert got == {
        10: "dup_of_index",
        11: "unique",
        12: "dup_within_shard",
        13: "unique",
    }


def test_prefix_fingerprint_matches_head_tokens(spark):
    from sql_query_engine_rs_spark.functions.dedup import prefix_fingerprint
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("alpha beta gamma",), ("ALPHA   beta DIFFERENT tail",), ("alpha other",)],
        "text string",
    )
    fps = [r.fp for r in df.select(prefix_fingerprint(F.col("text"), 2).alias("fp")).collect()]
    assert fps[0] == fps[1] and fps[0] != fps[2]


def test_canonicalize_url_idempotent_and_partitions_variants(spark):
    """Over the full variant grid (scheme x www x host-case x tracking
    params x extra param x trailing slashes), canonicalization is (a)
    IDEMPOTENT — canon(canon(u)) == canon(u), so re-running curation over
    an already-canonicalized crawl is a no-op — and (b) exactly
    equivalence-class-preserving: two variants share a canonical form iff
    they differ only in the normalized dimensions (the kept query param
    partitions classes; everything else collapses)."""
    import itertools

    from pyspark.sql import functions as F

    from sql_query_engine_rs_spark.functions.text import canonicalize_url

    rows = []
    for scheme, www, case, track, keep, slashes in itertools.product(
        ["http://", "https://", ""],
        ["", "www."],
        ["host.example.com", "HOST.example.COM"],
        ["", "?utm_source=x", "?utm_source=x&ref=y"],
        ["", "id=5"],
        ["", "/", "//"],
    ):
        q = track + ("&" + keep if track and keep else ("?" + keep if keep else ""))
        rows.append((scheme + www + case + "/path" + slashes + q, keep))
    df = spark.createDataFrame(rows, "url string, keep string")
    out = df.select(
        "url", "keep",
        canonicalize_url(F.col("url")).alias("c1"),
        canonicalize_url(canonicalize_url(F.col("url"))).alias("c2"),
    ).collect()
    for r in out:
        assert r.c2 == r.c1, f"not idempotent: {r.url!r} -> {r.c1!r} -> {r.c2!r}"
        want = "host.example.com/path" + ("?id=5" if r.keep else "")
        assert r.c1 == want, f"{r.url!r} -> {r.c1!r}, want {want!r}"


def test_canonicalize_url_degenerate_inputs(spark):
    """Junk inputs must not throw (ANSI sessions included) and must stay
    idempotent: empty string, bare separators, tracking-only queries,
    scheme-only, and a bare 'ref=x' path-less string (which parses as a
    host, not a tracking param — no separator anchors it)."""
    from pyspark.sql import functions as F

    from sql_query_engine_rs_spark.functions.text import canonicalize_url

    cases = ["", "?", "///", "?&&&", "http://", "https://?utm_source=x",
             "ref=x", "?ref=", "a?ref=&ref=&ref=", "WWW.", "http://www."]
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    out = df.select(
        "url",
        canonicalize_url(F.col("url")).alias("c1"),
        canonicalize_url(canonicalize_url(F.col("url"))).alias("c2"),
    ).collect()
    got = {r.url: r.c1 for r in out}
    for r in out:
        assert r.c2 == r.c1, f"not idempotent: {r.url!r} -> {r.c1!r} -> {r.c2!r}"
    assert got[""] == "" and got["?"] == "" and got["///"] == ""
    assert got["?&&&"] == "" and got["http://"] == ""
    assert got["https://?utm_source=x"] == ""
    assert got["ref=x"] == "ref=x"  # a host-shaped string, not a param
    assert got["?ref="] == ""
    assert got["a?ref=&ref=&ref="] == "a"


def test_incremental_dedup_empty_shard_and_empty_index(spark):
    """Boundary shapes of the ingest loop: an empty shard returns an empty
    frame (not an error), and an empty index classifies everything
    within-shard — the first-ever ingest."""
    from sql_query_engine_rs_spark.functions.dedup import incremental_dedup_status

    empty_shard = spark.createDataFrame([], "doc_id long, text string")
    index = spark.createDataFrame([("aa",)], "fingerprint string")
    assert incremental_dedup_status(empty_shard, index).count() == 0

    shard = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c d")], "doc_id long, text string"
    )
    empty_index = spark.createDataFrame([], "fingerprint string")
    got = {r.doc_id: r.status for r in incremental_dedup_status(shard, empty_index).collect()}
    assert got == {1: "unique", 2: "dup_within_shard", 3: "unique"}


@pytest.mark.parametrize("threshold", [0.5, 0.8])
def test_ngram_jaccard_sparse_equals_all_pairs(spark, threshold):
    """The shared-gram path (equi-join on grams + pair count) must
    reproduce a plain all-pairs cross join with no bucket filter: same
    pairs, bit-identical rounded similarities, on a corpus with exact
    dups, near-dups, disjoint docs, and sub-n short docs."""
    from sql_query_engine_rs_spark.functions.dedup import (
        jaccard,
        ngram_jaccard_pairs,
        shingles_from_tokens,
    )
    from sql_query_engine_rs_spark.functions.expressions import portable_round
    from sql_query_engine_rs_spark.functions.text import tokens

    docs = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),  # exact dup
        (2, "the quick brown fox jumps over the lazy dog tonight"),  # near dup
        (3, "completely different words entirely here now"),
        (4, "xy zz"),  # < n tokens -> empty shingle set, must not pair
        (5, "the quick brown fox jumps over the lazy cat today"),
        (6, "the quick brown fox jumps"),  # subset, size ratio > 2
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        map(tuple, ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=threshold).collect())
    )
    g = df.select(
        F.col("doc_id").alias("_id"),
        shingles_from_tokens(tokens(F.col("text")), 3).alias("_grams"),
    ).filter(F.size("_grams") > 0)
    a, b = g.alias("a"), g.alias("b")
    ref = sorted(
        map(
            tuple,
            a.crossJoin(b)
            .filter(F.col("a._id") < F.col("b._id"))
            .select(
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                portable_round(jaccard(F.col("a._grams"), F.col("b._grams")), 4).alias("jaccard_sim"),
            )
            .filter(F.col("jaccard_sim") >= threshold)
            .collect(),
        )
    )
    assert got == ref and any(r[:2] == (0, 1) for r in got), (got, ref)
    if threshold < 0.8:
        assert any(r[2] < 0.8 for r in got), got


def test_ngram_jaccard_rejects_nonpositive_threshold(spark):
    df = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold must be > 0"):
        D.ngram_jaccard_pairs(df, threshold=0)


def test_winnow_dups_barriers_and_planted_pair(spark, tmp_path):
    """pipe_winnow_dups' two materialization barriers (r13) must hold —
    the returned plan reads ExistingRDD scans, never re-deriving the gram
    pipeline (whose Generate-guard inlining was the O(L^2) hazard) — and a
    planted shared-substring pair must be detected."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sql_query_engine_rs_spark.queries import QUERIES

    shared = "the identical shared run of text long enough to winnow " * 3
    texts = [
        shared + " alpha tail one",
        shared + " beta tail two",
        "completely unrelated filler body with its own words repeated often",
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": list(range(len(texts))),
            "text": texts,
            "source": ["src0"] * len(texts),
        }),
        sf / "documents.parquet",
    )
    df = QUERIES["pipe_winnow_dups"].build(spark, str(sf))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan and "Scan parquet" not in plan
    rows = {(r.id_a, r.id_b): r.n_shared for r in df.collect()}
    assert (0, 1) in rows and rows[(0, 1)] >= 3, rows
    assert not any(2 in k for k in rows)
