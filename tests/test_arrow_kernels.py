"""Exact-equality pins for the Arrow strict-fold kernels (round 8).

The kernels replace the interpreted ArrayAggregate fold in every
assignment-shaped operator; these tests hold them BIT-IDENTICAL to the
retained JVM twins — ties, NaN routing, float32 widening and all — so
every DuckDB oracle written against the fold contract keeps verifying
the live code.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sql_query_engine_rs_spark.functions import arrow_kernels as AK
from sql_query_engine_rs_spark.functions import similarity as S

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .persist()
    )
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def cents(spark, emb):
    c = S.ivf_centroids(emb, num_centroids=16, iterations=1).persist()
    c.count()
    yield c
    c.unpersist()


def _as_map(rows):
    return {r[0]: r[1] for r in rows}


def test_assign_nearest_matches_jvm_exactly(emb, cents):
    jvm = _as_map(
        S._ivf_assign1_jvm(emb, cents).select("vec_id", "centroid_id").collect()
    )
    arw = _as_map(
        AK.assign_nearest(emb, cents).select("vec_id", "centroid_id").collect()
    )
    assert jvm == arw


def test_two_level_matches_jvm_exactly(emb, cents):
    jvm = _as_map(
        S._ivf_assign_two_level_jvm(emb, cents)
        .select("vec_id", "centroid_id")
        .collect()
    )
    arw = _as_map(
        AK.assign_nearest_two_level(emb, cents)
        .select("vec_id", "centroid_id")
        .collect()
    )
    assert jvm == arw


def test_pair_dot_bit_exact_vs_jvm_fold(spark, emb):
    """The pair kernel must reproduce the strict left fold to the last
    ulp — compared via != on raw doubles (no rounding)."""
    a = emb.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"))
    pairs = a.join(F.broadcast(b.limit(50)), F.col("ida") < F.col("idb"))
    diff = pairs.select(
        S.dot(F.col("va"), F.col("vb")).alias("j"),
        AK.pair_dot(F.col("va"), F.col("vb")).alias("p"),
    ).filter(F.col("j") != F.col("p"))
    assert diff.count() == 0


def test_assign_nearest_plan_has_no_exchange(emb, cents):
    """The whole point: assignment is map-side — no shuffle, no
    join-back. The previous JVM plan shuffled N scalar pairs twice."""
    plan = (
        AK.assign_nearest(emb, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_keep_rank_contract_uniform_on_nprobe_1(emb, cents):
    """ADVICE r7: keep_rank=True used to be silently ignored on the
    nprobe=1 fast path; it now attaches a constant probe_rank=1 so sweep
    callers filter the same column on every arm."""
    out = S.ivf_assign(emb, cents, nprobe=1, keep_rank=True)
    assert "probe_rank" in out.columns
    assert out.filter(F.col("probe_rank") != 1).count() == 0


def test_strict_scores_is_a_strict_left_fold_not_blas():
    """Construct a case where pairwise/BLAS summation differs from the
    sequential fold: alternating large/small magnitudes. The kernel must
    equal the explicit python-loop fold, not np.dot."""
    rng = [1e16, 1.0, -1e16, 1.0] * 16  # d=64
    v = np.array(rng)
    c = np.ones(64)
    seq = 0.0
    for x in v * c:
        seq = seq + x
    got = AK._strict_scores(v[None, :], c[None, :], "l2sq")
    # l2sq path: fold of (v-c)^2 — compute the sequential reference
    seq2 = 0.0
    for x in (v - c) * (v - c):
        seq2 = seq2 + x
    assert got[0, 0] == seq2
    # cosine dot path via pair kernel math
    acc = np.zeros(1)
    A, B = v[None, :], c[None, :]
    for j in range(64):
        acc += A[:, j] * B[:, j]
    assert acc[0] == seq


def test_two_level_routing_matches_jvm_seed_construction(cents):
    """The numpy md5-seed pick must equal the JVM's orderBy(md5) limit."""
    import hashlib

    rows = sorted(cents.select("centroid_id", "_centroid").collect(), key=lambda r: r[0])
    cids = [r[0] for r in rows]
    m = max(2, int(len(cids) ** 0.5))
    by_h = sorted(cids, key=lambda c: hashlib.md5(str(c).encode()).hexdigest())[:m]
    jvm_seeds = {
        r[0]
        for r in cents.withColumn("_h", F.md5(F.col("centroid_id").cast("string")))
        .orderBy("_h")
        .limit(m)
        .select("centroid_id")
        .collect()
    }
    assert set(by_h) == jvm_seeds


def test_assign_nearest_l2sq_with_score(spark, emb):
    """kmeans shape: l2sq metric + score column, custom col names."""
    cent = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c")
    )
    out = AK.assign_nearest(
        emb.select("vec_id", F.col("embedding").alias("v")),
        cent,
        vec_col="v",
        metric="l2sq",
        cid_col="cid",
        cvec_col="c",
        out_cid_col="cid",
        score_col="dist",
    )
    rows = out.filter(F.col("vec_id") < 4).select("vec_id", "cid", "dist").collect()
    # each seed vector's nearest centroid is itself at distance 0
    for r in rows:
        assert r["cid"] == r["vec_id"]
        assert r["dist"] == 0.0


def test_pq_assign_codes_matches_jvm_exactly(spark, emb):
    """The fused PQ kernel (all M subspace codes in one Arrow pass) must
    equal the JVM slice->explode->broadcast-join->min_by chain code for
    code — same strict l2sq fold per subspace slice, same
    min_by(struct(d2, cid)) tie-break."""
    M, DIM = 4, 64
    cb = S.pq_codebook(emb, num_subspaces=M, num_centroids=8, dim=DIM, iterations=1)
    cb = cb.persist()
    cb.count()
    jvm = {
        (r[0], r[1]): r[2]
        for r in S._pq_assign_jvm(
            S._pq_slices(emb, M, DIM), cb
        ).collect()
    }
    arw = {
        (r[0], r[1]): r[2]
        for r in S.pq_encode(emb, cb, num_subspaces=M, dim=DIM).collect()
    }
    cb.unpersist()
    assert jvm == arw


def test_lsh_signature_matches_jvm_exactly(spark, emb):
    """The Arrow sign-LSH signature must bucket every vector identically
    to the JVM per-plane fold form — sign flips are exactly the rounding
    sensitivity the strict-fold contract exists to prevent."""
    for planes, offset in [(8, 0), (12, 0), (4, 7)]:
        jvm = _as_map(
            emb.select(
                "vec_id",
                S._random_hyperplane_signature_jvm(
                    F.col("embedding"), planes, 64, offset
                ).alias("b"),
            ).collect()
        )
        arw = _as_map(
            emb.select(
                "vec_id",
                S.random_hyperplane_signature(
                    F.col("embedding"), planes, 64, offset
                ).alias("b"),
            ).collect()
        )
        assert jvm == arw, f"planes={planes} offset={offset}"


def test_codebook_collect_guard_raises_past_bound(spark, emb, cents, monkeypatch):
    """The driver-side codebook collect is the kernels' one scale bound
    (SemDeDup's k=⌈N/64⌉ outgrows it near N≈6×10⁷ distinct vectors):
    past CODEBOOK_COLLECT_MAX the flat kernel must raise (exact-argmax
    semantics have no silent substitute), not OOM the driver — and the
    limit(max+1) plan means at most max+1 rows ever land driver-side
    even when the guard fires."""
    k = cents.count()
    monkeypatch.setattr(AK, "CODEBOOK_COLLECT_MAX", k - 1)
    with pytest.raises(AK.CodebookTooLarge, match="CODEBOOK_COLLECT_MAX"):
        AK.assign_nearest(emb, cents)
    # exactly at the bound: no raise, same assignment as before the guard
    monkeypatch.setattr(AK, "CODEBOOK_COLLECT_MAX", k)
    assert AK.assign_nearest(emb, cents).count() == emb.count()


def test_distributed_route_matches_kernel(spark, emb, cents, monkeypatch):
    """Past the bound, assign_nearest_two_level must auto-route to the
    distributed form (coarse kernel + shuffle-join fine argmax) and
    return BIT-IDENTICAL assignments — same md5 seed pick, routing,
    tie/NaN contract, and empty-group drops — including zero-norm
    vectors, whose all-NaN scores route to the min gid/cid exactly like
    numpy's first-NaN argmax."""
    from pyspark.sql import Row

    zero = spark.createDataFrame(
        [Row(vec_id=999_000_001, embedding=[0.0] * 64)]
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    probe = emb.select("vec_id", "embedding").unionByName(zero)
    want = _as_map(
        AK.assign_nearest_two_level(probe, cents)
        .select("vec_id", "centroid_id")
        .collect()
    )
    monkeypatch.setattr(AK, "CODEBOOK_COLLECT_MAX", cents.count() - 1)
    got_df = AK.assign_nearest_two_level(probe, cents)
    got = _as_map(got_df.select("vec_id", "centroid_id").collect())
    assert got == want
    assert [f.name for f in got_df.schema.fields] == ["vec_id", "embedding", "centroid_id"]
    assert 999_000_001 in got  # the zero vector routed, not dropped/crashed


def test_assign_nearest_random_vectors_with_duplicate_centroids(spark):
    """Bit-exactness on ADVERSARIAL inputs, not just the parquet corpus:
    random float32 vectors (mixed magnitudes) against a codebook with
    DUPLICATED centroid vectors — every score ties across the clones and
    the min-cid rule must pick identically on both sides. (Zero-norm
    centroids are tested separately below: the retained JVM twin
    predates the zero-norm hardening and raises ANSI DIVIDE_BY_ZERO
    there, so it can't serve as the reference for that case.)"""
    import random

    from pyspark.sql import Row

    rng = random.Random(23)

    def vec(scale):
        return [float(f"{rng.uniform(-scale, scale):.6g}") for _ in range(16)]

    rows = [Row(vec_id=i, embedding=vec(10 ** (i % 5 - 2))) for i in range(120)]
    emb = spark.createDataFrame(rows).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    base = [vec(1.0) for _ in range(5)]
    cent_rows = [Row(centroid_id=i, _centroid=base[i]) for i in range(5)] + [
        # clones of centroid 0 at higher ids: ties MUST resolve to id 0
        Row(centroid_id=10 + j, _centroid=list(base[0]))
        for j in range(3)
    ]
    cents = spark.createDataFrame(cent_rows).select(
        "centroid_id", F.col("_centroid").cast("array<double>").alias("_centroid")
    )
    got = _as_map(
        AK.assign_nearest(emb, cents).select("vec_id", "centroid_id").collect()
    )
    want = _as_map(
        S._ivf_assign1_jvm(emb, cents).select("vec_id", "centroid_id").collect()
    )
    assert got == want
    # no assignment may land on a clone id — min-cid tie rule
    assert not any(v in (10, 11, 12) for v in got.values())

    # NaN contract, kernel-side (documented in the module docstring): a
    # zero-norm CENTROID's column scores 0/0 = NaN for every vector, and
    # NaN > every double in the argmax — so its presence attracts ALL
    # assignments. Deliberate JVM-max_by-parity semantics; the guard
    # against it in practice is that real codebooks come from Lloyd
    # means of non-degenerate cells.
    cents_zero = spark.createDataFrame(
        cent_rows + [Row(centroid_id=99, _centroid=[0.0] * 16)]
    ).select(
        "centroid_id", F.col("_centroid").cast("array<double>").alias("_centroid")
    )
    got_zero = _as_map(
        AK.assign_nearest(emb, cents_zero).select("vec_id", "centroid_id").collect()
    )
    assert set(got_zero.values()) == {99}


def test_pair_dot_random_vectors_bit_exact(spark):
    """pair_dot (Arrow strict fold) vs similarity.dot (JVM fold) on random
    mixed-magnitude float pairs — exact equality, no tolerance. Catches
    any accidental reorder (BLAS, pairwise summation) on values where
    addition order visibly matters."""
    import random

    from pyspark.sql import Row

    from sql_query_engine_rs_spark.functions.similarity import dot

    rng = random.Random(29)
    rows = [
        Row(
            i=i,
            a=[rng.uniform(-10 ** (i % 7 - 3), 10 ** (i % 7 - 3)) for _ in range(48)],
            b=[rng.uniform(-1, 1) for _ in range(48)],
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(rows)
    out = df.select(
        "i",
        AK.pair_dot(F.col("a"), F.col("b")).alias("k"),
        dot(F.col("a"), F.col("b")).alias("j"),
    ).collect()
    assert all(r.k == r.j for r in out), [
        (r.i, r.k, r.j) for r in out if r.k != r.j
    ][:5]


def test_local_codebook_fast_path_matches_collect_path(spark, emb, cents):
    """ivf_centroids (k <= bound) returns a local_codebook frame whose
    driver-side rows ride a DataFrame attribute; codebook_rows must read
    them bit-identically to collecting the frame through Spark — and any
    transformation (here select) drops the attribute, forcing the
    collect path, so both routes are exercised against each other."""
    rows, cols = cents._sgr_codebook
    assert cols == ("centroid_id", "_centroid")
    # attribute rows == the frame's actual rows
    frame_rows = sorted((r.centroid_id, list(r._centroid)) for r in cents.collect())
    assert sorted(rows) == frame_rows
    assert AK.codebook_rows(cents, cols) is rows
    # assignment through the fast path == through the collect path
    stripped = cents.select("centroid_id", "_centroid")  # attribute lost
    assert getattr(stripped, "_sgr_codebook", None) is None
    fast = _as_map(AK.assign_nearest(emb, cents).select("vec_id", "centroid_id").collect())
    slow = _as_map(AK.assign_nearest(emb, stripped).select("vec_id", "centroid_id").collect())
    assert fast == slow


def test_pq_local_codebook_fast_path_matches_collect_path(spark, emb):
    """pq_codebook's local-relation book (attribute rows) must encode
    bit-identically to the same book with the attribute stripped (the
    limit+collect path)."""
    cb = S.pq_codebook(emb, num_subspaces=4, num_centroids=8, iterations=1)
    rows, cols = cb._sgr_codebook
    assert cols == ("m", "centroid_id", "_centroid")
    frame_rows = sorted((r.m, r.centroid_id, list(r._centroid)) for r in cb.collect())
    assert sorted(tuple(t) for t in rows) == frame_rows
    stripped = cb.select("m", "centroid_id", "_centroid")
    fast = {
        (r.vec_id, r.m): r.code
        for r in S.pq_encode(emb, cb, num_subspaces=4).collect()
    }
    slow = {
        (r.vec_id, r.m): r.code
        for r in S.pq_encode(emb, stripped, num_subspaces=4).collect()
    }
    assert fast == slow


def test_pq_codebook_refuses_oversized_book(spark, emb, monkeypatch):
    """A PQ book past CODEBOOK_COLLECT_MAX rows (M·ks) is refused up front:
    every consumer (pq_encode, hence pq_topk) holds the book driver-side,
    so building one that large would only burn jobs on a book nothing can
    use. No Spark job may run before the raise."""
    monkeypatch.setattr(AK, "CODEBOOK_COLLECT_MAX", 4 * 8 - 1)
    sc = spark.sparkContext
    group = "pq-oversized-book"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(AK.CodebookTooLarge, match="CODEBOOK_COLLECT_MAX"):
            S.pq_codebook(emb, num_subspaces=4, num_centroids=8, iterations=1)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
