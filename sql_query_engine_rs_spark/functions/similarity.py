"""Similarity search over embedding columns (array<float>).

No counterpart in the reference (no array types at all —
src/types/mod.rs:57,75 panics on non-scalar Arrow types). Extension surface
for the training-data pipeline.

Scale design
------------
- ``cosine`` is a pure JVM higher-order-function expression (zip_with +
  aggregate): no Python, no UDF, vectorizes inside codegen.
- ``brute_force_topk`` broadcasts the (small) query set against the corpus —
  one map-side pass over the corpus + a per-query top-k (window with
  partition-local limit). Exact; linear in |corpus| × |queries|.
- ``random_hyperplane_buckets`` + ``lsh_topk`` is the approximate scale path:
  sign-LSH buckets shrink the candidate set so the join is bucket-local.
  Projections are derived deterministically from (plane, dim) via a hash so
  the operator needs no stored model/state — any executor recomputes the same
  planes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sql_query_engine_rs_spark.functions.expressions import portable_round
from sql_query_engine_rs_spark.functions.partitioning import ensure_parallelism as _ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a JVM expression. Inputs are cast to array<double> BEFORE
    multiplying — float32 products would lose ~1e-7 of precision and break
    cross-engine (DuckDB-oracle) agreement; double math agrees to ~1e-16."""
    ad, bd = a.cast("array<double>"), b.cast("array<double>")
    return F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    ad = a.cast("array<double>")
    return F.sqrt(F.aggregate(ad, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries`` must be small (it is broadcast); the corpus streams through
    map-side. Output: (query_id, <id_col>, cos_sim, rank), self-matches
    excluded, rank by (cos_sim desc, id) for determinism.
    """
    q = queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qv"))
    c = _ensure_parallelism(corpus).select(F.col(id_col), F.col(vec_col).alias("_cv"))
    scored = c.join(F.broadcast(q), on=F.col(query_id_col) != F.col(id_col)).select(
        query_id_col,
        id_col,
        portable_round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ------------------------------------------------------------ LSH scale path

def hyperplane_coeffs(num_planes: int, dim: int, plane_offset: int = 0) -> list[list[float]]:
    """±1 hyperplane coefficient matrix: coefficient (p, i) is +1 iff the
    top bit of md5("p:i")'s first hex nibble is set.

    The planes are pure functions of (plane index, dimension index), so they
    are computed ONCE driver-side and compiled into the plan as literal
    arrays — zero per-row hashing, and nothing to broadcast or store. Any
    engine reproduces them from the same public construction (the DuckDB
    oracle embeds the identical literals), unlike a Murmur3-seeded variant.

    ``plane_offset`` shifts the plane indices (planes offset..offset+n-1),
    giving OR-amplified multi-table LSH an independent plane set per table
    from the same stateless construction.
    """
    return [
        [
            1.0 if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0], 16) >= 8 else -1.0
            for i in range(dim)
        ]
        for p in range(plane_offset, plane_offset + num_planes)
    ]


def random_hyperplane_signature(
    vec: Column, num_planes: int = 8, dim: int = 64, plane_offset: int = 0
) -> Column:
    """Sign-LSH signature: bit b = sign(vec · plane_b) with ±1-coefficient
    hyperplanes (literal matrix, see ``hyperplane_coeffs``). ``dim`` must
    equal the vector length. Returns an int bucket id in [0, 2^num_planes).

    Cross-engine note: the projection is a left fold in array order starting
    at 0.0 — DuckDB's ``list_reduce`` reproduces the identical rounding
    sequence, so the sign (hence the bucket) matches bit for bit. Products
    are exact (±1 × a float32-exact double), leaving summation order as the
    only rounding source.

    Since round 8 this is an Arrow pandas_udf over the plane matrix
    (strict per-dimension accumulation — the arrow_kernels fold
    contract), replacing num_planes interpreted JVM folds per row: the
    signature pass was ~all of pipe_embedding_near_dup_auto's x100 time.
    Bit-exact to the retained JVM form ``_random_hyperplane_signature_jvm``
    (exact-equality pinned in tests/test_arrow_kernels.py): same fold
    order, and sign(NaN/anything >= 0) is False on both sides. The
    wrong-length guard raises in the worker (ValueError) where the JVM
    form raised via assert_true — same failure semantics, no silent
    bucket-0 collapse.
    """
    import numpy as np

    P = np.array(hyperplane_coeffs(num_planes, dim, plane_offset), dtype=np.float64)
    weights = np.array([1 << p for p in range(num_planes)], dtype=np.int64)

    def _sig_fn(series):
        import numpy as np
        import pandas as pd

        V = np.stack(series.to_numpy()).astype(np.float64, copy=False)
        if V.shape[1] != P.shape[1]:
            raise ValueError(
                f"LSH vector length != dim={P.shape[1]}: got {V.shape[1]}"
            )
        acc = np.zeros((len(V), len(P)))
        for j in range(P.shape[1]):
            acc += np.multiply.outer(V[:, j], P[:, j])
        return pd.Series(((acc >= 0).astype(np.int64) @ weights).astype(np.int32))

    return pandas_udf(_sig_fn, "int")(vec)


def _random_hyperplane_signature_jvm(
    vec: Column, num_planes: int = 8, dim: int = 64, plane_offset: int = 0
) -> Column:
    """The pre-round-8 JVM signature (one interpreted fold per plane),
    retained as the Arrow form's exact-equality reference twin.

    A runtime guard raises on any vector whose length differs from ``dim``:
    zip_with would null-pad the mismatch, the projection would go NULL, and
    every plane sign would silently evaluate to 0 — collapsing all rows into
    bucket 0 and degrading LSH to a full cross join with no error.
    """
    vd = vec.cast("array<double>")
    guard = F.assert_true(
        F.size(vd) == dim,
        F.concat(F.lit(f"LSH vector length != dim={dim}: got "), F.size(vd).cast("string")),
    )

    def plane_sign(p: int, coeffs: list[float]) -> Column:
        # one F.expr per plane, not 64 F.lit py4j calls — the literal matrix
        # is big enough that per-element Column construction costs ~1 s of
        # driver time per operator build (measured); the parsed expr is the
        # identical literal array
        plane = F.expr("array(" + ",".join(f"{c:.1f}D" for c in coeffs) + ")")
        proj = F.aggregate(
            F.zip_with(vd, plane, lambda x, c: x * c), F.lit(0.0), lambda acc, x: acc + x
        )
        return F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))

    sig = F.lit(0)
    for p, coeffs in enumerate(hyperplane_coeffs(num_planes, dim, plane_offset)):
        sig = sig + plane_sign(p, coeffs)
    # assert_true returns NULL on success; adding its int cast (coalesced to
    # 0) fuses the guard into the same projection without changing the value
    return sig + F.coalesce(guard.cast("int"), F.lit(0))


def random_hyperplane_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 8,
    bucket_col: str = "bucket",
    dim: int = 64,
    plane_offset: int = 0,
) -> DataFrame:
    """Attach the sign-LSH bucket id (map-only)."""
    return df.withColumn(
        bucket_col, random_hyperplane_signature(F.col(vec_col), num_planes, dim, plane_offset)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    then exact cosine rank within candidates. With ``num_planes`` p, the
    candidate set shrinks ~2^p-fold; recall is tunable via p (and multiple
    tables if needed). Output schema matches ``brute_force_topk``."""
    cb = random_hyperplane_buckets(corpus, vec_col, num_planes)
    qb = random_hyperplane_buckets(queries, vec_col, num_planes).select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qv"), F.col("bucket")
    )
    scored = (
        cb.join(F.broadcast(qb), on="bucket")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(query_id_col, id_col, portable_round(cosine(F.col("_qv"), F.col(vec_col)), 6).alias("cos_sim"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# Largest LSH-bucket population the direct all-member self-join accepts
# before knn_graph switches to the exact-clone collapse: auto-planes hold
# healthy buckets at ~64, so 4096 (64×target, ≤16M within-bucket pairs —
# one comfortable task) only trips under a genuine flood, where the
# collapse's fixed extra exchanges are noise against the avoided c² block.
KNN_CLONE_COLLAPSE_TRIGGER = 4096


def pair_cosine_guarded(arrow: bool) -> Column:
    """cos(a._v, b._v) over a self-join of (_v vector, _n norm) frames
    aliased ``a``/``b``, NULL where either norm is zero.

    The guard is there for ANSI mode (on in this engine's sessions): an
    unguarded 0/0 would throw, while ``when`` evaluates the division only
    on non-degenerate pairs, so a zero vector's pairs get NULL and drop at
    the caller's filter. ``arrow`` picks the kernel — the Arrow pair dot
    (``arrow_kernels.pair_cosine``) or the in-place JVM fold ``dot`` —
    and both are bit-exact, so the choice is invisible to outputs (see
    ``dedup.PAIR_VERIFY_ARROW_MIN`` for the measured crossover)."""
    from sql_query_engine_rs_spark.functions.arrow_kernels import pair_cosine

    av, bv, an, bn = F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
    return F.when(
        an * bn != 0, pair_cosine(av, bv, an, bn) if arrow else dot(av, bv) / (an * bn)
    )


def _knn_buckets(
    df: DataFrame, num_planes: int | None, id_col: str, vec_col: str
) -> tuple[DataFrame, bool]:
    """The persisted (_id, _v, _n, bucket) frame both ``knn_graph`` forms
    self-join (``num_planes=None`` derives ceil(log2(N/64)) from one
    count() probe), and whether N is past ``dedup.PAIR_VERIFY_ARROW_MIN``
    (the kernel choice for ``pair_cosine_guarded``).

    The frame is persisted because the self-join reads it on BOTH sides,
    and an unpersisted bucket column would re-evaluate the signature pass
    per side (2·N plane folds — measured +0.8 s per evaluation at sf0.1
    after the Arrow signature swap). Callers materialize it."""
    from sql_query_engine_rs_spark.functions.caching import persist_tracked
    from sql_query_engine_rs_spark.functions.dedup import (
        PAIR_VERIFY_ARROW_MIN,
        auto_num_planes,
    )

    base = _ensure_parallelism(df)
    n_vecs = base.count()
    if num_planes is None:
        num_planes = auto_num_planes(n_vecs)
    bkt = persist_tracked(
        base.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            norm(F.col(vec_col)).alias("_n"),
            random_hyperplane_signature(F.col(vec_col), num_planes).alias("bucket"),
        )
    )
    return bkt, n_vecs >= PAIR_VERIFY_ARROW_MIN


def _knn_topk_direct(bkt: DataFrame, k: int, arrow: bool) -> DataFrame:
    """Score every within-bucket member pair of a ``_knn_buckets`` frame
    and take the per-source top-k — the healthy-bucket path of
    ``knn_graph`` (and the whole of the retained ``_knn_graph_direct``
    twin)."""
    cos_expr = pair_cosine_guarded(arrow)
    a, b = bkt.alias("a"), bkt.alias("b")
    scored = (
        a.join(b, on="bucket")
        .filter(F.col("a._id") != F.col("b._id"))
        .select(
            F.col("a._id").alias("src_id"),
            F.col("b._id").alias("nbr_id"),
            portable_round(cos_expr, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
    )
    w = Window.partitionBy("src_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "nbr_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def knn_graph(
    df: DataFrame,
    k: int = 4,
    num_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus-wide k-NN graph within sign-LSH buckets — the primitive under
    SNN/agglomerative clustering, graph-based dedup, and diversity
    sampling: every vector gets its approximate top-k neighbors, built
    WITHOUT a global all-pairs pass.

    Unlike ``lsh_topk`` (small query set, broadcast), both sides here are
    the full corpus, so the shape is ``dedup.embedding_cosine_dups_lsh``'s
    candidates-never-exchange discipline: the bucket self-join carries
    each vector and its norm, the cosine evaluates INLINE in the join
    stage (the same measured fold/Arrow crossover — see
    ``dedup.PAIR_VERIFY_ARROW_MIN``), and only the skinny scored triples
    (src, nbr, cos) reach the top-k window's exchange, which keys on the
    unique source id (no skew by construction). The earlier skinny-
    candidate form joined (id, bucket) pairs and joined vectors back by
    id — two candidate-volume exchanges widened to two vectors a row; at
    the x300 rehearsal (600k vectors, ~37M candidates) that spilled and
    read 106 s vs ~35 s for this plan. Candidates per vector ~= bucket
    population, so ``num_planes=None`` derives ceil(log2(N/64)) from a
    count() probe to hold bucket populations (hence per-vector candidate
    counts and per-bucket join cost) constant at any corpus size.

    Directed output (a's top-k is not b's): (src_id, nbr_id, cos_sim,
    rank), rank 1..k by cosine desc, ties to the lower neighbor id.
    Neighbors outside every shared bucket are missed — recall tracks the
    same 1-(1-p^planes) curve as the near-dup operator; add OR-tables
    upstream if a use case needs more.

    Exact-clone collapse (round 10, flood-routed): identical vectors
    share a bucket BY CONSTRUCTION, so a planted clone block of size c
    used to densify its bucket's self-join quadratically (c² kernel
    pairs — the 1.28× skew ratio the graph family's assortativity
    rehearsal measured). When a bucket-population probe (one skinny
    map-side-combinable count over the persisted bucket frame) finds a
    bucket past ``KNN_CLONE_COLLAPSE_TRIGGER``, scoring runs once per
    DISTINCT-vector pair: rows group on the vector itself (exact array
    equality — never a hash, a 64-bit collision would silently merge
    different vectors), one representative per group enters the bucket
    self-join, and per-member results expand from two bounded lists —
    the group's k+1 smallest member ids as mutual 1.0-neighbors
    (cos(v,v) ∈ 1±2ulp always rounds to 1.0 at 6dp) and the group's
    top-k cross-group candidates (identical for every member, since
    score is a function of the vector alone). Each member therefore
    costs O(k) rows, never O(c): the c² term is gone from scoring,
    sorting, and the top-k exchange alike. Degenerate vectors (zero/inf
    norm, NaN components — where cos(v,v) would NOT round to 1.0) stay
    singleton groups and keep their exact legacy scores through the
    same kernel expression.

    The routing is a PURE performance choice: both paths are
    bit-identical (pinned on planted clone/zero/NaN corpora in
    tests/test_pipeline_ops.py with the trigger forced to 0), so a
    mis-detection can only cost time, never correctness. Under the
    trigger the direct all-member plan runs — on healthy corpora
    (auto-planes hold buckets ~64) the collapse's three extra
    exchanges (vector-keyed group window, head aggregation, member
    join-back) measured +1–3.5 s per sf0.1 query for zero benefit;
    past the trigger those fixed costs are noise against the avoided
    c² block.
    """
    from sql_query_engine_rs_spark.functions.caching import persist_tracked

    bkt, arrow = _knn_buckets(df, num_planes, id_col, vec_col)
    # One job materializes the persist AND probes the flood trigger: the
    # groupBy computes every partition of the persisted frame (populating
    # the cache as a side effect), so a separate bkt.count() materialization
    # pass would be a second full job over the same data on EVERY
    # kNN-family query (r10 verdict item 6).
    max_pop = (
        bkt.groupBy("bucket").agg(F.count(F.lit(1)).alias("_c")).agg(F.max("_c")).first()[0]
        or 0
    )
    if max_pop <= KNN_CLONE_COLLAPSE_TRIGGER:
        return _knn_topk_direct(bkt, k, arrow)

    # Collapse-eligible = cos(v,v) provably rounds to 1.0 at 6dp: finite
    # nonzero norm, no NaN component. Everything else (zero vectors whose
    # pairs all drop, inf/NaN vectors whose legacy scores are 0.0/NaN)
    # rides as singleton groups through the identical kernel expression.
    # NULL-safe: a NULL norm/vector makes `eligible` NULL, which must
    # route to the singleton side, not vanish.
    eligible = F.coalesce(
        (F.col("_n") > 0)
        & (F.col("_n") != float("inf"))
        & ~F.exists(F.col("_v"), F.isnan),
        F.lit(False),
    )
    wg = Window.partitionBy("_v")
    # One vector-keyed exchange labels members: group id = min member id,
    # _rn = member's rank within the group (head = the k+1 smallest ids,
    # enough for any member's k clone-mates).
    labeled = persist_tracked(
        bkt.filter(eligible)
        .withColumn("_gid", F.min("_id").over(wg))
        .withColumn("_rn", F.row_number().over(wg.orderBy("_id")))
    )
    labeled.count()
    singles = bkt.filter(~eligible).select(
        F.col("_id").alias("_gid"), "_v", "_n", "bucket"
    )
    reps = persist_tracked(
        labeled.filter(F.col("_rn") == 1)
        .select("_gid", "_v", "_n", "bucket")
        .unionByName(singles)
    )
    reps.count()
    heads = labeled.filter(F.col("_rn") <= k + 1).groupBy("_gid").agg(
        F.array_sort(F.collect_list("_id")).alias("_head")
    ).unionByName(
        singles.select("_gid", F.array(F.col("_gid")).alias("_head"))
    )
    members = labeled.select("_id", "_gid").unionByName(
        singles.select(F.col("_gid").alias("_id"), "_gid")
    )

    # a degenerate vector's pairs get NULL cos_sim and drop below
    cos_expr = pair_cosine_guarded(arrow)
    a, b = reps.alias("a"), reps.alias("b")
    pair_scored = (
        a.join(b, on="bucket")
        .filter(F.col("a._gid") != F.col("b._gid"))
        .select(
            F.col("a._gid").alias("_src_g"),
            F.col("b._gid").alias("_nbr_g"),
            portable_round(cos_expr, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
    )
    # Per src GROUP: explode the neighbor group's head ids and keep the
    # group-level top-k — every member's cross-group top-k is a subset
    # (candidates beyond a group's k smallest ids, or beyond the k best
    # (score, id) group candidates, are dominated for every member).
    wc = Window.partitionBy("_src_g").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    cand = (
        pair_scored.join(heads.withColumnRenamed("_gid", "_nbr_g"), on="_nbr_g")
        .select("_src_g", F.explode("_head").alias("nbr_id"), "cos_sim")
        .withColumn("_cr", F.row_number().over(wc))
        .filter(F.col("_cr") <= k)
        .select(F.col("_src_g").alias("_gid"), "nbr_id", "cos_sim")
    )
    cross = members.join(cand, on="_gid").select(
        F.col("_id").alias("src_id"), "nbr_id", "cos_sim"
    )
    mates = (
        labeled.select("_id", "_gid")
        .join(heads, on="_gid")
        .select("_id", F.explode("_head").alias("nbr_id"))
        .filter(F.col("nbr_id") != F.col("_id"))
        .select(
            F.col("_id").alias("src_id"),
            "nbr_id",
            F.lit(1.0).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    return (
        cross.unionByName(mates)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "nbr_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def _knn_graph_direct(
    df: DataFrame,
    k: int = 4,
    num_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The pre-round-10 all-member bucket self-join form of ``knn_graph``
    (every member pair scored — c² under a planted clone block), retained
    as the reference twin for the clone-collapse exact-equality pin in
    tests/test_pipeline_ops.py. This is also exactly ``knn_graph``'s own
    healthy-bucket path (shared ``_knn_topk_direct``), minus the
    bucket-population probe. Validation-only: not registered, not called
    by any query builder."""
    bkt, arrow = _knn_buckets(df, num_planes, id_col, vec_col)
    bkt.count()
    return _knn_topk_direct(bkt, k, arrow)


# ------------------------------------------------------------ IVF scale path

def _ivf_seed_rank(corpus: DataFrame, num_centroids: int, id_col: str = "vec_id") -> DataFrame:
    """(centroid_id int, <id_col>) for the ``num_centroids`` corpus ids
    with the lexicographically smallest md5(id) — ``ivf_centroids``' seed
    rank, computed two-level distributed for the k > CODEBOOK_COLLECT_MAX
    regime where the GlobalLimit + single-task-window form would drag
    ~0.5 GB of vectors through one task.

    The two-level pattern is queries._bucketed_ntile's offset machinery
    specialized to the md5 domain: bucket on the NUMERIC value of the
    first two hex chars (``conv(prefix, 16, 10)`` — 256 fixed buckets;
    the hash is uniform over its domain, so no min/max stats pass is
    needed and every bucket draws ~N/256 rows by construction), ORDER by
    the full hex within each bucket, and add cross-bucket count offsets
    (one window over the ≤256-row bucket-totals frame — constant).
    Hex-prefix bucketing is monotone non-strict in the full-hex sort key,
    so global rank = offset + within-bucket row_number exactly, and the
    ids (and their centroid_id ranks) are bit-identical to the
    GlobalLimit form (pinned in tests/test_pipeline_ops.py:
    test_ivf_seed_rank_matches_globallimit_form; the hashlib ground-truth
    property lives in tests/test_properties.py).

    Buckets whose offset already reaches ``num_centroids`` are pruned
    BEFORE the within-bucket sort — with a uniform hash the k smallest
    rows live in the first ⌈256·k/N⌉ buckets, so the window sorts ~max(k,
    N/256) skinny (id, hash) rows across tasks instead of N vector rows
    in one. Only ids flow through the rank; callers join the k survivors
    back to the corpus for vectors.

    Precondition (same as ivf_centroids itself): ids are unique — a
    duplicated id duplicates its hash and neither form orders within the
    tie deterministically.
    """
    skinny = (
        corpus.select(F.col(id_col))
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .withColumn("_bkt", F.conv(F.substring("_h", 1, 2), 16, 10).cast("long"))
    )
    btot = skinny.groupBy("_bkt").agg(F.count(F.lit(1)).cast("long").alias("_bc"))
    w_off = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    off = btot.select(
        "_bkt",
        F.coalesce(F.sum("_bc").over(w_off), F.lit(0).cast("long")).alias("_off"),
    ).filter(F.col("_off") < num_centroids)
    w_in = Window.partitionBy("_bkt").orderBy("_h")
    return (
        skinny.join(F.broadcast(off), on="_bkt")
        .withColumn("_rn", F.row_number().over(w_in))
        .filter(F.col("_off") + F.col("_rn") <= num_centroids)
        .select(
            (F.col("_off") + F.col("_rn") - 1).cast("int").alias("centroid_id"),
            id_col,
        )
    )


_IVF_BOOK = "centroid_id int, _centroid array<double>"
_PQ_BOOK = "m int, centroid_id int, _centroid array<double>"


def md5_seed_vectors(
    corpus: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """The ``k`` corpus vectors (as double lists) with the smallest
    md5(id), in md5 order — the stateless seed sample of every codebook
    build (any executor, run or engine picks the same ones). ONE
    TakeOrderedAndProject job collected straight to the driver: k is
    codebook-bounded. Python's str ordering over lowercase hex equals
    Spark's UTF8 ordering, so the driver-side sort is belt-and-braces
    over the already-ordered take."""
    rows = (
        corpus.select(
            F.md5(F.col(id_col).cast("string")).alias("_h"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy("_h")
        .limit(k)
        .collect()
    )
    rows.sort(key=lambda r: r["_h"])
    return [list(r["_v"]) for r in rows]


def lloyd_means(assigned: DataFrame, keys: list[str], vec, out_col: str) -> DataFrame:
    """(keys..., out_col array<double>): the element-wise mean of ``vec``
    per ``keys`` group — the Lloyd update. posexplode is map-side and the
    partial aggregation collapses it to ≤ groups·dim rows per partition
    before the one (keys, pos)-keyed exchange, so vectors never shuffle;
    the array reassembles in position order."""
    return (
        assigned.select(*keys, F.posexplode(vec).alias("pos", "_x"))
        .groupBy(*keys, "pos")
        .agg(F.avg("_x").alias("_x"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_x"))), lambda s: s["_x"]
            ).alias(out_col)
        )
    )


def nearest_cell(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str, two_level: bool
) -> DataFrame:
    """df + its nearest centroid_id: ``ivf_assign_two_level`` past the
    caller's hierarchy crossover, else ``ivf_assign(nprobe=1)``."""
    if two_level:
        return ivf_assign_two_level(df, centroids, id_col=id_col, vec_col=vec_col)
    return ivf_assign(df, centroids, nprobe=1, id_col=id_col, vec_col=vec_col)


def ivf_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hierarchical_assign: bool = False,
) -> DataFrame:
    """Deterministic IVF codebook: seed centroids are the ``num_centroids``
    corpus vectors with the smallest md5(id) (a stateless uniform sample —
    any executor/run picks the same ones), optionally refined with Lloyd
    iterations done entirely in DataFrame ops (assign → per-cell
    element-wise mean via posexplode/groupBy/sort-reassemble).

    Returns (centroid_id int, _centroid array<double>). k is small (100s to
    ~65k at 100 TB scale) so the codebook broadcasts everywhere downstream;
    each Lloyd iteration costs one N·k scoring pass + one (cell, dim) shuffle
    whose cardinality is k·dim — trivial.

    The corpus is re-parallelized up front: the N·k Lloyd scoring pass is
    the most CPU-dense loop in the module (higher-order-function cosines),
    and inheriting a small parquet file's 1-2 scan partitions serializes it
    onto as many tasks (measured 24 s vs 2 s for the identical pass at
    proper parallelism).

    ``hierarchical_assign=True`` routes each Lloyd iteration's assignment
    through ``ivf_assign_two_level`` (N·2·sqrt(k) instead of N·k) — the
    codebook-build half of the k ∝ N scale fix: once cells are held
    bounded by growing k with the corpus, the Lloyd pass is otherwise the
    REMAINING O(N²) term (the final assignment alone going hierarchical
    halves the constant but not the asymptotics). Routing is slightly
    approximate, so the resulting centroids differ from the brute build —
    callers with static oracles keep the default.

    Seed ranking routes on k, the same bound as every other codebook
    collect: at k ≤ ``arrow_kernels.CODEBOOK_COLLECT_MAX`` the seeds are
    one ``md5_seed_vectors`` take of ≤65k vector rows (≈34 MB) held as a
    ``local_codebook``, and each refined book goes back through
    ``local_codebook`` too. Past the bound (the k≈10⁶ hierarchical
    regime, where one task would drag ~0.5 GB) ``_ivf_seed_rank``
    computes the identical ids two-level distributed — no GlobalLimit,
    no single-task window (bit-identity pinned in
    tests/test_pipeline_ops.py:test_ivf_seed_rank_matches_globallimit_form,
    plan in test_ivf_seed_rank_plan_has_no_globallimit).
    """
    from sql_query_engine_rs_spark.functions.arrow_kernels import (
        CODEBOOK_COLLECT_MAX,
        local_codebook,
    )

    # the un-repartitioned input: the seed take is a per-partition top-k +
    # driver merge and needs no parallel CPU, so reading it here skips
    # executing ensure_parallelism's round-robin exchange inside the seed
    # job (the global md5 rank is partitioning-independent — same rows)
    raw_corpus = corpus
    corpus = _ensure_parallelism(corpus)
    spark = corpus.sparkSession
    local = num_centroids <= CODEBOOK_COLLECT_MAX
    if local:
        # one take job brings the k seeds to the driver, where every
        # consumer of the book reads them (arrow_kernels.codebook_rows)
        seeds = md5_seed_vectors(raw_corpus, num_centroids, id_col, vec_col)
        cents = local_codebook(spark, list(enumerate(seeds)), _IVF_BOOK)
    else:
        seed_ids = _ivf_seed_rank(corpus, num_centroids, id_col=id_col)
        # Broadcast the k-row id frame back onto the corpus while it is
        # broadcast-SIZED (~30 MB of (id, int) at k=10^6); past that the
        # hint would pin hundreds of MB per executor, so fall back to a
        # plain join and let the optimizer pick (a corpus shuffle is the
        # honest cost of a 10^7-centroid build — one id-keyed exchange).
        if num_centroids <= 2_000_000:
            seed_ids = F.broadcast(seed_ids)
        cents = (
            corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_centroid"))
            .join(seed_ids, on=id_col)
            .select("centroid_id", "_centroid")
            .localCheckpoint(eager=True)
        )
    for _ in range(iterations):
        assigned = nearest_cell(corpus, cents, id_col, vec_col, hierarchical_assign)
        means = lloyd_means(
            assigned, ["centroid_id"], F.col(vec_col).cast("array<double>"), "_centroid"
        )
        if local:
            # the refined book is k-bounded: collect it (one job — the
            # corpus pass itself) and keep it driver-side for the next
            # consumer instead of checkpointing + re-collecting
            book = sorted((int(r[0]), list(r[1])) for r in means.collect())
            cents = local_codebook(spark, book, _IVF_BOOK)
        else:
            cents = means.localCheckpoint(eager=True)
    return cents


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_rank: bool = False,
) -> DataFrame:
    """Attach each vector's ``nprobe`` nearest centroid ids (cosine).
    ``keep_rank=True`` (nprobe>1 path only) retains the probe order as
    ``probe_rank`` (1 = nearest cell) — a single max-nprobe assignment
    then serves every smaller nprobe by filtering ``probe_rank <= p``,
    which is what makes a one-pass nprobe sweep possible.

    Scoring is a broadcast cross join (N·k rows); the reduction to the
    nearest cell(s) is where scale is won or lost:

    - nprobe=1 (the corpus-assignment path, N huge): one Arrow
      ``mapInPandas`` pass over the corpus against the driver-collected
      (k-bounded) codebook — ``arrow_kernels.assign_nearest``. Zero
      shuffle (the row passes through with centroid_id attached) and
      ~50× less CPU than the previous N·k interpreted-fold crossJoin +
      max_by + join-back, bit-identical output (strict-fold order, same
      tie/NaN contract — pinned by tests/test_arrow_kernels.py against
      the retained JVM twin ``_ivf_assign1_jvm``).
    - nprobe>1 (the query-probe path, N small): row_number window — the
      shuffle keys on the unique vector id, so no skew by construction.

    ``keep_rank`` with nprobe=1 attaches a constant ``probe_rank``=1 so
    the contract holds uniformly (a sweep's p<=1 arm filters the same
    column it filters on every other arm).
    """
    if nprobe == 1:
        from sql_query_engine_rs_spark.functions.arrow_kernels import assign_nearest

        out = assign_nearest(df, centroids, id_col=id_col, vec_col=vec_col)
        if keep_rank:
            out = out.withColumn("probe_rank", F.lit(1))
        return out
    scored = df.crossJoin(F.broadcast(centroids)).select(
        "*", cosine(F.col(vec_col), F.col("_centroid")).alias("_cscore")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_cscore").desc(), F.col("centroid_id"))
    ranked = scored.withColumn("_crank", F.row_number().over(w)).filter(
        F.col("_crank") <= nprobe
    )
    if keep_rank:
        return ranked.withColumnRenamed("_crank", "probe_rank").drop(
            "_centroid", "_cscore"
        )
    return ranked.drop("_centroid", "_cscore", "_crank")


def _ivf_assign1_jvm(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The pre-round-8 JVM nprobe=1 assignment (N·k interpreted-fold
    crossJoin → map-side max_by partial agg → join-back). A test reference
    only: the independent twin the Arrow kernel is pinned exact-equal to
    (tests/test_arrow_kernels.py); no builder or operator routes here."""
    scored = df.select(id_col, vec_col).crossJoin(F.broadcast(centroids)).select(
        id_col,
        cosine(F.col(vec_col), F.col("_centroid")).alias("_cscore"),
        "centroid_id",
    )
    # tie-break = lowest centroid_id among equal scores (max of negated id)
    best = scored.groupBy(id_col).agg(
        F.max_by("centroid_id", F.struct(F.col("_cscore"), -F.col("centroid_id"))).alias("centroid_id")
    )
    return df.join(best, id_col)


def ivf_assign_two_level(
    df: DataFrame,
    centroids: DataFrame,
    coarse_m: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hierarchical (two-level) nearest-centroid assignment: group the k
    centroids into ``coarse_m`` coarse groups (default ~sqrt(k)), route each
    vector to its best coarse group (N·m cosines), then argmax only among
    that group's centroids (N·k/m expected) — N·(m + k/m) total versus
    ``ivf_assign``'s N·k, minimized at m = sqrt(k).

    This is THE fix for the SemDeDup/IVF scale trap: bounded cells require
    k ∝ N, which turns brute-force assignment into O(N²) — measured as a
    7.8x step for 3x data in the scale rehearsal. Two-level assignment is
    O(N·sqrt(k)) = O(N^1.5) (more levels → N·log k), at the cost of
    approximate routing: a vector whose true nearest centroid lives in a
    non-best coarse group lands on that group's best instead (FAISS's IVF
    coarse quantizer makes the same trade). Routing quality tracks how
    clustered the data is — on near-isotropic vectors coarse routing is
    weakly informative (agreement above the 1/m chance floor, pinned in
    pytest), while the property that matters for dedup — near-dup PAIRS
    routing to the same cell, because they are near each other — survives
    rerouting and is pinned by the semdedup hierarchical-recall test.

    Deterministic and stateless: coarse seeds are the ``coarse_m``
    centroids with the smallest md5(centroid_id), groups are each
    centroid's cosine-argmax seed, ties broken by lowest id. Output: df
    columns + centroid_id.

    Since round 8 the whole routing runs in ONE Arrow ``mapInPandas``
    pass (``arrow_kernels.assign_nearest_two_level``): the coarse/fine
    argmaxes happen batch-vectorized against the driver-collected
    codebook, zero shuffles, bit-identical to the JVM form below (same
    md5 seed pick, same routing, same tie/NaN contract — exact-equality
    pinned in tests/test_arrow_kernels.py against the retained
    ``_ivf_assign_two_level_jvm`` twin).  Past
    ``arrow_kernels.CODEBOOK_COLLECT_MAX`` (k > 65k — the SemDeDup
    k=⌈N/64⌉ trajectory at true 100 TB) the kernel auto-routes to its
    distributed form: coarse seeds (√k ≤ 65k up to k≈4×10⁹) still go
    map-side, fine cells resolve with a shuffle join keyed on the coarse
    id — bit-identical, pinned by
    tests/test_arrow_kernels.py::test_distributed_route_matches_kernel.
    """
    from sql_query_engine_rs_spark.functions.arrow_kernels import (
        assign_nearest_two_level,
    )

    return assign_nearest_two_level(
        df, centroids, coarse_m=coarse_m, id_col=id_col, vec_col=vec_col
    )


def _ivf_assign_two_level_jvm(
    df: DataFrame,
    centroids: DataFrame,
    coarse_m: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The pre-round-8 JVM two-level assignment (interpreted-fold
    crossJoins + max_by partial aggs — level 1 routes via N·m skinny
    max_by, level 2 argmaxes within the routed group). A test reference
    only: the independent twin the Arrow kernel is pinned exact-equal to;
    no builder or operator routes here. Semantics documented on
    ``ivf_assign_two_level``.
    """
    k = centroids.count()
    if coarse_m is None:
        coarse_m = max(2, int(k ** 0.5))
    # group the centroids themselves (k rows — driver-scale tiny)
    seeds = (
        centroids.withColumn("_h", F.md5(F.col("centroid_id").cast("string")))
        .orderBy("_h")
        .limit(coarse_m)
        .select(F.col("centroid_id").alias("_gid"), F.col("_centroid").alias("_gc"))
    )
    grouped = (
        centroids.crossJoin(F.broadcast(seeds))
        .select(
            "centroid_id",
            "_centroid",
            "_gid",
            cosine(F.col("_centroid"), F.col("_gc")).alias("_gs"),
        )
        .groupBy("centroid_id")
        .agg(
            F.max_by("_gid", F.struct(F.col("_gs"), -F.col("_gid"))).alias("_gid"),
            F.first("_centroid").alias("_centroid"),
        )
        .localCheckpoint(eager=True)
    )
    # level 1: best coarse group per vector (N·m skinny max_by)
    coarse = (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(seeds))
        .select(id_col, cosine(F.col(vec_col), F.col("_gc")).alias("_cs"), "_gid")
        .groupBy(id_col)
        .agg(F.max_by("_gid", F.struct(F.col("_cs"), -F.col("_gid"))).alias("_gid"))
    )
    # level 2: argmax within the routed group (N·k/m expected); the group's
    # centroid list is broadcast — k rows total across all groups
    fine = (
        df.join(coarse, id_col)
        .join(F.broadcast(grouped), "_gid")
        .select(
            id_col,
            cosine(F.col(vec_col), F.col("_centroid")).alias("_cscore"),
            "centroid_id",
        )
        .groupBy(id_col)
        .agg(
            F.max_by(
                "centroid_id", F.struct(F.col("_cscore"), -F.col("centroid_id"))
            ).alias("centroid_id")
        )
    )
    return df.join(fine, id_col)


def ivf_write_bucketed(
    corpus: DataFrame,
    table_name: str,
    path: str,
    num_centroids: int = 16,
    iterations: int = 1,
    num_buckets: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the IVF-assigned corpus as a table BUCKETED on
    ``centroid_id`` — the ahead-of-time layout that makes every later probe
    join shuffle-free on the corpus side (the promise in ``ivf_topk``'s
    docstring, demonstrated here).

    One assignment pass writes (id, vec, centroid_id) bucketed+sorted by
    cell; Spark's bucketed scan then satisfies the join's distribution
    requirement from the file layout, so batch-ANN probe joins (the
    million-query shape where broadcasting the queries stops being free)
    plan an Exchange ONLY on the probe side — pinned by
    tests/test_pipeline_ops.py. Returns the centroid codebook for reuse by
    ``ivf_topk_bucketed``.
    """
    cents = ivf_centroids(
        corpus, num_centroids=num_centroids, iterations=iterations,
        id_col=id_col, vec_col=vec_col,
    )
    cells = ivf_assign(
        _ensure_parallelism(corpus.select(id_col, vec_col)), cents,
        nprobe=1, id_col=id_col, vec_col=vec_col,
    )
    (
        cells.write.bucketBy(num_buckets, "centroid_id")
        .sortBy("centroid_id")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table_name)
    )
    return cents


def ivf_topk_bucketed(
    spark,
    table_name: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF top-k over a pre-bucketed corpus (see ``ivf_write_bucketed``):
    sort-merge probe join on ``centroid_id`` where the corpus side's
    distribution comes from the bucket layout — no corpus-side Exchange;
    only the query×nprobe frame (and the final per-query rank) shuffles.
    Same output contract and same results as ``ivf_topk`` given the same
    codebook (both deterministic)."""
    corpus_cells = spark.table(table_name)
    query_cells = ivf_assign(
        queries.select(id_col, vec_col), centroids,
        nprobe=nprobe, id_col=id_col, vec_col=vec_col,
    ).select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qv"), "centroid_id")
    scored = (
        corpus_cells.hint("merge")
        .join(query_cells, on="centroid_id")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            portable_round(cosine(F.col("_qv"), F.col(vec_col)), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    cell; each query probes only its ``nprobe`` nearest cells, so the exact
    cosine work drops ~(k/nprobe)-fold vs brute force. Recall is tuned by
    nprobe (nprobe = num_centroids ⇒ exact). Output schema matches
    ``brute_force_topk``: (query_id, id, cos_sim, rank).

    Pass a precomputed ``cents`` frame (from ``ivf_centroids``) to reuse
    one codebook across several calls — e.g. an nprobe sweep; the default
    rebuilds it (deterministic, identical result either way).

    At 100 TB: the cell id becomes the corpus partitioning/bucketing key, so
    the probe join is shuffle-free on the corpus side; only the (small)
    query×nprobe frame moves.
    """
    if cents is None:
        cents = ivf_centroids(
            corpus, num_centroids=num_centroids, iterations=iterations,
            id_col=id_col, vec_col=vec_col,
        )
    corpus_cells = ivf_assign(
        _ensure_parallelism(corpus.select(id_col, vec_col)), cents,
        nprobe=1, id_col=id_col, vec_col=vec_col,
    )
    query_cells = ivf_assign(
        queries.select(id_col, vec_col), cents,
        nprobe=nprobe, id_col=id_col, vec_col=vec_col,
    ).select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qv"), "centroid_id"
    )
    scored = (
        corpus_cells.join(F.broadcast(query_cells), on="centroid_id")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            portable_round(cosine(F.col("_qv"), F.col(vec_col)), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ------------------------------------------------------ PQ (ADC) scale path

def l2sq(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² as a JVM left fold in double — the PQ distance kernel.
    Same cross-engine fold contract as ``dot``: 0.0 + x₁ + x₂ + … matches
    DuckDB's ``list_reduce`` (which starts at x₁; 0.0 + x₁ == x₁ exactly)."""
    ad, bd = a.cast("array<double>"), b.cast("array<double>")
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_slices(
    corpus: DataFrame,
    num_subspaces: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Long-form sub-vector view: (id, m, _sv array<double>) — N·M skinny
    rows, the working frame of every PQ stage."""
    sub = dim // num_subspaces
    return _ensure_parallelism(corpus).select(
        F.col(id_col),
        F.explode(F.expr(f"sequence(0, {num_subspaces - 1})")).alias("m"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).select(id_col, "m", F.expr(f"slice(_v, m * {sub} + 1, {sub})").alias("_sv"))


def _pq_assign_jvm(sliced: DataFrame, codebook: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Per (vector, subspace) argmin-L2² centroid: broadcast-join the
    codebook, collapse map-side via min_by partial agg (ties → lowest
    centroid id). Shuffle = ~N·M (id, m, code) triples. Retained as the
    Arrow kernel's exact-equality reference twin
    (tests/test_arrow_kernels.py)."""
    scored = sliced.join(F.broadcast(codebook), on="m").select(
        id_col, "m", "centroid_id", l2sq(F.col("_sv"), F.col("_centroid")).alias("_d2")
    )
    return scored.groupBy(id_col, "m").agg(
        F.min_by("centroid_id", F.struct(F.col("_d2"), F.col("centroid_id"))).alias("code")
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    num_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding: per (vector, subspace), the id of the nearest subspace
    centroid by squared L2 — the m·log2(ks)-bit code that replaces the full
    vector downstream (64 floats → 4 bytes here; ×64 compression is what
    makes 100 TB ANN corpora RAM-resident). Returns the long form
    (id, m, code).

    ONE fused Arrow ``mapInPandas`` pass computes all M codes per vector,
    bit-identical to the JVM slice→explode→broadcast-join→min_by chain
    (``_pq_assign_jvm``) but with no N·M exploded frame, no N·M·ks
    interpreted l2sq folds, and no (id, m)-keyed shuffle at all (the
    codes ride the scan).

    Bit-exactness: per subspace the kernel slices the float64-widened
    vector and accumulates (v−c)² one dimension at a time — the JVM
    fold's exact addition order (see arrow_kernels) — and resolves
    ``min_by(cid, struct(d2, cid))`` ties via argmin-first over a
    cid-ascending centroid matrix. Pinned exact-equal to
    ``_pq_assign_jvm`` in tests/test_arrow_kernels.py.

    The codebook (M·ks rows, ≤16k in production) is held driver-side
    through ``arrow_kernels.codebook_rows`` — the same rows ``F.broadcast``
    shipped before, under the one ``CODEBOOK_COLLECT_MAX`` guard."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    import numpy as np

    from sql_query_engine_rs_spark.functions.arrow_kernels import codebook_rows

    sub = dim // num_subspaces
    rows = codebook_rows(codebook, ("m", "centroid_id", "_centroid"))
    per_m: dict[int, tuple] = {}
    for m in range(num_subspaces):
        mrows = sorted(((r[1], r[2]) for r in rows if r[0] == m), key=lambda x: x[0])
        per_m[m] = (
            np.array([c for c, _ in mrows], dtype=np.int64),
            np.array([list(v) for _, v in mrows], dtype=np.float64),
        )
    id_field = corpus.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("m", IntegerType(), False),
            StructField("code", IntegerType(), True),
        ]
    )
    src = _ensure_parallelism(corpus).select(id_col, vec_col)

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            ids = pdf[id_col].to_numpy()
            out_m = np.empty(n * num_subspaces, dtype=np.int32)
            out_code = np.empty(n * num_subspaces, dtype=np.int64)
            for m in range(num_subspaces):
                cids, C = per_m[m]
                Vm = V[:, m * sub : (m + 1) * sub]
                acc = np.zeros((n, len(cids)))
                for j in range(sub):
                    diff = np.subtract.outer(Vm[:, j], C[:, j])
                    acc += diff * diff
                # argmin-first over cid-ascending == min_by(struct(d2, cid))
                out_m[m::num_subspaces] = m
                out_code[m::num_subspaces] = cids[np.argmin(acc, axis=1)]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, num_subspaces),
                    "m": out_m,
                    "code": out_code.astype(np.int32),
                }
            )

    return src.mapInPandas(gen, schema=out_schema)


def pq_codebook(
    corpus: DataFrame,
    num_subspaces: int = 4,
    num_centroids: int = 8,
    dim: int = 64,
    iterations: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic product-quantization codebook: the vector is split into
    ``num_subspaces`` contiguous sub-vectors; each subspace gets
    ``num_centroids`` centroids = the sub-slices of the corpus vectors with
    the smallest md5(id) (the same stateless seed-sample construction as
    ``ivf_centroids``, so any executor/engine rebuilds it bit-identically),
    optionally refined with ``iterations`` per-subspace Lloyd (k-means)
    steps — assignment + per-(subspace, code, dim) mean, all DataFrame ops.
    Refinement matters: on this corpus one step moves ADC recall@5 from
    ~0.36 to ~0.52 (pinned in tests). A centroid that loses every point
    drops out of the book (standard k-means contraction); downstream stages
    only ever join against surviving codes.

    Returns (m int, centroid_id int, _centroid array<double>) —
    ≤ num_subspaces × num_centroids rows, always broadcastable (a production
    64-subspace × 256-centroid book is 16k skinny rows); a book past
    ``arrow_kernels.CODEBOOK_COLLECT_MAX`` rows raises ``CodebookTooLarge``
    up front. Each Lloyd step costs one N·M·ks scoring pass + one
    (m, code, dim)-keyed shuffle whose cardinality is M·ks·sub — trivial."""
    from sql_query_engine_rs_spark.functions.arrow_kernels import (
        check_codebook_size,
        local_codebook,
    )

    # every consumer of the book (pq_encode, hence pq_topk) holds it
    # driver-side, so a book past the bound is refused before any job
    check_codebook_size(num_subspaces * num_centroids)
    spark = corpus.sparkSession
    sub = dim // num_subspaces
    seeds = md5_seed_vectors(corpus, num_centroids, id_col, vec_col)
    book = [
        (m, i, v[m * sub : (m + 1) * sub])
        for i, v in enumerate(seeds)
        for m in range(num_subspaces)
    ]
    cb = local_codebook(spark, book, _PQ_BOOK)
    if iterations:
        sliced = _pq_slices(corpus, num_subspaces, dim, id_col, vec_col)
        for _ in range(iterations):
            assigned = pq_encode(
                corpus, cb, num_subspaces=num_subspaces, dim=dim,
                id_col=id_col, vec_col=vec_col,
            )
            means = lloyd_means(
                sliced.join(assigned, on=[id_col, "m"]), ["m", "code"], "_sv", "_centroid"
            )
            book = sorted((int(r[0]), int(r[1]), list(r[2])) for r in means.collect())
            cb = local_codebook(spark, book, _PQ_BOOK)
    return cb


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_subspaces: int = 4,
    num_centroids: int = 8,
    dim: int = 64,
    iterations: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: corpus vectors are replaced by
    their PQ codes; each query precomputes a (num_subspaces × num_centroids)
    distance table to the codebook, and the approximate distance to ANY
    corpus vector is M table lookups summed — no corpus vector is ever
    touched at query time (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011).

    Output: (query_id, id, approx_d2 asc-ranked, rank). The ADC join keys on
    (m, code) against the broadcast query tables, partial-aggregates the
    M-term sums map-side, and shuffles ~|queries|·N scalar rows. At 100 TB
    the codes frame (4-16 bytes/vector) is the only corpus-sized state."""
    cb = pq_codebook(
        corpus, num_subspaces=num_subspaces, num_centroids=num_centroids,
        dim=dim, iterations=iterations, id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(
        corpus, cb, num_subspaces=num_subspaces, dim=dim, id_col=id_col, vec_col=vec_col
    )
    qt = (
        _pq_slices(queries, num_subspaces, dim, id_col, vec_col)
        .withColumnRenamed(id_col, query_id_col)
        .join(F.broadcast(cb), on="m")
        .select(
            query_id_col, "m", "centroid_id", l2sq(F.col("_sv"), F.col("_centroid")).alias("_qd2")
        )
    )
    adc = (
        codes.join(
            F.broadcast(qt),
            (codes["m"] == qt["m"]) & (codes["code"] == qt["centroid_id"]),
        )
        .filter(F.col(query_id_col) != F.col(id_col))
        .groupBy(query_id_col, id_col)
        .agg(portable_round(F.sum("_qd2"), 6).alias("approx_d2"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("approx_d2").asc(), F.col(id_col))
    return adc.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
