"""Arrow-batched nearest-centroid kernels — bit-exact, vectorized
replacements for the interpreted higher-order-function fold.

Why this module exists: Spark's ``F.aggregate`` (ArrayAggregate) is
CodegenFallback — every 64-dim cosine/l2sq costs ~6 µs of interpreted
expression evaluation, and assignment-shaped operators (IVF assign,
SemDeDup routing, Lloyd iterations) pay it N·k times through a
crossJoin fan-out. At the x100 rehearsal that is ~22M folds ≈ 2 minutes
of pure interpreter time. These kernels batch the same math through
``mapInPandas`` (one Arrow transfer per ~10k-row batch) and evaluate it
as vectorized numpy, ~50× faster per pair — while carrying the
assignment entirely map-side: no scored-row shuffle, no groupBy, no
join-back.

Bit-exactness contract (the reason the DuckDB oracles and every green
driver row survive this swap unchanged):

- The JVM fold is a STRICT LEFT FOLD: ``0.0 + x₁ + x₂ + …`` in array
  order.  The kernels reproduce the identical double-addition sequence
  by accumulating one dimension at a time (``acc += V[:,j]·C[:,j]``) —
  never ``np.dot``/BLAS, whose SIMD/pairwise summation reorders the
  additions.  Pinned by tests/test_arrow_kernels.py (exact-equality
  A/Bs vs the JVM fold; an earlier prototype measured 0/60,000
  differing rows on the x30 rehearsal corpus).
- Products, squares, divisions are single IEEE-double ops on both
  sides — correctly rounded, order-free.
- Ties and NaN: the JVM argmax is ``max_by(cid, struct(score, -cid))``
  (max score; ties → min cid; NaN > every double).  The kernels sort
  the centroid matrix by cid ascending and use ``np.argmax``'s
  first-occurrence rule — first max = min cid on ties, and numpy
  documents argmax returning the FIRST NaN when one is present, which
  is exactly min-cid-among-NaN.

Serialization note: every function that ships to a Python worker is
defined INSIDE a module-level factory, so cloudpickle pickles it BY
VALUE. A worker-side reference to this module would pickle by name and
require ``sql_query_engine_rs_spark`` on the executors' import path —
true only when the driver's cwd happens to be the repo root. The
grading driver makes no such promise; only ``numpy``/``pandas`` (always
importable cluster-wide) may be referenced by name from worker code.

Scale shape: centroid codebooks are k-bounded (≤ ~65k rows even at
100 TB), so collecting them driver-side and closing over the matrix is
the same data movement as the previous ``F.broadcast`` — but the N-row
side now never shuffles at all: ``mapInPandas`` preserves the input
partitioning and emits (input columns + centroid_id [+ score]) straight
from the scan.

No counterpart in the reference (no array types —
src/types/mod.rs:57,75); this is the scale path under the §2.2
similarity/dedup extension families.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

# Rows-per-chunk inside a batch are sized so the (chunk × k) score
# accumulator stays ~16 MB — three live arrays per chunk keeps peak
# memory per task < 64 MB even at k=65k.
_CHUNK_CELLS = 2_000_000

# Hard ceiling on codebook rows collected driver-side. At 64-dim double
# vectors, 65k centroids ≈ 34 MB on the driver and ~34 MB closed over per
# executor — the same order as the F.broadcast it replaced. Past this the
# collect itself becomes the scale risk (SemDeDup's k=⌈N/64⌉ reaches
# k≈10⁶ around N≈6×10⁷ distinct vectors per run), so the kernel refuses
# rather than silently OOM-ing the driver. The route past the bound is
# hierarchical: route vectors through a coarse ≤65k codebook with this
# kernel (assign_nearest_two_level already halves the exponent —
# √(10⁶)≈10³ coarse cells), then resolve fine cells DISTRIBUTED — join
# the fine codebook as a bucketed frame keyed on coarse_id and score
# within cells via pair_dot (both sides vary per row, nothing collects).
# similarity.ivf_assign's JVM crossJoin form is the semantic reference
# for that join-shaped path.
CODEBOOK_COLLECT_MAX = 65_536


class CodebookTooLarge(ValueError):
    """A codebook frame exceeds CODEBOOK_COLLECT_MAX rows — driver-side
    collect refused. ``assign_nearest_two_level`` catches this and
    auto-routes to its distributed form; flat ``assign_nearest`` (exact
    argmax semantics — no approximate substitute is silently correct)
    propagates it to the caller."""


def _worker_fns():
    """Worker-side math, built fresh so cloudpickle ships it by value
    (see module docstring). Returns (as_matrix, strict_scores, argbest,
    chunks)."""
    import numpy as np

    def as_matrix(series):
        # float32 -> float64 widening is exact, so casting AFTER the
        # Arrow transfer is bit-identical to the JVM's
        # cast("array<double>") before the fold.
        return np.stack(series.to_numpy()).astype(np.float64, copy=False)

    def strict_scores(V, C, metric):
        # (n, k) pairwise scores with the JVM fold's exact addition
        # order. cosine: strict-fold dot / (strict ‖v‖ · strict ‖c‖);
        # l2sq: strict-fold Σ (v-c)², lower = nearer.
        n, d = V.shape
        k = C.shape[0]
        acc = np.zeros((n, k))
        if metric == "l2sq":
            for j in range(d):
                diff = np.subtract.outer(V[:, j], C[:, j])
                acc += diff * diff
            return acc
        for j in range(d):
            acc += np.multiply.outer(V[:, j], C[:, j])
        nv = np.zeros(n)
        for j in range(d):
            nv += V[:, j] * V[:, j]
        nc = np.zeros(k)
        for j in range(d):
            nc += C[:, j] * C[:, j]
        with np.errstate(divide="ignore", invalid="ignore"):
            return acc / np.multiply.outer(np.sqrt(nv), np.sqrt(nc))

    def argbest(scores, metric):
        # first-occurrence arg{max,min} over cid-ascending columns ==
        # the JVM struct(score, ∓cid) lexicographic extremum, NaN incl.
        if metric == "l2sq":
            return np.argmin(scores, axis=1)
        return np.argmax(scores, axis=1)

    def chunks(n, k, cells=_CHUNK_CELLS):
        step = max(1, cells // max(1, k))
        for lo in range(0, n, step):
            yield lo, min(n, lo + step)

    return as_matrix, strict_scores, argbest, chunks


# driver-side aliases (used for the k×m grouping math and by tests)
_as_matrix, _strict_scores, _argbest, _chunks = _worker_fns()


def check_codebook_size(n_rows: int) -> None:
    """The one ``CODEBOOK_COLLECT_MAX`` guard: raise ``CodebookTooLarge``
    for a codebook of ``n_rows`` rows instead of holding it driver-side."""
    if n_rows > CODEBOOK_COLLECT_MAX:
        raise CodebookTooLarge(
            f"codebook exceeds CODEBOOK_COLLECT_MAX={CODEBOOK_COLLECT_MAX} rows; "
            "driver-side collect would not scale. Route through a coarse "
            "<=65k codebook (assign_nearest_two_level auto-routes to its "
            "distributed form) and resolve fine cells with a distributed "
            "join keyed on the coarse id — see arrow_kernels.py "
            "CODEBOOK_COLLECT_MAX."
        )


def local_codebook(spark, rows: list[tuple], schema: str) -> DataFrame:
    """A k-bounded codebook as a LOCAL relation built from driver-resident
    ``rows``, tagged with those rows and its column names so
    ``codebook_rows`` reuses them without a collect job.

    The Lloyd loops (``similarity.ivf_centroids``, ``pq_codebook``) end
    every iteration with the book driver-side anyway — it was BUILT from
    a driver round-trip — and every consumer (the next iteration's
    assign, the corpus assignment, the query-probe broadcast) needs it
    driver-side or broadcast; holding it as a local relation removes an
    eager localCheckpoint barrier plus a re-collect job per consumer
    (measured: pipe_ann_ivf ran 15 jobs for 2 corpus passes). Values are
    exact: collected doubles round-trip bit-identically through
    createDataFrame with an explicit array<double> schema."""
    df = spark.createDataFrame(rows, schema=schema)
    df._sgr_codebook = (rows, tuple(df.columns))
    return df


def codebook_rows(frame: DataFrame, cols) -> list:
    """The ``cols`` rows of a k-bounded codebook frame, driver-side: the
    tagged rows of a ``local_codebook`` frame with exactly these columns
    (any transformation drops the tag), else one ``limit(max+1)`` collect
    — driver memory stays bounded even when the guard fires (a k≈10⁶
    codebook never materializes: at most max+1 rows land before the
    raise)."""
    tag = getattr(frame, "_sgr_codebook", None)
    if tag is not None and tag[1] == tuple(cols):
        rows = tag[0]
    else:
        rows = frame.select(*cols).limit(CODEBOOK_COLLECT_MAX + 1).collect()
    check_codebook_size(len(rows))
    return rows


def _collect_codebook(centroids: DataFrame, cid_col: str, cvec_col: str):
    """Driver-side (cids asc int64, matrix float64, cid StructField) from
    a k-bounded codebook frame (``codebook_rows``) — the same rows
    ``F.broadcast`` shipped before."""
    rows = sorted(codebook_rows(centroids, (cid_col, cvec_col)), key=lambda r: r[0])
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return cids, mat, centroids.schema[cid_col]


def assign_nearest(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    cid_col: str = "centroid_id",
    cvec_col: str = "_centroid",
    out_cid_col: str = "centroid_id",
    score_col: str | None = None,
) -> DataFrame:
    """df + its nearest centroid id (and optionally the best score),
    computed map-side in one Arrow pass — the kernel under
    ``similarity.ivf_assign(nprobe=1)`` and the Lloyd loops.

    Exactly ``max_by(cid, struct(score, -cid))`` per row (min_by for
    l2sq), bit-for-bit, including ties and NaN — see module docstring.
    Rows pass through untouched; partitioning is preserved (NO shuffle,
    where the previous plan shuffled N scalar pairs + joined back).
    """
    if metric not in ("cosine", "l2sq"):
        raise ValueError(f"unknown metric: {metric!r}")
    cids, mat, cid_field = _collect_codebook(centroids, cid_col, cvec_col)
    out_schema = StructType(
        df.schema.fields + [StructField(out_cid_col, cid_field.dataType, True)]
        + ([StructField(score_col, DoubleType(), True)] if score_col else [])
    )
    n_k = len(cids)
    cols = [f.name for f in df.schema.fields]
    # bind the by-value-picklable worker fns NOW: referencing the module
    # factory from inside gen would pickle it by name (see module doc)
    as_matrix, strict_scores, argbest, chunks = _worker_fns()

    def gen(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = as_matrix(pdf[vec_col])
            best = np.empty(len(pdf), dtype=np.int64)
            bscore = np.empty(len(pdf)) if score_col else None
            for lo, hi in chunks(len(pdf), n_k):
                s = strict_scores(V[lo:hi], mat, metric)
                idx = argbest(s, metric)
                best[lo:hi] = idx
                if score_col is not None:
                    bscore[lo:hi] = s[np.arange(hi - lo), idx]
            out = pdf[cols].copy()
            out[out_cid_col] = cids[best]
            if score_col:
                out[score_col] = bscore
            yield out

    return df.mapInPandas(gen, schema=out_schema)


def assign_nearest_two_level(
    df: DataFrame,
    centroids: DataFrame,
    coarse_m: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "centroid_id",
    cvec_col: str = "_centroid",
) -> DataFrame:
    """Two-level (coarse → fine) nearest-centroid assignment, the Arrow
    twin of ``similarity.ivf_assign_two_level`` — N·(m + k/m) kernel
    cells instead of N·k, same routing, bit-identical output.

    Replays the JVM construction exactly: coarse seeds are the
    ``coarse_m`` centroids with the smallest md5(str(cid)) (hashlib hex
    == F.md5 hex, string order == Spark's), each centroid groups to its
    cosine-argmax seed (ties → min gid), vectors route to their argmax
    seed then argmax within the routed group's centroids.  A vector
    routed to a seed whose group holds no centroids is dropped — the
    inner-join semantics of the JVM form, preserved deliberately.

    Past ``CODEBOOK_COLLECT_MAX`` rows the codebook never collects:
    the call auto-routes to ``_assign_two_level_distributed`` (coarse
    seeds still go through this kernel — m ≈ √k stays ≤65k up to
    k ≈ 4×10⁹ — and fine cells resolve with a shuffle join keyed on the
    coarse id), bit-identical output; pinned by
    tests/test_arrow_kernels.py::test_distributed_route_matches_kernel.
    """
    try:
        cids, mat, cid_field = _collect_codebook(centroids, cid_col, cvec_col)
    except CodebookTooLarge:
        return _assign_two_level_distributed(
            df, centroids, coarse_m, id_col, vec_col, cid_col, cvec_col
        )
    k = len(cids)
    if coarse_m is None:
        coarse_m = max(2, int(k**0.5))
    by_h = sorted(
        range(k), key=lambda i: hashlib.md5(str(int(cids[i])).encode()).hexdigest()
    )[:coarse_m]
    # seed columns sorted gid-ascending so argmax-first == min-gid ties
    seed_idx = sorted(by_h, key=lambda i: cids[i])
    gids = cids[seed_idx]
    G = mat[seed_idx]
    # group the k centroids themselves (driver-scale: k × m)
    grp = gids[_argbest(_strict_scores(mat, G, "cosine"), "cosine")]
    groups = {int(g): (cids[grp == g], mat[grp == g]) for g in np.unique(grp)}
    out_schema = StructType(
        df.schema.fields + [StructField("centroid_id", cid_field.dataType, True)]
    )
    cols = [f.name for f in df.schema.fields]
    as_matrix, strict_scores, argbest, chunks = _worker_fns()

    def gen(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = as_matrix(pdf[vec_col])
            routed = np.empty(len(pdf), dtype=np.int64)
            for lo, hi in chunks(len(pdf), len(gids)):
                routed[lo:hi] = gids[
                    argbest(strict_scores(V[lo:hi], G, "cosine"), "cosine")
                ]
            best = np.full(len(pdf), -1, dtype=np.int64)
            for g in np.unique(routed):
                sub = groups.get(int(g))
                if sub is None:
                    continue  # empty group: rows dropped (JVM inner join)
                g_cids, g_mat = sub
                sel = np.flatnonzero(routed == g)
                for lo, hi in chunks(len(sel), len(g_cids)):
                    rows = sel[lo:hi]
                    s = strict_scores(V[rows], g_mat, "cosine")
                    best[rows] = g_cids[argbest(s, "cosine")]
            keep = best >= 0
            out = pdf[cols].copy() if keep.all() else pdf[cols].iloc[keep].copy()
            out["centroid_id"] = best[keep]
            yield out

    return df.mapInPandas(gen, schema=out_schema)


def _assign_two_level_distributed(
    df: DataFrame,
    centroids: DataFrame,
    coarse_m: int | None,
    id_col: str,
    vec_col: str,
    cid_col: str,
    cvec_col: str,
) -> DataFrame:
    """The k > CODEBOOK_COLLECT_MAX route for two-level assignment — the
    "SemDeDup at k≈10⁶" story, implemented rather than argued:

    - coarse seeds (m = max(2, ⌊√k⌋) ≤ 65k up to k ≈ 4×10⁹) are picked
      by the SAME md5 order as the kernel (F.md5(cast(cid as string)) ==
      hashlib.md5(str(int(cid)))) via a distributed TakeOrdered — never
      a k-row collect;
    - both map-side routings (fine centroids → seeds, vectors → seeds)
      still run through ``assign_nearest`` — the seed codebook is the
      only thing that ever reaches the driver;
    - fine cells resolve DISTRIBUTED: vectors join the grouped fine
      codebook on the coarse id (shuffle hash join — the codebook is too
      big to broadcast by definition here), the strict-fold pair cosine
      evaluates inline in the join stage, and ``max_by(cid,
      struct(score, -cid))`` collapses map-side so the groupBy(id)
      exchange carries one skinny row per vector.  Three N-row exchanges
      total (route join, argmax, join-back) — linear, no N·k frame.

    Bit-identical to the collected kernel (same seed pick, routing,
    tie/NaN contract — zero-norm pairs score literal NaN exactly like
    numpy's 0/0, so NaN > every double routes them to the min cid, and
    empty-seed groups drop their vectors via the inner join).  Requires
    ``id_col`` to be unique (the argmax groups and joins back on it);
    every registered caller's id is a parquet primary key.
    """
    from sql_query_engine_rs_spark.functions.similarity import norm

    k = centroids.count()
    if coarse_m is None:
        coarse_m = max(2, int(k**0.5))
    if coarse_m > CODEBOOK_COLLECT_MAX:
        # fail BEFORE burning the seed-ordering job: the inner
        # assign_nearest would otherwise raise the generic guard whose
        # message recommends the very route that is already running
        # (explicit oversized coarse_m, or auto sqrt(k) past k ≈ 4.3e9 —
        # at which point add a third level).
        raise CodebookTooLarge(
            f"coarse_m={coarse_m} exceeds CODEBOOK_COLLECT_MAX="
            f"{CODEBOOK_COLLECT_MAX}: the distributed route collects the "
            "SEED codebook driver-side; pass coarse_m <= the bound (or "
            "extend to a third level for k beyond ~4e9)."
        )
    # Materialize the m-row seed frame ONCE: an oversized codebook is
    # typically an expensive Lloyd/pipeline output, and without this the
    # two assign_nearest calls below would each re-run the full md5
    # orderBy+limit job over its lineage (plus the count above — three
    # redundant recomputations measured as the review found them).
    # CLUSTER CAVEAT: localCheckpoint stores blocks on executors and is
    # NOT recomputable — on a real cluster an executor loss mid-job fails
    # the whole oversized-codebook run instead of recovering via lineage.
    # The frame is tiny (m ≤ 65k rows) and the job a one-shot build, so
    # the trade is deliberate; a deployment that needs fault tolerance
    # here should set a checkpoint dir and swap in df.checkpoint() (or
    # persist(MEMORY_AND_DISK_2)) — semantics are identical.
    seeds = (
        centroids.withColumn("_h", F.md5(F.col(cid_col).cast("string")))
        .orderBy("_h")
        .limit(coarse_m)
        .select(F.col(cid_col).alias("_gid"), F.col(cvec_col).alias("_gc"))
        .localCheckpoint(eager=True)
    )
    # norms hoist to once per centroid / per vector (the interpreted fold
    # would otherwise re-run per PAIR — the exact cost the kernels kill)
    grouped = assign_nearest(
        centroids.select(cid_col, cvec_col),
        seeds,
        vec_col=cvec_col,
        cid_col="_gid",
        cvec_col="_gc",
        out_cid_col="_gid",
    ).withColumn("_cn", norm(F.col(cvec_col)))
    routed = assign_nearest(
        df.select(id_col, vec_col),
        seeds,
        vec_col=vec_col,
        cid_col="_gid",
        cvec_col="_gc",
        out_cid_col="_gid",
    ).withColumn("_vn", norm(F.col(vec_col)))
    pair = routed.join(grouped, "_gid").select(
        id_col,
        F.when(F.col("_vn") * F.col("_cn") == 0, F.lit(float("nan")))
        .otherwise(
            pair_cosine(
                F.col(vec_col), F.col(cvec_col), F.col("_vn"), F.col("_cn")
            )
        )
        .alias("_cscore"),
        F.col(cid_col),
    )
    best = pair.groupBy(id_col).agg(
        F.max_by(cid_col, F.struct(F.col("_cscore"), -F.col(cid_col))).alias(
            "centroid_id"
        )
    )
    return df.join(best, id_col).select(
        *[f.name for f in df.schema.fields], "centroid_id"
    )


# (SparkContext id, udf) — the cache MUST be per-context: a pandas_udf
# captures the creating context's Python accumulator, and reusing it
# after that context stops (bench/REPL session restarts) makes every
# task completion in the new context stall the DAGScheduler with "EOF
# reached before Python server acknowledged" while it tries to reach
# the dead context's accumulator server (found round 8: the full bench
# ran 2x+ slow with ~1000 such errors across cohort restarts).
_PAIR_DOT_CACHE: tuple[object, object] | None = None


def pair_dot(a: Column, b: Column) -> Column:
    """Strict-left-fold Σ aᵢ·bᵢ per row — the Arrow twin of
    ``similarity.dot`` for PAIR-shaped frames (both sides vary per row:
    SemDeDup's within-cell scan, knn-graph scoring), where no centroid
    matrix can be closed over.  Bit-exact to the JVM fold (same
    per-dimension addition order).  The pandas_udf is built lazily (an
    active SparkSession is required) and cached per SparkContext."""
    global _PAIR_DOT_CACHE
    from pyspark import SparkContext

    # key on the context OBJECT (strong ref — prevents a GC'd context's
    # id being reused by its successor and aliasing the cache)
    ctx = SparkContext._active_spark_context
    if _PAIR_DOT_CACHE is None or _PAIR_DOT_CACHE[0] is not ctx:
        as_matrix = _worker_fns()[0]

        def _pair_dot_fn(a, b):
            import numpy as np
            import pandas as pd

            A = as_matrix(a)
            B = as_matrix(b)
            acc = np.zeros(len(A))
            for j in range(A.shape[1]):
                acc += A[:, j] * B[:, j]
            return pd.Series(acc)

        _PAIR_DOT_CACHE = (ctx, pandas_udf(_pair_dot_fn, "double"))
    return _PAIR_DOT_CACHE[1](a, b)


def pair_cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine from an Arrow pair dot and pre-hoisted JVM norms — the
    drop-in for ``dot(a,b)/(na*nb)`` pair scans (identical values:
    the fold is bit-exact and the division is a single rounded op)."""
    return pair_dot(a, b) / (na * nb)
