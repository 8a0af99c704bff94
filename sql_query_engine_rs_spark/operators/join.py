"""Join operators — extension surface (the reference has NO joins: the binder
ignores the join list, src/binder/table/mod.rs:15-20; SURVEY.md §2.2).

Plain and broadcast equi-joins are ``left.join(right, on, how)`` and
``left.join(F.broadcast(small), on, how)`` inline; Catalyst+AQE choose
sort-merge, broadcast or a skew split, and a broadcast dimension table means
the fact side never shuffles. This module holds the joins Spark has no
single call for: as-of (plain and hot-key bucketed), band/range and salted
skew joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the single right row with the greatest
    ``right_ts`` <= ``left_ts`` (backward) / least >= (forward), per key.

    Spark has no native as-of join; this builds one with the union-ordering
    window — the scalable Spark shape. Both sides are tagged and unioned
    into one frame, hash-partitioned on ``key`` and sorted by (ts, side);
    ``last(right_ts, ignorenulls)`` over the ordered prefix attaches to
    every left row the most recent right timestamp at-or-before it.

    Cost: ONE shuffle on the key + one per-partition sort, linear in
    |left| + |right| — unlike the naive inequality-join + argmax, which is
    per-key quadratic (every left row pairs with every earlier right row
    of its key before the argmax collapses them). Duplicate left rows are
    preserved (one output row each). Rows with no match are dropped
    (inner-asof). A single pathologically hot key serializes into one
    task's sort — at that point pre-aggregate the right side per (key,
    coarse time bucket) first, or salt; for typical key cardinalities the
    window shuffle is already balanced.

    Output: all left columns + ``_asof_ts`` (the matched right timestamp).
    Further right columns can be recovered by joining back on
    (key, _asof_ts).
    """
    from pyspark.sql import Window

    ts_type = right.schema[right_ts].dataType
    # _side 0 sorts right rows BEFORE left rows at equal timestamps, so an
    # exactly-equal right_ts is visible to the left row (<= / >= semantics).
    l = (
        left.withColumn("_t", F.col(left_ts))
        .withColumn("_r_ts", F.lit(None).cast(ts_type))
        .withColumn("_side", F.lit(1))
    )
    r = (
        right.select(F.col(key), F.col(right_ts).alias("_t"))
        .withColumn("_r_ts", F.col("_t"))
        .withColumn("_side", F.lit(0))
    )
    merged = l.unionByName(r, allowMissingColumns=True)
    order = [F.col("_t").asc(), F.col("_side").asc()] if direction == "backward" else [
        F.col("_t").desc(), F.col("_side").asc()
    ]
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("_asof_ts", F.last("_r_ts", ignorenulls=True).over(w))
        .filter((F.col("_side") == 1) & F.col("_asof_ts").isNotNull())
        .select(*left.columns, "_asof_ts")
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Hot-key-hardened as-of join: identical results to ``asof_join``, but
    the data-bearing window partitions by (key, coarse time bucket) instead
    of key alone, so a single pathologically hot key's rows split across its
    time buckets — every task's sort is bounded by one bucket's density
    instead of the key's full history.

    Shape: (1) the union-ordering window of ``asof_join``, re-keyed on
    (key, bucket), resolves matches WITHIN a bucket; (2) cross-bucket
    matches come from a per-(key, bucket) max aggregate (one skinny row per
    bucket — this is the pre-aggregation that collapses right-side density)
    run through a second union-ordering window per key over BUCKET rows, so
    its input is #buckets rows, not #rows; (3) each left row takes
    coalesce(within-bucket match, best-of-earlier-buckets), joined back on
    (key, bucket) — co-partitioned, skinny build side.

    Timestamps are compared through their epoch-seconds double image
    (microsecond-exact to 2^53; ``direction='forward'`` negates it so the
    same "greatest signed value at-or-before" logic serves both
    directions). Pick ``bucket_seconds`` ~ the hot key's event density
    horizon: tasks then carry O(density × bucket_seconds) rows.

    Output: all left columns + ``_asof_ts`` — same contract as
    ``asof_join``; equivalence is pinned by a planted-hot-key test.
    """
    from pyspark.sql import Window

    sign = 1 if direction == "backward" else -1
    ts_type = right.schema[right_ts].dataType

    def signed_epoch(c: Column) -> Column:
        return c.cast("timestamp").cast("double") * sign

    lb = (
        left.withColumn("_tn", signed_epoch(F.col(left_ts)))
        .withColumn("_b", F.floor(F.col("_tn") / bucket_seconds))
    )
    rb = (
        right.select(F.col(key), F.col(right_ts).alias("_rt"))
        .withColumn("_tn", signed_epoch(F.col("_rt")))
        .withColumn("_b", F.floor(F.col("_tn") / bucket_seconds))
    )

    # (1) within-bucket union-window: right rows sort before left rows at
    # equal instants so <= / >= semantics match asof_join exactly
    l_u = lb.withColumn("_r_ts", F.lit(None).cast(ts_type)).withColumn("_side", F.lit(1))
    r_u = (
        rb.select(F.col(key), F.col("_tn"), F.col("_b"), F.col("_rt").alias("_r_ts"))
        .withColumn("_side", F.lit(0))
    )
    merged = l_u.unionByName(r_u, allowMissingColumns=True)
    w_in = (
        Window.partitionBy(key, "_b")
        .orderBy(F.col("_tn").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = merged.withColumn("_within", F.last("_r_ts", ignorenulls=True).over(w_in)).filter(
        F.col("_side") == 1
    )

    # (2) skinny per-bucket bests + inclusive prefix per key (struct max
    # orders by _btn; _btn -> _bts is injective, so the pick is exact)
    rbb = rb.groupBy(key, "_b").agg(
        F.max(F.struct(F.col("_tn").alias("_btn"), F.col("_rt").alias("_bts"))).alias("_best")
    )
    w_pre = (
        Window.partitionBy(key)
        .orderBy(F.col("_b").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    upto = rbb.withColumn("_upto", F.max("_best").over(w_pre)).select(key, "_b", "_upto")

    # strictly-earlier-bucket best for EVERY left bucket (including buckets
    # with no right rows): union-window over skinny bucket rows, left bucket
    # rows sorting BEFORE prefix rows at equal bucket so same-bucket bests
    # do not leak in
    ld = lb.select(F.col(key), F.col("_b")).distinct().withColumn("_bs", F.lit(0))
    pu = upto.withColumn("_bs", F.lit(1))
    w_gap = (
        Window.partitionBy(key)
        .orderBy(F.col("_b").asc(), F.col("_bs").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = (
        ld.unionByName(pu, allowMissingColumns=True)
        .withColumn("_before", F.last("_upto", ignorenulls=True).over(w_gap))
        .filter(F.col("_bs") == 0)
        .select(F.col(key), F.col("_b"), F.col("_before._bts").alias("_before_ts"))
    )

    # (3) combine: within-bucket match wins (it is >= any earlier bucket's)
    out = (
        within.join(before, on=[key, "_b"], how="left")
        .withColumn("_asof_ts", F.coalesce(F.col("_within"), F.col("_before_ts")))
        .filter(F.col("_asof_ts").isNotNull())
        .select(*left.columns, "_asof_ts")
    )
    return out


def range_join(facts: DataFrame, bands: DataFrame, value_col: str, lo_col: str = "lo", hi_col: str = "hi") -> DataFrame:
    """Band/range join: match each fact row to the band whose
    [lo, hi) interval contains ``value_col``. The bands table is small by
    construction — broadcast, so the fact side never shuffles."""
    return facts.join(
        F.broadcast(bands),
        (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col)),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant join: explode the hot keys across ``salt_buckets``.

    The big (skewed) side gets a random salt in [0, buckets); the small side
    is replicated once per salt value. The join key becomes (key, salt), so
    one hot key's rows spread over ``salt_buckets`` tasks instead of one
    straggler. AQE's skew-join split handles most cases automatically; use
    this when a key is so hot a single split still overflows, or when AQE is
    off (streaming). Results are identical to a plain join.
    """
    salted_big = big.withColumn("_salt", (F.rand(42) * salt_buckets).cast("int"))
    salts = big.sparkSession.range(salt_buckets).select(F.col("id").cast("int").alias("_salt"))
    salted_small = small.crossJoin(F.broadcast(salts))
    out = salted_big.join(salted_small, on=[key, "_salt"], how=how)
    return out.drop("_salt")
