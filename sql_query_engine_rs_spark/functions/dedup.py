"""Deduplication operators: exact, fingerprint, n-gram Jaccard, MinHash-LSH,
SimHash, and embedding-cosine near-dup.

No counterpart in the reference (single-table v0 engine); these are the
extension operators a 100 TB training-data pipeline needs.

Scale design notes
------------------
- Exact / fingerprint dedup: one hash-partitioned shuffle on the key with
  map-side combine — the cheapest possible distributed dedup. Fingerprint
  (md5 of normalized text) dedups 100 TB while shuffling only (hash, id)
  pairs, never the documents themselves.
- MinHash-LSH and SimHash are one filter-then-verify pipeline with a
  pluggable signature: a map-only per-doc signature persisted once
  (_persist_nonempty), band keys exploded from it, flood buckets capped and
  the band self-join deduplicated (_band_pairs); only candidate PAIRS get
  the verification (exact Jaccard, signature estimate, or Hamming cut).
  This is the standard near-linear near-dup path. Hashing uses md5 so the
  DuckDB oracle replicates every signature bit for bit: MinHash minima are
  digest slices (_minhash_signed), SimHash bits are md5-nibble votes.
- Embedding near-dup: cosine > threshold over an array<float> column;
  all-pairs within LSH/band buckets, never a global cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sql_query_engine_rs_spark.functions.caching import persist_tracked
from sql_query_engine_rs_spark.functions.expressions import portable_round

from sql_query_engine_rs_spark.functions.text import fingerprint, normalized_text, tokens
from sql_query_engine_rs_spark.functions.partitioning import ensure_parallelism as _ensure_parallelism
from sql_query_engine_rs_spark.functions.similarity import cosine


# ------------------------------------------------------- auto-scaled knobs

# Target populations the auto-derived knobs hold constant as the corpus
# grows. 64 keeps a within-cell/within-bucket pair scan at ~64²/2 ≈ 2k
# pairs per cell/bucket per task — trivially small — while anchoring the
# derived values to the registered configs at driver scale (sf0.01:
# N=500 embeddings → k=8 cells of ~64, 3 planes → 8 buckets of ~64).
SEMDEDUP_TARGET_CELL = 64
LSH_TARGET_BUCKET = 64

# k at which semdedup's assignment auto-routes through the two-level
# hierarchy. Brute assignment is N·k cosines, two-level is N·2·sqrt(k) plus
# two extra co-partitioned joins and a k-row centroid grouping; the
# asymptotic win (k > ~16) is real but the constant factors put the
# MEASURED crossover beyond the local rehearsal sizes (x100 = 500k docs,
# where derived k ≈ 8k is still brute-assignable in one pass). 1024 sits
# past every measured brute win and well before the k ≈ 10⁵-10⁶ a 100 TB
# corpus derives, where N·k is a non-starter.
SEMDEDUP_HIERARCHICAL_K = 1024

# Rep count at which the LSH near-dup bucket verify switches from the
# in-place interpreted JVM fold to the Arrow pair kernel (both bit-exact,
# so the switch is invisible to outputs/oracles). The fold pays ~40 µs of
# interpreter time per candidate but ships nothing; the Arrow kernel is
# ~20× cheaper per pair but ships both vectors per candidate through the
# Python pipe and pays its setup at every scale. Measured on the x300
# rehearsal corpus (candidates ≈ 2·tables·target_bucket·N): sf0.1 (2k
# vecs) fold 2.2 s vs Arrow 5.1 s; x100 (200k) tie at ~17 s; x300 (600k)
# Arrow 46 s vs fold 82 s.
PAIR_VERIFY_ARROW_MIN = 150_000


def auto_num_centroids(n: int, target_cell: int = SEMDEDUP_TARGET_CELL) -> int:
    """k = ⌈N / target_cell⌉: cell populations stay ~target_cell as N grows,
    so the within-cell quadratic term is bounded per task at any corpus
    size. Anchored: auto_num_centroids(500) == 8, the registered driver-SF
    config (pinned in tests/test_pipeline_ops.py)."""
    return max(1, -(-int(n) // target_cell))


def auto_num_planes(n: int, target_bucket: int = LSH_TARGET_BUCKET) -> int:
    """planes = ⌈log2(N / target_bucket)⌉: 2^planes buckets keep expected
    bucket populations ~target_bucket as N grows (the within-bucket join is
    quadratic in bucket size). Anchored: auto_num_planes(500) == 3, the
    registered driver-SF config (pinned in tests/test_pipeline_ops.py).
    Raising planes lowers per-table recall — callers compensate with
    num_tables (OR-amplification), which multiplies cost linearly while
    planes cut it exponentially."""
    import math

    return max(1, math.ceil(math.log2(max(int(n), 2) / target_bucket)))


# ---------------------------------------------------------------- exact

def exact_dedup_groups(df: DataFrame, id_col: str, key_cols: list[str]) -> DataFrame:
    """Deterministic variant: per duplicate-group keep ``min(id)`` and report
    the copy count. Output: (<id_col>, n_copies)."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies")
    ).select(id_col, "n_copies")


def fingerprint_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-exact dedup on normalized-text md5: robust to whitespace/case
    drift, shuffles only 32-byte hashes. Output: (fingerprint, <id_col>, n_copies).

    No ensure_parallelism here: one md5 per row is cheaper than the
    round-robin shuffle it would take to spread it (measured 2x at sf0.1);
    the groupBy shuffle right after rebalances anyway."""
    return (
        df
        .select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select("fingerprint", id_col, "n_copies")
    )


# ---------------------------------------------------------------- n-gram Jaccard

def shingles_from_tokens(toks: Column, n: int) -> Column:
    """Distinct word n-grams (shingles) from a token array, as array<string>.

    Construction: zip_with over n-1 shifted copies of the array — shingle i
    is ``toks[i] + " " + ... + toks[i+n-1]``; positions past L-n zip against
    null padding and are compacted away (short docs yield an empty array, no
    length guard needed). Every argument is evaluated ONCE per row. The naive
    ``transform(sequence(1, L-n+1), i -> concat_ws(slice(toks, i, n)))``
    re-evaluates the captured ``toks`` expression per element — when ``toks``
    is a regex tokenize pipeline rather than a plain column that is O(L^2)
    regex work per document (measured 10x on the MinHash shingle pass).
    """
    if n == 1:
        return F.array_distinct(toks)
    acc = toks
    for k in range(1, n):
        nxt = F.slice(toks, k + 1, F.size(toks))
        acc = F.zip_with(
            acc,
            nxt,
            lambda a, b: F.when(a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)),
        )
    return F.array_distinct(F.array_compact(acc))


def positional_shingles_from_tokens(toks: Column, n: int) -> Column:
    """Ordered, NON-distinct n-grams: element i is the shingle STARTING at
    token position i (0-based). Same single-evaluation zip_with construction
    as ``shingles_from_tokens`` but without distinct/compact, so
    ``posexplode`` recovers exact start offsets — the input to span-level
    operators (exact-substring dedup) that must map grams back onto token
    ranges. Tail positions past L-n are null padding; callers filter the
    exploded null rows (their pos would exceed the last valid start).
    """
    if n == 1:
        return toks
    acc = toks
    for k in range(1, n):
        nxt = F.slice(toks, k + 1, F.size(toks))
        acc = F.zip_with(
            acc,
            nxt,
            lambda a, b: F.when(a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)),
        )
    return acc


def token_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-grams (shingles) of ``text`` as array<string>.

    Prefer projecting ``tokens(...)`` into a real column first and calling
    ``shingles_from_tokens`` on it — here the tokenize pipeline is embedded
    n times (once per shifted copy), evaluated per row."""
    return shingles_from_tokens(tokens(text), n)


def jaccard(a: Column, b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| for two distinct-element arrays (JVM-side)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter / F.greatest(union, F.lit(1))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Document pairs with n-gram Jaccard >= threshold.

    Candidates come from a shared-gram equi-join: each (doc, gram) row
    joins the other docs' rows for the same gram, so only pairs that share
    at least one shingle are ever materialized — sum(df^2) skinny rows
    (~2.8M at sf0.1, max gram df 25) instead of N^2/2 per-pair array
    intersections. A pair's joined-row count is |A∩B| because shingle
    arrays are distinct-element, and J = c / (|A| + |B| - c) over those
    integers. Exact for every threshold > 0: a qualifying pair has J > 0,
    so it shares a gram. At scale a gram-df cap would bound hot-gram fan-out like the LSH
    band caps.

    Docs with an empty shingle set are dropped before pairing (they carry
    no n-gram evidence).
    Output: (id_a, id_b, jaccard_sim), id_a < id_b.
    """
    if threshold <= 0:
        raise ValueError(f"ngram_jaccard_pairs: threshold must be > 0, got {threshold}")
    # tokens in their own projection (see shingles_from_tokens), shingles
    # persisted once for both join sides, and the empty-set filter applied
    # AFTER the eager cache so Catalyst can't push it (and the shingle
    # computation it references) below the repartition onto one partition.
    shingled = persist_tracked(
        _ensure_parallelism(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")))
        .select("_id", tokens(F.col("_text")).alias("_toks"))
        .select("_id", shingles_from_tokens(F.col("_toks"), n).alias("_grams"))
    )
    shingled.count()
    shingled = shingled.filter(F.size("_grams") > 0)
    e = shingled.select(
        F.col("_id"), F.size("_grams").alias("_n"), F.explode("_grams").alias("_g")
    )
    a = e.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"), "_g")
    b = e.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"), "_g")
    common = (
        a.join(b, "_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    sim = F.col("_c") / F.greatest(F.col("_na") + F.col("_nb") - F.col("_c"), F.lit(1))
    return common.select(
        "id_a",
        "id_b",
        portable_round(sim, 4).alias("jaccard_sim"),
    ).filter(F.col("jaccard_sim") >= threshold)


# ---------------------------------------------------------------- MinHash-LSH

def _minhash_digests(shingles: Column, block: int) -> Column:
    """array<string> of md5 hex digests for one 8-component block.

    Block 0 hashes the shingle raw; block b>0 salts with ``"{b}:"`` so every
    block of 8 components draws from an independent digest. One digest serves
    8 components (4 hex chars each) — 8x fewer hash computations than
    hash-per-component, and the same construction is plain ANSI SQL
    (``substr(md5(g), pos, 4)``) for the DuckDB oracle.
    """
    if block == 0:
        return F.transform(shingles, lambda g: F.md5(g))
    return F.transform(shingles, lambda g: F.md5(F.concat(F.lit(f"{block}:"), g)))


def _minhash_component_from_digests(digests: Column, slot: int) -> Column:
    """MinHash component ``slot`` (0..7) of a digest block: min over shingles
    of hex chars [4*slot, 4*slot+4). Lexicographic min over fixed-width hex
    substrings is a valid uniform min-hash on a 16-bit domain."""
    return F.array_min(F.transform(digests, lambda h: F.substring(h, slot * 4 + 1, 4)))


def _minhash_signed(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, ngram: int
) -> DataFrame:
    """(_id, _grams, _sig): the one MinHash signature constructor behind
    every banded MinHash path — ``num_hashes`` md5 min-hashes over the
    distinct word ``ngram`` shingles of the normalized text, as
    array<string>. Map-only; callers decide whether to persist it.

    Tokens live in their own projection so the shingle build references a
    column, not the regex pipeline (see shingles_from_tokens), and each
    block's digest array lives in its own projection: one md5 array feeds 8
    substring-min components, and CollapseProject keeps the
    multiply-referenced non-cheap transform from being inlined 8x.
    """
    base = _ensure_parallelism(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")))
    toked = base.select("_id", tokens(normalized_text(F.col("_text"))).alias("_toks"))
    n_blocks = (num_hashes + 7) // 8
    return (
        toked.select("_id", shingles_from_tokens(F.col("_toks"), ngram).alias("_grams"))
        .select(
            "_id",
            "_grams",
            *[_minhash_digests(F.col("_grams"), b).alias(f"_digs{b}") for b in range(n_blocks)],
        )
        .select(
            "_id",
            "_grams",
            F.array(
                *[
                    _minhash_component_from_digests(F.col(f"_digs{i // 8}"), i % 8)
                    for i in range(num_hashes)
                ]
            ).alias("_sig"),
        )
    )


def _minhash_bands(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(_id, _band_key): ``bands`` keys of ``num_hashes/bands`` signature
    components each, prefixed with the band number."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "_id",
        F.explode(
            F.array(*[
                F.concat_ws(
                    "|", F.lit(str(b)),
                    *[F.col("_sig")[b * rows_per_band + r] for r in range(rows_per_band)],
                )
                for b in range(bands)
            ])
        ).alias("_band_key"),
    )


def _persist_nonempty(frame: DataFrame, nonempty: Column) -> DataFrame:
    """Persist ``frame`` (tracked), materialize it with one eager count(),
    and only then keep the rows where ``nonempty`` holds.

    Docs with no shingles carry no n-gram evidence, and their signature is
    degenerate (all-null MinHash, all-zero SimHash): left in, every short
    doc would band into one spurious O(n^2) near-dup clique and one hot
    band key. The order matters, for two reasons:
    (a) the band self-join and the verify joins are broadcast-planned, and
    Spark kicks off their build futures concurrently — without a populated
    cache each future recomputes the full shingle/signature pass;
    (b) a filter inside the cached plan gets pushed below the
    ensure_parallelism repartition by Catalyst, dragging the whole shingle
    computation (needed to evaluate the predicate) onto the 1-partition
    scan side — measured 34 s single-threaded vs 2 s parallel at sf0.1.

    Cache lifetime: tracked; batch drivers release via
    caching.release_caches().
    """
    frame = persist_tracked(frame)
    frame.count()
    return frame.filter(nonempty)


def _cap_band_size(banded: DataFrame, key: str, max_band_size: int | None) -> DataFrame:
    """Drop band keys whose bucket exceeds ``max_band_size`` rows.

    A band bucket of size B emits ~B^2/2 candidate pairs in the self-join;
    one boilerplate cluster (cookie banners, license headers) can therefore
    concentrate millions of pairs in a single task — the classic LSH skew
    straggler. Oversize buckets carry no near-dup INFORMATION either: a
    bucket that a large fraction of the corpus shares cannot discriminate.
    The standard production mitigation (used by every large-scale MinHash
    pipeline) is to cap bucket size and route exact/boilerplate floods
    through fingerprint dedup first. The count frame is (key, n) — tiny —
    so AQE broadcasts the filter join; one extra shuffle of band keys.
    """
    if max_band_size is None:
        return banded
    counts = banded.groupBy(key).agg(F.count(F.lit(1)).alias("_band_n"))
    return banded.join(
        counts.filter(F.col("_band_n") <= max_band_size), key
    ).drop("_band_n")


def _band_pairs(banded: DataFrame, max_band_size: int | None, *extra: Column) -> DataFrame:
    """Candidate pairs (id_a, id_b, *extra) of a banded (_id, _band_key, ...)
    frame: flood buckets capped (see _cap_band_size), docs sharing any band
    key self-joined, id_a < id_b, deduplicated across bands. ``extra``
    columns may read either side as ``a.<col>`` / ``b.<col>``."""
    banded = _cap_band_size(banded, "_band_key", max_band_size)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on="_band_key")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"), *extra)
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 2,
    ngram: int = 3,
    verify_threshold: float | None = 0.8,
    max_band_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs.

    1. signature: map-only, ``num_hashes`` md5 min-hashes over word ``ngram``
       shingles per doc;
    2. banding: ``bands`` keys of ``num_hashes/bands`` rows each; docs sharing
       any band key become candidates (group-by shuffle on short strings);
       ``max_band_size`` drops flood buckets first (see _cap_band_size) —
       set it at scale, where one boilerplate cluster otherwise serializes
       the self-join into a single quadratic task;
    3. verify: exact shingle-set Jaccard on candidate pairs only (optional).

    Output: (id_a, id_b, jaccard_sim), id_a < id_b, deduplicated across bands.

    Plan shape (matters at 100 TB): tokenize→shingle→md5-signature runs ONCE
    into a single persisted (id, grams, sig) frame feeding every consumer —
    band-key derivation (counts, cap join-back, both sides of the candidate
    self-join all re-explode the cached signature, a trivial concat per
    row) and both sides of the exact-Jaccard verify. The md5 pass is paid
    exactly once, behind one eager count() job (see _persist_nonempty).
    Full shingle arrays are only shuffled for the (tiny) candidate set plus
    one hash-partitioning of the grams frame.
    """
    signed = _persist_nonempty(
        _minhash_signed(df, id_col, text_col, num_hashes, ngram), F.size("_grams") > 0
    )
    cand = _band_pairs(_minhash_bands(signed, num_hashes, bands), max_band_size)
    ga = signed.select(F.col("_id").alias("id_a"), F.col("_grams").alias("_ga"))
    gb = signed.select(F.col("_id").alias("id_b"), F.col("_grams").alias("_gb"))
    pairs = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            portable_round(jaccard(F.col("_ga"), F.col("_gb")), 4).alias("jaccard_sim"),
        )
    )
    if verify_threshold is not None:
        pairs = pairs.filter(F.col("jaccard_sim") >= verify_threshold)
    return pairs


def minhash_estimate_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 2,
    ngram: int = 3,
    max_band_size: int | None = 256,
) -> DataFrame:
    """Sketch-accuracy audit for MinHash: over the SAME LSH candidate pairs
    as ``minhash_lsh_candidates``, report the signature-based Jaccard
    ESTIMATE (fraction of equal components — the only similarity a
    signature-only 100 TB pipeline ever sees) next to the exact shingle
    Jaccard, plus the absolute error. This is the calibration table that
    justifies dropping the exact-verify pass at scale: if |est - exact|
    concentrates below the LSH threshold margin, signatures alone decide.

    Candidates are banding survivors, so estimates are biased >=
    rows_per_band/num_hashes by construction — the audit measures accuracy
    ON THE OPERATING REGION, which is the relevant question. Plan shape is
    the candidate half of minhash_lsh_candidates (one persisted (id, grams,
    sig) frame, band self-join with flood caps); each candidate side joins
    that frame back once, carrying signature and shingle arrays together.

    Output: (id_a, id_b, est_jaccard, exact_jaccard, abs_err).
    """
    signed = _persist_nonempty(
        _minhash_signed(df, id_col, text_col, num_hashes, ngram), F.size("_grams") > 0
    )
    cand = _band_pairs(_minhash_bands(signed, num_hashes, bands), max_band_size)
    sa = signed.select(
        F.col("_id").alias("id_a"), F.col("_sig").alias("_sa"), F.col("_grams").alias("_ga")
    )
    sb = signed.select(
        F.col("_id").alias("id_b"), F.col("_sig").alias("_sb"), F.col("_grams").alias("_gb")
    )
    n_eq = F.size(
        F.filter(
            F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    est = n_eq / F.lit(float(num_hashes))
    exact = jaccard(F.col("_ga"), F.col("_gb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            portable_round(est, 4).alias("est_jaccard"),
            portable_round(exact, 4).alias("exact_jaccard"),
            portable_round(F.abs(est - exact), 4).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------- decontamination

def decontaminate_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, the number of distinct word
    ``ngram`` shingles it shares with ANY benchmark document — the standard
    guard against evaluation data leaking into training corpora.

    Scale shape: the benchmark side reduces to DISTINCT md5(shingle) hashes
    (32-byte keys, no text) — even a million benchmark docs fit a broadcast,
    so the corpus probe is a map-side broadcast hash join with NO shuffle of
    corpus text; the only shuffle is the per-doc hit-count aggregation of
    matched (id, hash) pairs. Output: (<id_col>, n_hits), contaminated docs
    only; anti-join the result against the corpus to keep the clean set.
    """
    bench_hashes = (
        benchmark.select(tokens(normalized_text(F.col(text_col))).alias("_toks"))
        .select(F.explode(shingles_from_tokens(F.col("_toks"), ngram)).alias("_g"))
        .select(F.md5("_g").alias("_h"))
        .distinct()
    )
    # tokens projected before shingling (see shingles_from_tokens), corpus
    # spread across cores first — a single-file corpus would otherwise run
    # the whole shingle+hash probe on one partition
    corpus_hashes = (
        _ensure_parallelism(corpus.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")))
        .select("_id", tokens(normalized_text(F.col("_text"))).alias("_toks"))
        .select("_id", F.explode(shingles_from_tokens(F.col("_toks"), ngram)).alias("_g"))
        .select("_id", F.md5("_g").alias("_h"))
    )
    return (
        corpus_hashes.join(F.broadcast(bench_hashes), "_h")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(F.col("_id").alias(id_col), "n_hits")
    )


# ---------------------------------------------------------------- SimHash

def simhash_bits_from_digests(digests: Column, nibbles: int = 32) -> Column:
    """Portable SimHash signature as a ``nibbles``-char bitstring.

    Bit i's vote per token: +1 when hex nibble i of the token's md5 digest
    has its top bit set (hex char >= '8' — digits sort before letters in
    ASCII so the comparison is exact), -1 otherwise; signature char i is '1'
    iff the summed vote is positive. The construction is plain ANSI SQL
    (substr over md5 hex), so the DuckDB oracle reproduces it bit for bit.
    """

    def vote(i: int):
        return lambda acc, h: acc + F.when(
            F.substring(h, i, 1) >= F.lit("8"), 1
        ).otherwise(-1)

    bits = [
        F.when(F.aggregate(digests, F.lit(0), vote(i)) > 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(1, nibbles + 1)
    ]
    return F.concat(*bits)


def simhash_md5_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    nibbles: int = 32,
    band_chars: int = 16,
    max_hamming: int | None = 3,
    ngram: int = 3,
    max_band_size: int | None = None,
) -> DataFrame:
    """Oracle-portable SimHash near-dup pairs: 32-bit md5-nibble signature
    over word ``ngram`` shingles, bands of ``band_chars`` bitstring chars
    generate candidates, Hamming cut filters to true near-dups. With 2 bands
    of 16 bits, any pair within Hamming distance 1 shares a band by
    pigeonhole; the Hamming cut itself matters on low-entropy corpora, where
    banding alone admits many weak candidates. Shingles (not unigrams) are
    the feature set: on low-entropy corpora shared vocabulary makes unigram
    votes collapse to near-identical signatures. Output: (id_a, id_b, hamming).

    Scale shape: signature build is map-only off one persisted (id, sig)
    frame; the self-join shuffles only (id, sig, band_key) rows.
    """
    n_bands = nibbles // band_chars
    base = _ensure_parallelism(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")))
    toked = base.select("_id", tokens(normalized_text(F.col("_text"))).alias("_toks"))
    # digests materialized in their own projection: the array feeds `nibbles`
    # vote folds; CollapseProject keeps the md5 transform from inlining 32x.
    digs = toked.select(
        "_id",
        _minhash_digests(shingles_from_tokens(F.col("_toks"), ngram), 0).alias("_digs"),
    )
    # The shingle count rides along so shingle-less docs (whose empty digest
    # array sums every vote to 0) are dropped after the cache.
    sig = _persist_nonempty(
        digs.select(
            "_id",
            F.size("_digs").alias("_ng"),
            simhash_bits_from_digests(F.col("_digs"), nibbles).alias("_sig"),
        ),
        F.col("_ng") > 0,
    ).select("_id", "_sig")
    banded = sig.select(
        "_id",
        "_sig",
        F.explode(
            F.array(*[
                F.concat_ws(
                    "|", F.lit(str(b)), F.substring("_sig", b * band_chars + 1, band_chars)
                )
                for b in range(n_bands)
            ])
        ).alias("_band_key"),
    )
    ham = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(nibbles)),
            lambda i: F.col("a._sig").substr(i, F.lit(1)) != F.col("b._sig").substr(i, F.lit(1)),
        )
    )
    pairs = _band_pairs(banded, max_band_size, ham.alias("hamming"))
    if max_hamming is not None:
        pairs = pairs.filter(F.col("hamming") <= max_hamming)
    return pairs


# ---------------------------------------------------------------- embedding near-dup

def embedding_cosine_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs of near-identical embeddings (cosine >= threshold).

    All-pairs here (validation scale); at 100 TB route through
    ``similarity.random_hyperplane_buckets`` first so the join is per-bucket.
    Output: (id_a, id_b, cos_sim).
    """
    v = _ensure_parallelism(df).select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            portable_round(cosine(F.col("a._v"), F.col("b._v")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_cosine_dups_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int | None = None,
    num_tables: int = 1,
) -> DataFrame:
    """Scale path for ``embedding_cosine_dups``: candidate pairs form only
    within sign-LSH buckets, then exact cosine verifies candidates.
    Output: (id_a, id_b, cos_sim).

    OR-amplification (``num_tables`` > 1): each table hashes with an
    INDEPENDENT plane set (plane_offset = t * num_planes), candidates are
    the UNION of per-table bucket joins, deduplicated before verification.
    A true pair is missed only if split in EVERY table: with per-plane
    collision probability p = 1 - θ/π, recall = 1 - (1 - p^planes)^tables —
    tables raise recall, planes cut per-table join cost 2^planes-fold. For
    genuine near-dups (cos ≥ 0.95, p ≈ 0.90) the default registered setting
    (3 planes × 4 tables) recalls ≥ 99%; at looser thresholds recall falls
    (measured against the exact all-pairs reference in pytest).

    Shuffle discipline: the bucket self-join carries each vector and its
    norm, the cosine verify runs INLINE in the join stage, and the
    threshold filter collapses candidates to survivors before any
    exchange — the candidate stream (~2·tables·target_pop·N rows at the
    derived plane count) never materializes (see the inline comment for
    the measured join-back alternative it replaced). The per-bucket join
    is still quadratic WITHIN a bucket (~(N/2^planes)² pairs per bucket
    per table): planes must grow with log2(N / target_bucket_size) so
    bucket populations stay bounded, with tables restoring the recall the
    extra planes cost. ``num_planes=None`` (the default) derives exactly that —
    ``auto_num_planes(count())`` holds expected bucket populations at
    ~LSH_TARGET_BUCKET at ANY corpus size (one cheap count() probe;
    explicit num_planes overrides, as the registered entries do to keep
    their oracles static).

    Verify-then-dedup: the cross-table duplicate-candidate dedup runs AFTER
    the cosine threshold filter, not before. Deduping first costs a full
    shuffle of the entire candidate stream (tables × Σ bucket²) before the
    join-back shuffles it all again; filtering first keeps candidate
    generation, vector join-back, and the cosine verify in one pipelined
    pass, and the distinct then shuffles only the SURVIVORS (true near-dups
    — tiny by definition). The price is re-verifying pairs that collide in
    several tables, bounded by num_tables extra map-side cosines per true
    pair — CPU, not a shuffle. The rounded cosine is deterministic, so
    cross-table duplicate rows are identical and distinct() collapses them
    exactly.

    Exact-clone collapse (round 8, from the planted-skew rehearsal):
    re-crawled corpora ship EXACT-duplicate vectors, and identical vectors
    share every bucket in every table — no number of planes separates
    them, so a clone group of size g costs O(g²)·tables candidate rows,
    each dragging two full vectors through the verify join-back (measured
    6.6× on the skew corpus: 5% clones at x10). Identical vectors are
    also interchangeable everywhere this function looks at them (same
    signature, same norm, same fold — cosine is a pure function of the
    two arrays), so the corpus is first collapsed to one REPRESENTATIVE
    per distinct vector (min id, one keyed window shuffle), candidates
    form and verify at rep granularity, and member pairs are expanded
    back through the skinny (rep, id) map: within-group pairs take the
    group's self-cosine, cross-group pairs take their rep pair's cosine.
    The output SET is provably identical — membership in a bucket, the
    verify value, and the ≥ threshold decision are all functions of the
    vector values alone — and the expansion is O(output), the irreducible
    floor (the pair list itself enumerates every clone pair). Measured on
    the skew corpus: 14.8 s → see BENCH_sf1.json "skew_rehearsal".

    PRECONDITION: ``id_col`` values must be unique (true of every table
    this engine registers — parquet primary keys). The member expansion
    relies on it: a duplicated id would appear in several (rep, id) map
    rows, fan out duplicate pairs, and — via least/greatest on the
    cross-group path — could emit id_a == id_b rows, neither of which the
    pre-collapse a._id < b._id self-join could produce. Callers with
    non-unique ids must dedup ids first (or use the exact
    ``embedding_cosine_dups``, which has no expansion step).
    """
    from sql_query_engine_rs_spark.functions.similarity import (
        dot,
        norm,
        pair_cosine_guarded,
        random_hyperplane_signature,
    )

    from pyspark.sql import Window

    # Exact-clone collapse: one keyed window shuffle attaches each row's
    # representative (the group's min id); everything downstream runs at
    # rep granularity. num_planes still derives from the TOTAL count so
    # the auto-plane anchors (and every static oracle) are unchanged.
    # persist (NOT localCheckpoint — r12 A/B): vm is multi-referenced and
    # its lineage replicates in the analyzed plan (106 Exchange nodes),
    # but the frame is WIDE (full 64-double vectors), and the columnar
    # InMemoryRelation lets each skinny consumer (members reads only
    # (_rid, _id)) column-prune the cache; checkpointed row blocks can't,
    # and the A/B read 3.76 s checkpoint vs 2.41 s persist at sf0.1. The
    # lineage-truncation win applies to SKINNY multi-referenced frames
    # (see pipe_dup_transitivity); wide frames keep persist.
    vm = persist_tracked(
        _ensure_parallelism(df)
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            norm(F.col(vec_col)).alias("_n"),
        )
        .withColumn("_rid", F.min("_id").over(Window.partitionBy("_v")))
    )
    n_vecs = vm.count()
    if num_planes is None:
        num_planes = auto_num_planes(n_vecs)
    reps = vm.filter(F.col("_id") == F.col("_rid"))
    members = vm.select("_rid", "_id")
    # ONE signature pass computes every table's bucket column, persisted —
    # without this, each per-table self-join recomputes the plane folds on
    # BOTH sides (2·tables signature evaluations + their codegen compiles;
    # measured ~2x the operator's whole runtime). The frame carries each
    # vector and its norm THROUGH the bucket self-join so the cosine
    # verify runs inline in the join stage and the threshold filter
    # collapses candidates to survivors before anything hits an exchange.
    # (The earlier design joined SKINNY (id, bucket) frames and joined
    # vectors back by id afterwards — right when candidates are rare, but
    # at target bucket population ~64 the candidate stream is ~128·N rows
    # per the four tables, and shuffling it twice through the join-backs
    # — widened to two full vectors per row — spilled at the x300
    # rehearsal: 234 s, warm trials slower than cold. Carrying vectors
    # through the bucket exchange costs 2·tables·N vector-width rows,
    # ~40× less traffic, and no candidate-sized frame ever materializes:
    # 234 → 46 s at x300. The inline verify kernel is a measured
    # crossover, bit-exact either way: below PAIR_VERIFY_ARROW_MIN reps
    # the interpreted JVM fold reads the vectors in place (~40 µs/pair
    # but zero transfer — 2.2 s at sf0.1 where Arrow's pipe setup and
    # per-candidate vector shipping read 5.1 s); above it the Arrow
    # pair kernel wins despite shipping both vectors per candidate
    # (x300: 46 s Arrow vs 82 s fold — at 75M candidates the fold's
    # interpreter time dominates its zero-copy advantage; the two tie
    # at ~200k reps). A third form — the fold unrolled to a flat
    # 64-term codegen chain — measured SLOWER than the fold both ways:
    # extracting from a cast array re-runs the cast per getItem (O(d²)),
    # and per-element casts leave a method too large to JIT (the same
    # grave the kmeans unrolled-distance A/B found).)
    # Crossover keys on the REP count — candidate volume scales with reps
    # after the collapse, so a clone-heavy corpus (say 400k rows, 20k
    # distinct vectors) belongs on the fold side. Cheap: vm is persisted.
    use_arrow_verify = reps.count() >= PAIR_VERIFY_ARROW_MIN
    bkt = persist_tracked(
        reps.select(
            "_id",
            "_v",
            "_n",
            *[
                random_hyperplane_signature(
                    F.col("_v"), num_planes, plane_offset=t * num_planes
                ).alias(f"_b{t}")
                for t in range(num_tables)
            ],
        )
    )
    bkt.count()
    # ONE melted self-join instead of num_tables per-table self-joins
    # (r12): posexplode folds the table axis into the rows — (_t, bucket)
    # — so the candidate build is a single join keyed on (_t, bucket).
    # Identical pair set: a within-bucket pair of table t appears exactly
    # where the old per-table join emitted it, and the trailing distinct
    # already collapsed cross-table repeats (cos_sim is a function of the
    # vectors, so repeated rows are bit-equal). Identical shuffle BYTES
    # (num_tables× rows through 1 exchange vs 1× rows through num_tables
    # exchanges) but one exchange / one join stage / one analysis of the
    # bkt lineage instead of 2·num_tables references — the formatted plan
    # drops ~4x in size and the scheduler runs one wide stage instead of
    # four sequential ones.
    tbl = bkt.select(
        "_id",
        "_v",
        "_n",
        F.posexplode(F.array(*[F.col(f"_b{t}") for t in range(num_tables)])).alias(
            "_t", "bucket"
        ),
    )
    a, b = tbl.alias("a"), tbl.alias("b")
    surv = (
        a.join(b, on=["_t", "bucket"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            # a degenerate pair's NULL cos_sim fails the >= filter
            portable_round(pair_cosine_guarded(use_arrow_verify), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    rep_pairs = surv.distinct()
    # Expansion back to member pairs — O(output) by construction.
    # Within-group: every pair of clones, at the group's self-cosine
    # (dot(v,v)/(‖v‖·‖v‖) rounds to 1.0 for any finite non-zero vector).
    # Same zero-norm guard as the bucket verify: a zero/degenerate rep
    # gets NULL (division never evaluates — ANSI-safe), fails the filter,
    # and its group emits no within pairs.
    selfcos = reps.select(
        F.col("_id").alias("_rid"),
        portable_round(
            F.when(
                F.col("_n") * F.col("_n") != 0,
                dot(F.col("_v"), F.col("_v")) / (F.col("_n") * F.col("_n")),
            ),
            6,
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)
    m1 = members.select(F.col("_rid"), F.col("_id").alias("id_a"))
    m2 = members.select(F.col("_rid"), F.col("_id").alias("id_b"))
    # selfcos joins BEFORE the m1×m2 fan-out: a group whose rep fails the
    # self-cosine test (the zero/degenerate-vector case — e.g. a failed
    # embedder emitting many all-zero vectors) is eliminated while still
    # one row per member, never materializing its g² within-pairs. Join
    # order is the whole fix — the threshold already rejected these groups,
    # but after the expansion the O(output) bound was broken for them.
    within = (
        m1.join(selfcos, on="_rid")
        .join(m2, on="_rid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cos_sim")
    )
    # Cross-group: each rep pair fans out to all (member_a, member_b)
    # combinations; groups are disjoint so no pair is emitted twice, and
    # least/greatest restores the id_a < id_b orientation the bucket
    # self-join produced when every member met every other directly.
    ma = members.select(F.col("_rid").alias("id_a"), F.col("_id").alias("_ma"))
    mb = members.select(F.col("_rid").alias("id_b"), F.col("_id").alias("_mb"))
    cross = (
        rep_pairs.join(ma, on="id_a")
        .join(mb, on="id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "cos_sim",
        )
    )
    return cross.unionByName(within)


def mirror_pairs(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b",
    out_src: str = "a", out_dst: str = "b",
) -> DataFrame:
    """Emit each (src, dst) pair in BOTH orientations with one explode —
    the row multiset of ``pairs.union(pairs-with-columns-swapped)`` through
    a SINGLE reference to ``pairs``. The union form forces a choice between
    executing the upstream plan (often a whole LSH candidate pipeline or a
    kNN-graph build) once per branch, or paying an extra materialization
    barrier first; the explode needs neither (r12 §19a — one fewer eager
    checkpoint per clustering run, and under reliable checkpointing one
    fewer write to the shared store)."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias(out_src), F.col(dst).alias(out_dst)),
                F.struct(F.col(dst).alias(out_src), F.col(src).alias(out_dst)),
            )
        ).alias("_e")
    ).select(f"_e.{out_src}", f"_e.{out_dst}")


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    reliable_checkpoint: bool = False,
    allow_local_checkpoint: bool = False,
) -> DataFrame:
    """Connected components over a pair list by iterative min-label
    propagation — the canonical Spark shape for iterative graph algorithms
    (driver loop; each step is one join + min-aggregate; converges in
    O(graph diameter) steps).

    Duplicate-pair clustering is the main use: after MinHash/SimHash emit
    near-dup PAIRS, components turn them into dedup GROUPS (keep one doc
    per cluster). Output: (node, cluster_id) where cluster_id is the
    component's minimum node id — deterministic.

    At 100 TB the per-iteration frames are (node, label) pairs — two longs —
    and each iteration is a co-partitioned join on node. Lineage MUST be
    truncated each round: with `persist` alone the logical plan doubles per
    iteration and Catalyst analysis blows up after ~10 rounds. diameter(
    dup-graph) is small in practice (dup clusters are dense), so few
    iterations.

    ``reliable_checkpoint``: the local default truncates lineage with
    `localCheckpoint` (blocks live on executors — fastest, fine in local
    mode and for jobs that can simply rerun). On a real cluster an
    executor loss mid-iteration makes localCheckpoint blocks
    unrecoverable, so pass ``reliable_checkpoint=True`` to write each
    round's state through `checkpoint()` to the reliable store —
    `sc.setCheckpointDir` must point at a shared store (HDFS/S3);
    `session.get_spark(checkpoint_dir=...)` (or the
    SPARK_GRAFT_CHECKPOINT_DIR env var) plumbs it at session build. If
    no checkpoint dir is configured the call REFUSES (r10 verdict item
    4: a silent driver-local fallback defeats the flag's whole purpose —
    reliable checkpoints exist to survive EXECUTOR loss, which needs a
    shared store). Tests and single-box runs that want the flag's code
    path without a shared store opt in explicitly with
    ``allow_local_checkpoint=True``, which uses a driver-local temp dir
    reaped at interpreter exit.
    """
    sc = pairs.sparkSession.sparkContext
    if reliable_checkpoint:
        if sc.getCheckpointDir() is None:
            if not allow_local_checkpoint:
                raise RuntimeError(
                    "connected_components(reliable_checkpoint=True) requires a "
                    "configured checkpoint dir: call "
                    "session.get_spark(checkpoint_dir='hdfs://... or s3://...') "
                    "or sc.setCheckpointDir(...) with a SHARED store. A "
                    "driver-local fallback is not executor-loss-safe; pass "
                    "allow_local_checkpoint=True to opt into one anyway "
                    "(single-box runs / tests only)."
                )
            import atexit
            import shutil
            import tempfile

            # Spark never deletes reliable checkpoint files
            # (spark.cleaner.referenceTracking.cleanCheckpoints defaults
            # to false), so reap the opt-in temp dir at interpreter exit,
            # when no returned frame can still be reading from it.
            tmp = tempfile.mkdtemp(prefix="cc_checkpoint_")
            atexit.register(shutil.rmtree, tmp, ignore_errors=True)
            sc.setCheckpointDir(tmp)

        def _truncate(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)

    else:

        def _truncate(df: DataFrame) -> DataFrame:
            # Deliberately EAGER (r12 A/B): fusing the checkpoint into the
            # convergence aggregate's job via eager=False was measured
            # SLOWER despite saving ~2 jobs per round (dup-clusters family
            # 5.36 s eager vs 5.64 s lazy at sf0.1, and the same lazy
            # pattern cost the IVF family +3.4 s) — materializing a lazy
            # localCheckpoint inside a derived action's job loses more in
            # the combined stage than the saved job scheduling buys. Lazy
            # fusion only wins when the materializing action is a count()
            # over the SAME frame (see pipe_kcore_decompose).
            return df.localCheckpoint(eager=True)

    # Mirror each pair into both orientations with ONE explode instead of
    # a union of two references to `pairs` (see mirror_pairs: the union
    # form previously needed an eager `base` barrier here — one more full
    # job, a second copy of the edge bytes, and under reliable_checkpoint
    # a whole extra write to the shared store).
    mirrored = mirror_pairs(pairs, src, dst)
    # Co-partition the immutable edge frame on its join key ONCE: the
    # checkpointed plan advertises hashpartitioning(b), so every
    # iteration's edges⋈labels join re-exchanges only the (node, label)
    # frame, never the edges. One upfront exchange replaces one per
    # iteration — strictly ahead whenever the graph needs ≥ 2 rounds
    # (same fix measured on pipe_graph_pagerank: x100 deep point went
    # 135.5 s -> 73.7 s, superlinear -> sublinear).
    edges = _truncate(mirrored.distinct().repartition("b"))
    labels = _truncate(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("cluster_id"))
    )
    def label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
        ).collect()[0].s

    # min-propagation labels only ever decrease, so "no label changed" is
    # exactly "sum of labels unchanged" — one cheap aggregate per round
    # instead of a self-join (sum as decimal: no overflow at scale).
    prev_sum = label_sum(labels)
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .select(F.col("a").alias("node"), "cluster_id")
        )
        labels = _truncate(
            labels.unionByName(neighbor_min)
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        new_sum = label_sum(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def semdedup(
    corpus: DataFrame,
    threshold: float = 0.4,
    num_centroids: int | None = None,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hierarchical_assign: bool | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    k-means clustering the embedding space, then dropping near-duplicates
    WITHIN each cluster — the pairwise work that is quadratic globally
    becomes per-cell bounded, which is the whole trick.

    Uses the deterministic IVF codebook (md5-sampled seeds + Lloyd steps,
    ``similarity.ivf_centroids``) so the operator is stateless and
    engine-replayable. Keep rule: a vector is REMOVED iff some smaller-id
    vector in the SAME cell has cosine >= threshold with it (greedy
    keep-min-id — deterministic, one pass, SQL-expressible; the paper keeps
    the member farthest from the centroid, an arbitrary-but-fixed choice).

    Output: (id, centroid_id, kept boolean) — one row per input vector.

    Scale shape: assignment is the nprobe=1 skinny max_by path; the
    within-cell self-join pairs ~(N/k)^2 rows per cell, so k must grow
    linearly with N to keep cell populations (hence per-task pair counts)
    bounded. ``num_centroids=None`` (the default) derives exactly that —
    ``auto_num_centroids(count())`` = ⌈N / SEMDEDUP_TARGET_CELL⌉, one cheap
    count() probe; explicit k overrides (as the registered entries do to
    keep their oracles static). But k ∝ N makes BRUTE-FORCE assignment
    O(N·k) = O(N²) (measured: a 7.8x step for 3x data in the scale
    rehearsal) — so ``hierarchical_assign=None`` (the default) auto-routes
    through ``ivf_assign_two_level`` (N·2·sqrt(k); slightly approximate
    routing, exactness/agreement pinned in pytest) once the effective k
    reaches SEMDEDUP_HIERARCHICAL_K. With both knobs at their defaults the
    operator is scale-safe out of the box: cells stay ~64 vectors and
    assignment is O(N·sqrt(N)) past the crossover. Cells frame is
    checkpointed once and feeds both join sides plus the final keep-list
    join.
    """
    from sql_query_engine_rs_spark.functions.similarity import (
        ivf_centroids,
        nearest_cell,
        norm,
        pair_cosine_guarded,
    )

    if num_centroids is None:
        num_centroids = auto_num_centroids(corpus.count())
    if hierarchical_assign is None:
        hierarchical_assign = num_centroids >= SEMDEDUP_HIERARCHICAL_K
    # The codebook's Lloyd pass is its own N·k term, so it goes
    # hierarchical past the SAME crossover — but strictly by k, not by the
    # caller's final-assign flag: an explicit hierarchical_assign=True at
    # small k (the oracle-replayable registered config) keeps the brute
    # Lloyd build its static DuckDB oracle encodes.
    cents = ivf_centroids(
        corpus, num_centroids=num_centroids, iterations=iterations,
        id_col=id_col, vec_col=vec_col,
        hierarchical_assign=num_centroids >= SEMDEDUP_HIERARCHICAL_K,
    )
    # the checkpointed cells frame carries each vector's norm so the
    # within-cell pair scan folds one array per pair (the dot product), not
    # three — bit-identical to per-pair norms (same fold, hoisted), so the
    # DuckDB oracle needs no change
    cells = (
        nearest_cell(
            _ensure_parallelism(corpus.select(id_col, vec_col)), cents,
            id_col, vec_col, hierarchical_assign,
        )
        .withColumn("_n", norm(F.col(vec_col)))
        .localCheckpoint(eager=True)
    )
    pairs = cells.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "_n", "centroid_id",
    )
    a, b = pairs.alias("a"), pairs.alias("b")
    # round 8: the per-pair dot goes through the Arrow strict-fold kernel
    # (bit-exact to the JVM fold — same values, same oracle; 12.4 → 7.5 s
    # on the 2.1M-pair x30 scan), norms stay hoisted JVM-side; a zero
    # vector's pairs score NULL, fail the cut, and the vector is kept
    removed = (
        a.join(b, on="centroid_id")
        .filter(F.col("a._id") < F.col("b._id"))
        .filter(portable_round(pair_cosine_guarded(True), 6) >= threshold)
        .select(F.col("b._id").alias(id_col))
        .distinct()
        .withColumn("_rm", F.lit(True))
    )
    return (
        cells.select(id_col, "centroid_id")
        .join(removed, on=id_col, how="left")
        .select(
            id_col,
            F.col("centroid_id").cast("int").alias("centroid_id"),
            F.col("_rm").isNull().alias("kept"),
        )
    )


def duplicate_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    reliable_checkpoint: bool = False,
    allow_local_checkpoint: bool = False,
    **minhash_kwargs,
) -> DataFrame:
    """MinHash-LSH pairs -> connected components -> (doc_id, cluster_id):
    the end-to-end dedup-grouping pipeline (keep min(doc_id) per cluster).
    ``reliable_checkpoint`` / ``allow_local_checkpoint`` forward to
    connected_components (cluster deployments: executor-loss-safe lineage
    truncation; the local fallback is opt-in only)."""
    pairs = minhash_lsh_candidates(df, id_col=id_col, text_col=text_col, **minhash_kwargs)
    return connected_components(
        pairs,
        reliable_checkpoint=reliable_checkpoint,
        allow_local_checkpoint=allow_local_checkpoint,
    ).select(F.col("node").alias(id_col), "cluster_id")


def prefix_fingerprint(text: Column, prefix_tokens: int | None = None) -> Column:
    """md5 fingerprint of the normalized text (``prefix_tokens=None``) or of
    its first N tokens — the coarse "head fingerprint" used for
    template/boilerplate-level dedup where full-text hashing is too strict
    (documents differing only past the lead-in should collide)."""
    if prefix_tokens is None:
        return fingerprint(text)
    toks = tokens(normalized_text(text))
    return F.md5(F.array_join(F.slice(toks, 1, prefix_tokens), " "))


def incremental_dedup_status(
    shard: DataFrame,
    index_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fingerprint",
    prefix_tokens: int | None = None,
) -> DataFrame:
    """Classify a NEW ingest shard against a PERSISTED fingerprint index
    without recomputing the index — the batch form of continuous corpus
    ingestion (the streaming twin is stream_dedup_index_upsert).

    Per shard doc, ``status`` is:
    - ``dup_of_index``    — fingerprint already present in the index;
    - ``dup_within_shard``— new to the index but a smaller-id doc in this
                            same shard has the identical fingerprint;
    - ``unique``          — first occurrence anywhere.

    Scale shape: the index is the BIG side (every fingerprint ever
    ingested — billions of 32-char keys at 100 TB, typically a persisted
    parquet table) and the shard is the SMALL side (one ingest batch), so
    the membership probe joins the index against a broadcast of the
    shard's distinct fingerprints: the index streams map-side with zero
    shuffle, and the probe's output is at most |shard| keys. The
    within-shard tie-break is one window over the shard alone. All shard
    columns pass through; adds (fp_col, status).

    No counterpart in the reference (single-shot CSV scans only —
    src/storage/csv/mod.rs has no notion of an incremental corpus).
    """
    from pyspark.sql import Window

    s = shard.withColumn(fp_col, prefix_fingerprint(F.col(text_col), prefix_tokens))
    shard_fps = s.select(fp_col).distinct()
    hits = (
        index_fps.select(fp_col)
        .join(F.broadcast(shard_fps), fp_col)
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    w = Window.partitionBy(fp_col).orderBy(id_col)
    return (
        s.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(hits), fp_col, "left")
        .withColumn(
            "status",
            F.when(F.col("_hit"), F.lit("dup_of_index"))
            .when(F.col("_rn") > 1, F.lit("dup_within_shard"))
            .otherwise(F.lit("unique")),
        )
        .drop("_rn", "_hit")
    )


def minhash_band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 2,
    ngram: int = 3,
) -> DataFrame:
    """(_id, _band_key) pairs — stages 1-2 of minhash_lsh_candidates
    factored out as the probe/index unit of banded MinHash.

    This is the frame a production near-dup INDEX persists (band key ->
    doc) and the frame a new shard probes it with: docs sharing any band
    key are near-dup candidates without either side seeing the other's
    text. Map-only (tokenize -> shingle -> md5-sliced signature -> band
    explode); no persist — index builders write the result, probe
    callers broadcast their (small) side. Docs with no shingles emit no
    rows (no n-gram evidence — callers decide the policy for them).
    Signature and band keys come from the same _minhash_signed and
    _minhash_bands as minhash_lsh_candidates, so an index built here agrees
    with the pair pipeline's banding.
    """
    signed = _minhash_signed(df, id_col, text_col, num_hashes, ngram)
    return _minhash_bands(signed.filter(F.size("_grams") > 0), num_hashes, bands)
