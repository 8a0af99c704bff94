"""Text-analysis operators for large-scale training-data pipelines.

No counterpart exists in the reference (its only string support is Utf8
columns + min/max/equality — src/types/mod.rs:34, src/executor/aggregate/
min_max.rs). These are extension operators, built entirely from JVM-side
``pyspark.sql.functions`` (no Python UDFs in the hot path) so they stay
inside whole-stage codegen and scale linearly with no shuffle:
tokenization, token counting, language-ID, quality scoring, and document
fingerprinting are all per-row map operations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sql_query_engine_rs_spark.functions.expressions import portable_round

# Tiny per-language marker-word lists for the n-gram/stopword heuristic.
# Deliberately small + deterministic (this is a heuristic language ID, not a
# model); extend per deployment.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "a", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "es": ("el", "los", "las", "es", "una", "que"),
}

STOPWORDS_EN = ("the", "of", "and", "a", "to", "in", "is", "it", "for", "on")


def tokens(text: Column) -> Column:
    """Whitespace tokenization -> array<string>, empty tokens dropped.

    Pure JVM expression (split + filter lambda); at 100 TB this is a map-only
    stage with zero shuffle.
    """
    return F.filter(F.split(text, r"\s+"), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    """Whitespace token count (the ``wc -w`` of the pipeline)."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Approximate subword-token count: runs of letters, runs of digits, and
    single punctuation marks each count as one token (a BPE-ish proxy for LLM
    budget accounting when no tokenizer is shipped).

    Implemented as insert-boundary-spaces + whitespace split (instead of
    lookaround regexes) so the construction is expressible in RE2-based
    engines too — the DuckDB oracle reproduces it verbatim.
    """
    spaced = F.regexp_replace(text, r"([A-Za-z]+|[0-9]+)", r" $1 ")
    return F.size(F.filter(F.split(spaced, r"\s+"), lambda t: t != F.lit("")))


def marker_hits_from(toks_lower: Column, markers: tuple[str, ...]) -> Column:
    """How many of the (pre-lowercased) tokens are in the marker set."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks_lower, lambda t: F.array_contains(arr, t)))


def lang_id_from(toks_lower: Column) -> Column:
    """Heuristic language ID from a pre-tokenized lowercase array: argmax of
    marker-word hit counts, 'und' when no marker hits. Deterministic
    tie-break by language code order."""
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    # Iterate in fixed order; strictly-greater keeps the earlier language on ties.
    for code in sorted(LANG_MARKERS):
        hits = marker_hits_from(toks_lower, LANG_MARKERS[code])
        take = hits > best_hits
        best_lang = F.when(take, F.lit(code)).otherwise(best_lang)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best_lang


def quality_score_from(text: Column, toks_lower: Column) -> Column:
    """Composite quality heuristic in [0, 1] from raw text + pre-tokenized
    lowercase array: rewards reasonable length, word-like tokens, and
    stopword presence; penalizes punctuation soup.

    score = 0.25*len_ok + 0.25*mean_token_len_ok + 0.3*stopword_ratio_capped
          + 0.2*(1 - punct_ratio)
    """
    n_chars = F.length(text)
    n_toks = F.size(toks_lower)
    len_ok = F.when((n_chars >= 100) & (n_chars <= 20000), 1.0).otherwise(0.0)
    mean_tok = n_chars / F.greatest(n_toks, F.lit(1))
    mean_tok_ok = F.when((mean_tok >= 3) & (mean_tok <= 12), 1.0).otherwise(0.0)
    stop_ratio = marker_hits_from(toks_lower, STOPWORDS_EN) / F.greatest(n_toks, F.lit(1))
    stop_capped = F.least(stop_ratio * 5, F.lit(1.0))  # ~20% stopwords saturates
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    return portable_round(
        0.25 * len_ok + 0.25 * mean_tok_ok + 0.3 * stop_capped + 0.2 * (1.0 - punct_ratio), 4
    )


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    md5 is used (not xxhash) so the fingerprint is portable across engines —
    the DuckDB oracle computes the identical value. For a pure-Spark pipeline
    ``F.xxhash64`` is ~2× faster; swap freely.
    """
    return F.md5(normalized_text(text))


def ngram_repetition_from_tokens(toks: Column, n: int) -> Column:
    """Fraction of repeated word ``n``-grams — ``1 - distinct/total`` over
    the (non-distinct) shingle sequence; 0.0 for docs shorter than ``n``
    tokens. The Rae et al. (Gopher) repetition signal: high values mark
    boilerplate/spam that per-token quality scores miss. Map-only.

    Shingles build as zip_with over shifted copies of the token array (each
    argument evaluated once per row) — transform(sequence, i -> slice(toks,
    i, n)) would re-evaluate a captured tokenize expression per element,
    O(L^2) regex work per doc. Pass a pre-projected token column."""
    acc = toks
    for k in range(1, n):
        nxt = F.slice(toks, k + 1, F.size(toks))
        acc = F.zip_with(
            acc, nxt,
            lambda a, b: F.when(a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)),
        )
    grams = F.array_compact(acc)
    total = F.size(grams)
    return F.when(
        total > 0, F.lit(1.0) - F.size(F.array_distinct(grams)) / total
    ).otherwise(F.lit(0.0))


def ngram_repetition(text: Column, n: int) -> Column:
    """``ngram_repetition_from_tokens`` over ``tokens(normalized_text(text))``
    — prefer projecting the tokens into a column first (the tokenize pipeline
    is embedded n times here, evaluated per row)."""
    return ngram_repetition_from_tokens(tokens(normalized_text(text)), n)


def char_shingle_sketch_from_norm(norm: Column, k: int = 5, sketch_size: int = 4) -> Column:
    """Winnowing-style document sketch: the ``sketch_size`` smallest md5
    hashes of the character ``k``-grams of pre-normalized text ``norm``.

    A rolling-fingerprint selection (Schleimer et al.'s winnowing picks
    per-window minima; taking the global bottom-``sketch_size`` is the
    order-free variant that needs no window state): near-identical documents
    share most of their minimum shingle hashes, so equal sketch elements
    are a cheap containment signal. md5 keeps it engine-portable.

    ``norm`` is captured inside the per-character lambda below, so pass a
    projected COLUMN — a regex-normalize expression here would be
    re-evaluated once per character position (O(L^2) regex per doc)."""
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
    grams = F.transform(idx, lambda i: norm.substr(i, F.lit(k)))
    hashes = F.array_distinct(F.transform(grams, lambda g: F.md5(g)))
    return F.slice(F.array_sort(hashes), 1, sketch_size)


# --------------------------------------------------------------- PII scrubbing

# RE2-safe patterns (no backrefs/lookaround) so Spark and DuckDB agree.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("phone", r"\+?[0-9][0-9()\-\s]{6,}[0-9]", "<PHONE>"),
)


def scrub_pii(text: Column) -> Column:
    """Replace emails, URLs, and phone-like digit runs with typed placeholder
    tags. Order matters (URLs can contain '@'); patterns apply URL→email→
    phone so each span is tagged once. Map-only JVM regexp_replace — no
    Python, no shuffle."""
    out = text
    for _name, pat, tag in sorted(PII_PATTERNS, key=lambda p: p[0] != "url"):
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts (for audit metrics alongside the scrub)."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        for name, pat, _tag in PII_PATTERNS
    }


# --------------------------------------------------------------- chunking

def chunk_tokens(
    df: DataFrame,
    chunk_size: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-size token chunks (the LLM-training
    unit). Output: (id, chunk_id, chunk_text, n_tokens) — one row per chunk,
    chunk_id 0-based, last chunk ragged.

    Shape at scale: tokenize + slice + posexplode are all map-side (explode
    multiplies rows but never shuffles); downstream repartitioning happens at
    whatever the next shuffle is. Slices reference the one tokens array —
    no quadratic copying.
    """
    # tokens materialized once: the chunk lambda below captures its argument,
    # so slicing a raw tokenize expression would re-run the regex pipeline
    # per chunk. One slice per chunk over a column is O(L) total.
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")).filter(
        F.size("_toks") > 0
    )
    toks = F.col("_toks")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_size)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * chunk_size + 1, chunk_size)),
    )
    return toked.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "chunk_text")
    ).withColumn("n_tokens", token_count(F.col("chunk_text")))


def canonicalize_url(url: Column) -> Column:
    """Canonical form for URL-level dedup (crawl curation's first pass):

    - fragment dropped first (``#...`` is never sent to the server, so it
      cannot distinguish fetched pages — and stripping it up front keeps
      path-less URLs like ``e.com#f`` from folding the fragment into the
      host match);
    - scheme dropped (http vs https never distinguishes a page);
    - leading ``www.`` dropped, host lowercased (DNS is case-insensitive;
      the path is left case-sensitive per RFC 3986);
    - tracking query params removed case-insensitively (``utm_*``,
      ``ref`` — ``?UTM_SOURCE=x`` is the same tracker), other params
      kept — then dangling ``?``/``&`` separators cleaned;
    - trailing slashes on the path stripped (whether or not a query
      follows: ``/a/?id=5`` == ``/a?id=5``).

    The path and query are split on the FIRST ``?`` before any stripping,
    so a literal ``&`` inside a path segment (``/a&ref=b`` with no query)
    is never mistaken for a parameter separator — two distinct resources
    stay distinct.

    Pure JVM regexp chain — no UDF, stays inside whole-stage codegen, so
    canonicalizing 100 TB of crawl URLs is map-only scan work. The regexes
    are RE2-compatible (no lookbehind — the tracking-param match anchors on
    an explicit [?&] separator kept via backreference, so ``xref=`` style
    param names never false-match; the inline ``(?i:...)`` group is shared
    RE2/Java syntax) so a DuckDB oracle applies the identical chain. The
    param strip matches a maximal RUN of adjacent tracking params in one
    pass (``utm_source&utm_medium&utm_campaign`` clusters are the common
    case — each param in the run consumes its own trailing separator, so
    any run length collapses to the kept leading separator).
    """
    no_frag = F.regexp_replace(url, r"#.*$", "")
    no_scheme = F.regexp_replace(no_frag, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    # lower BEFORE the www-strip: the strip regex is case-sensitive, so the
    # reverse order would let WWW.example.com keep its prefix
    host = F.regexp_replace(
        F.lower(F.regexp_extract(no_scheme, r"^[^/?]*", 0)), r"^www\.", ""
    )
    rest = F.regexp_extract(no_scheme, r"^[^/?]*(.*)$", 1)
    path = F.regexp_extract(rest, r"^[^?]*", 0)
    query = F.regexp_extract(rest, r"(\?.*)$", 1)
    query = F.regexp_replace(
        query, r"([?&])(?:(?i:utm_[a-z]+|ref)=[^&]*(?:&|$))+", "$1"
    )
    query = F.regexp_replace(query, r"[?&]+$", "")
    path = F.regexp_replace(path, r"/+$", "")
    return F.concat(host, path, query)
