"""Text-analysis building blocks for the documents pipeline.

All functions are pure Column expressions (JVM-side, codegen'd —
no Python UDFs), so they stay in whole-stage codegen at 100 TB.

Shingling convention (shared with the DuckDB oracles): tokens =
lowercased whitespace split; k-shingles = space-joined consecutive
token triples; hashes = md5 hex strings (engine-portable, unlike
xxhash64 whose seeds differ across engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# language marker words for the n-gram/stopword language-ID heuristic
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "fr": ("le", "la", "les", "et", "des", "est"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "it")


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(c), r"\s+")


def shingles(tok: Column, k: int = 3) -> Column:
    """Consecutive k-token shingles as space-joined strings; empty array
    for docs shorter than k tokens (guards Spark's descending
    ``sequence`` on negative lengths).

    ``tok`` is bound to a lambda variable first (see :func:`bind_array`):
    a captured expression would be re-evaluated per shingle, turning a
    tokenize-once scan into O(n·tokenize)."""

    def mk(t: Column) -> Column:
        win = F.transform(
            F.sequence(F.lit(0), F.size(t) - k),
            lambda i: F.array_join(F.slice(t, i + 1, k), " "),
        )
        return F.when(F.size(t) >= k, win).otherwise(
            F.array().cast("array<string>")
        )

    return bind_array(tok, mk)


# MinHash affine permutation family over a single 32-bit base hash:
# h_i(x) = (A_i·x + B_i) mod P — one md5 per shingle instead of one per
# (shingle, seed); A_i < 2^31 and x < 2^32 keep A_i·x within signed
# 64-bit range on every engine.
MINHASH_P = 4294967291  # largest prime < 2^32


def minhash_params(i: int) -> tuple[int, int]:
    a = (2654435761 * (i + 1)) % 2147483647 | 1
    b = (40503 * (i + 7) * 2654435761) % 2147483647
    return a, b


def base_hash32(shingle: Column) -> Column:
    """First 8 hex chars of md5 as a 32-bit integer (engine-portable:
    DuckDB form ``CAST(('0x' || substr(md5(s),1,8))::UBIGINT AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long")


def stopword_ratio(tok: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    hits = F.size(F.filter(tok, lambda t: t.isin(*stopwords)))
    return hits / F.size(tok)


def unique_ratio(tok: Column) -> Column:
    return F.size(F.array_distinct(tok)) / F.size(tok)


def quality_score(n_chars: Column, tok: Column) -> Column:
    """Composite [0,1] quality score: length saturation + non-stopword
    mass + lexical diversity (same arithmetic as the oracle)."""
    from snowalert_spark.functions.numeric import quantize

    return quantize(
        0.4 * F.least(F.lit(1.0), n_chars / F.lit(500.0))
        + 0.3 * (1.0 - stopword_ratio(tok))
        + 0.3 * unique_ratio(tok),
        4,
    )


# composite curation gate: thresholds + FIXED rule order (the first
# failing rule names the rejection). Shared by the batch gate
# (workload.textops curation_filter_pipeline / curation_funnel_stats)
# and the streaming gate (streaming.curation_stream_ingest) so the
# two paths cannot drift.
GATE_LANGS = ("en", "de", "fr", "es")
GATE_MIN_TOKENS = 12
GATE_MIN_QUALITY = 0.55
GATE_MAX_TOP_WORD_FRAC = 0.2


def curation_signals(n_chars: Column, tok: Column) -> list[Column]:
    """The gate's three signal columns (aliased ``n_tokens``,
    ``quality``, ``top_word_frac``) — pure array expressions over one
    tokenization, map-only at any scale."""
    from snowalert_spark.functions.numeric import quantize

    return [
        F.size(tok).cast("long").alias("n_tokens"),
        quality_score(n_chars, tok).alias("quality"),
        quantize(top_fraction(tok), 6).alias("top_word_frac"),
    ]


def curation_outcome(
    langs: tuple[str, ...] = GATE_LANGS,
    contaminated: Column | None = None,
) -> Column:
    """First-failing-rule rejection reason over the signal columns;
    NULL means keep. Optional ``contaminated`` predicate appends a
    final decontamination rule (evaluated only for docs that pass
    every quality rule, matching a funnel where decontamination is
    the last, most expensive stage)."""
    c = (
        F.when(F.col("n_tokens") < GATE_MIN_TOKENS, "too_short")
        .when(F.col("quality") < GATE_MIN_QUALITY, "low_quality")
        .when(F.col("top_word_frac") > GATE_MAX_TOP_WORD_FRAC, "repetitive")
        .when(~F.col("lang").isin(*langs), "lang_excluded")
    )
    if contaminated is not None:
        c = c.when(contaminated, "contaminated")
    return c


def token_chunks(tok: Column, size: int = 32) -> Column:
    """Fixed token-window chunking: array of (chunk_text, n_tokens)
    structs covering the token array in windows of ``size`` (last
    chunk ragged). Pure array expressions — each doc is chunked where
    its row lives, zero shuffle — so at 100 TB this is a map-only
    stage that pipelines into the downstream explode. The n > 0 guard
    keeps Spark's ``sequence`` from going descending on empty docs."""
    def mk(t: Column) -> Column:
        n = F.size(t)
        nch = F.ceil(n / F.lit(float(size))).cast("int")
        win = F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.struct(
                F.array_join(F.slice(t, i * size + 1, size), " ").alias(
                    "chunk_text"
                ),
                F.size(F.slice(t, i * size + 1, size))
                .cast("long")
                .alias("n_tokens"),
            ),
        )
        empty = F.array().cast("array<struct<chunk_text:string,n_tokens:bigint>>")
        return F.when(n > 0, win).otherwise(empty)

    return bind_array(tok, mk)


# PII scrubbing patterns — written in the common subset of Java regex
# (Spark) and RE2 (DuckDB oracle) so both engines match identically.
# Ordered: emails first (their local parts contain digits), then IPv4
# (dotted digit runs), then bare digit runs; each stage counts and
# scrubs on the previous stage's output so no span is double-counted.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("number", r"\d+", "[NUM]"),
)


def pii_scrub(col: Column) -> tuple[Column, dict[str, Column]]:
    """Sequential PII redaction: returns (scrubbed_column, counts) where
    counts[name] is the number of spans each pattern matched at its
    stage. Pure JVM regex expressions — a zero-shuffle map stage that
    whole-stage-codegens, so scrubbing 100 TB is scan-bound."""
    counts: dict[str, Column] = {}
    cur = col
    for name, pat, repl in PII_PATTERNS:
        counts[name] = F.regexp_count(cur, F.lit(pat)).cast("long")
        cur = F.regexp_replace(cur, pat, repl)
    return cur, counts


def bind_array(arr: Column, f) -> Column:
    """Evaluate ``arr`` once and pass it to ``f`` as a lambda-bound
    variable. Catalyst re-evaluates outer expressions captured inside
    higher-order-function lambdas on every element access — an
    O(build-cost) penalty per element that turns nested array ops
    quadratic (a 205 s/5k-doc blowup in the repetition stats).
    ``transform(array(arr), a -> f(a))[1]`` pins the computed value to
    a lambda variable, restoring single evaluation."""
    return F.element_at(F.transform(F.array(arr), f), 1)


def max_multiplicity(sorted_arr: Column) -> Column:
    """Highest element multiplicity of an already-sorted array via a
    single linear scan (longest equal-adjacent run) — O(n) per row
    instead of the O(n²) distinct×filter formulation. Pass a
    lambda-bound sorted array (see :func:`bind_array`) so element_at
    reads are O(1)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.size(sorted_arr) - 1),
        F.struct(F.lit(1).alias("best"), F.lit(1).alias("cur")),
        lambda acc, i: F.when(
            F.element_at(sorted_arr, i + 1) == F.element_at(sorted_arr, i),
            F.struct(
                F.greatest(acc["best"], acc["cur"] + 1).alias("best"),
                (acc["cur"] + 1).alias("cur"),
            ),
        ).otherwise(F.struct(acc["best"].alias("best"), F.lit(1).alias("cur"))),
        lambda acc: acc["best"],
    )


def top_fraction(arr: Column) -> Column:
    """max element multiplicity / len — linear-scan form: bind the
    array, sort once, scan once. Empty arrays → 0.0, singletons → 1.0."""
    return bind_array(
        arr,
        lambda a: bind_array(
            F.sort_array(a),
            lambda sa: F.when(F.size(sa) > 1, max_multiplicity(sa) / F.size(sa))
            .otherwise(F.least(F.size(sa), F.lit(1)).cast("double")),
        ),
    )
