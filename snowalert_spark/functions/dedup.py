"""Deduplication operators for large-scale document corpora.

Four tiers, all shuffle-aware:

- exact: hash-groupBy on md5(text). One shuffle on the hash.
- ngram-jaccard: exact set-similarity via shingle inverted index +
  pair aggregation. Quadratic in colliding docs — the correctness
  baseline the LSH tier is verified against.
- minhash-LSH: shingle → per-seed min-hash signature → banded bucket
  join → exact verification of candidates only. The 100 TB path: cost
  is O(docs × seeds) + O(candidate pairs), never all-pairs.
- simhash: 32-bit fingerprint from md5-derived shingle bits (portable
  across engines, unlike xxhash).

Everything is built-in Column expressions — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from snowalert_spark.functions.numeric import quantize
from snowalert_spark.tables import spread
from snowalert_spark.functions.text import (
    MINHASH_P,
    base_hash32,
    minhash_params,
    shingles,
    tokens,
)


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc canonical flag: keeper = min id within each exact-text
    group (single window over the content hash)."""
    h = F.md5(F.col(text_col))
    w = W.partitionBy("text_hash")
    return (
        docs.select(F.col(id_col), h.alias("text_hash"))
        .withColumn("keeper_doc_id", F.min(id_col).over(w))
        .withColumn("is_canonical", F.col(id_col) == F.col("keeper_doc_id"))
    )


def cross_snapshot_dedup(
    batch: DataFrame,
    base: DataFrame,
    key: Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Incremental (cross-snapshot) dedup: keep the rows of ``batch``
    whose content key does not appear anywhere in ``base`` (the
    already-ingested corpus). This is the standard shape for
    continuously-crawled training data — each new snapshot is deduped
    against the union of all prior snapshots without re-deduping the
    prior corpus itself. ``key`` is the content fingerprint (default:
    md5 of the raw text); crawl pipelines typically pass a normalized
    fingerprint (lowercased token prefix, stripped boilerplate) so
    trivially-mutated recrawls still collide. ``keep_cols`` names
    passthrough metadata columns carried from ``batch`` into the
    output (missing columns are silently skipped).

    Scale shape: both sides reduce to 16-byte md5 keys at the scan
    (strings never shuffle), the base side is a distinct-aggregated
    key set (map-side combine), and survival is a hash-partitioned
    LEFT ANTI join on the key. Neither side is assumed broadcastable
    — at 100 TB the base key set is itself TBs; bucketing both
    snapshots' key columns on ingest makes the anti join co-located
    and shuffle-free on subsequent runs.

    Reference analog: none (training-pipeline extension); semantics
    follow incremental crawl dedup in public corpus pipelines
    (e.g. CCNet / RefinedWeb snapshot-over-snapshot dedup).
    """
    if key is None:
        key = F.md5(F.col(text_col))
    bh = base.select(key.alias("text_hash")).distinct()
    carry = [c for c in keep_cols if c in batch.columns]
    b = batch.select(F.col(id_col), *[F.col(c) for c in carry], key.alias("text_hash"))
    return b.join(bh, "text_hash", "left_anti").select(
        id_col, *carry, "text_hash"
    )


def doc_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs — the inverted-index input.
    The doc input is spread by id (tables.spread, r13) so the
    tokenize+shingle expansion parallelizes off a narrow scan; no-op
    at cluster scale."""
    return spread(docs, "doc_id").select(
        "doc_id", F.explode(F.array_distinct(shingles(tokens("text"), k))).alias("s")
    )


def decontaminate_ngram(
    docs: DataFrame,
    bench_pred,
    k: int = 5,
    frac_digits: int = 6,
) -> DataFrame:
    """Benchmark decontamination: for every non-benchmark document,
    count distinct k-token shingles it shares with the benchmark set
    (``bench_pred``: Column predicate selecting the held-out eval docs)
    and flag any overlap as contamination.

    Scale shape: the benchmark shingle set is tiny relative to the
    corpus (an eval suite is MBs against 100 TB of training data), so
    it is collected to a broadcast hash join — the corpus side streams
    through a map-side semi-probe with no shuffle of the corpus
    shingles; the only shuffle is the per-doc count aggregation, which
    map-side combines.

    Reference analog: none (training-pipeline extension); semantics
    follow the n-gram-collision decontamination used by public LLM
    training pipelines (e.g. GPT-3 appendix C / The Pile).

    One shingling pass per side and ONE shuffle total: the benchmark
    predicate pushes into each side's scan (the eval side shingles
    only its 1/17th of the corpus), membership is probed through a
    broadcast left join on xxhash64(shingle) — 8-byte keys, strings
    never leave the map stage — and both per-doc outputs (set size,
    hit count) come from a single map-side-combined aggregation. An
    earlier sizes⋈hits formulation shingled the corpus three times
    and shuffled it twice: 28.6x-of-sf1 wall at sf10 vs ~7x for this
    shape."""
    bench = (
        doc_shingles(docs.where(bench_pred), k)
        .select(F.xxhash64("s").alias("h"))
        .distinct()
        .withColumn("bhit", F.lit(1))
    )
    corpus = doc_shingles(docs.where(~bench_pred), k).select(
        "doc_id", F.xxhash64("s").alias("h")
    )
    agg = (
        corpus.join(F.broadcast(bench), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("bhit").alias("n_benchmark_hits"),
        )
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_benchmark_hits",
        quantize(
            F.col("n_benchmark_hits") / F.col("n_shingles"), frac_digits
        ).alias("overlap_frac"),
        (F.col("n_benchmark_hits") > 0).alias("contaminated"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    prefilter: bool | None = None,
    n_docs: int | None = None,
    prefilter_cutoff: int = 100_000,
) -> DataFrame:
    """Exact Jaccard near-dup pairs over k-token shingles.

    Two result-identical physical strategies, chosen cost-based (the
    same idea as Catalyst's broadcast-vs-shuffle join threshold):

    - **direct** (small corpora): inverted-index self-join on shingle
      with the symmetric length-ratio filter, |∩| aggregated per pair.
      Fewest stages; wins while posting lists are short.
    - **prefix-filtered** (large corpora): AllPairs/PPJoin-style
      candidate generation (public literature). Order each doc's
      shingle set by ascending global document frequency (ties by
      shingle) and index only the first ``n - ceil(T*n) + 1``
      shingles. With the length-ratio filter (qualifying pairs have
      overlap ≥ ceil(T*|A|) and ≥ ceil(T*|B|)), the FIRST shared
      shingle in the global order provably lies in both prefixes, so
      the filter is lossless for J ≥ T. Hot shingles sort LAST and
      fall outside almost every prefix: candidate volume stays linear
      in genuine near-dup mass instead of quadratic in posting-list
      length (at the 500k-doc sf10 bench the direct join was
      47x-of-sf1 wall; prefix filtering restores ~linear scaling).
      Verification is exact on candidates only:
      ``size(array_intersect(...))`` over per-doc sorted shingle
      arrays — JVM-side, no UDF.

    ``prefilter=None`` auto-selects by corpus row count
    (``> prefilter_cutoff`` docs → prefix path); pass ``n_docs`` to
    skip the count scan, or ``prefilter=True/False`` to force a
    strategy. Returns (doc_a, doc_b, jaccard) — identical for both
    paths (epsilon-relaxed bounds only ever ADD candidates, and
    verification is exact)."""
    if prefilter is None:
        prefilter = (n_docs if n_docs is not None else docs.count()) > prefilter_cutoff
    sh = doc_shingles(docs, k)
    if not prefilter:
        sh = sh.cache()
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
        szd = sh.join(sizes, "doc_id")
        a = szd.alias("a")
        b = szd.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.col("a.n") >= threshold * F.col("b.n"))
                & (F.col("b.n") >= threshold * F.col("a.n")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count("*").alias("c"))
        )
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
        j = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
        return (
            common.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", quantize(j, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    # Shingle strings never leave their map stage: every shuffle-side
    # structure (document frequency, prefix index, verification sets)
    # keys on xxhash64(s) — 8 bytes instead of a ~20-char string, which
    # at sf10 cut the verification join's shuffle payload ~2.5x. A
    # cross-shingle 64-bit collision (P ≈ n²/2⁶⁴ ≈ 1e-7 at 26M shingle
    # rows) could only merge two distinct shingles — candidates and
    # intersections are computed on the hashed ids end to end, so both
    # sides of the Jaccard stay mutually consistent.
    shh = sh.select("doc_id", F.xxhash64("s").alias("h")).cache()
    dfreq = shh.groupBy("h").agg(F.count("*").alias("df"))
    wp = W.partitionBy("doc_id")
    w = wp.orderBy("df", "h")
    # prefix length n - ceil(T*n) + 1; the 1e-9 slack makes float
    # boundary noise lengthen the prefix (extra candidates) rather
    # than shorten it (lost pairs). df = 1 shingles occupy prefix
    # positions (computed first) but can never collide — drop them
    # from the join input after the rank filter. n (set size) comes
    # from a count window over the same partitioning, so the prefix
    # build is one shuffle on h (df join) + one on doc_id (window) —
    # the earlier sizes-join formulation shuffled the full shingle
    # relation a third time.
    pref = (
        shh.join(dfreq, "h")
        .withColumn("n", F.count("*").over(wp))
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n") - F.ceil(threshold * F.col("n") - 1e-9) + 1
        )
        .filter(F.col("df") > 1)
        .select("doc_id", "h", "n", "rn")
    )
    a = pref.alias("a")
    b = pref.alias("b")
    # PPJoin positional filter: for the FIRST shared shingle (global
    # (df, h) order) at 1-based positions rn_a/rn_b, no common shingle
    # precedes it, so overlap ≤ 1 + min(n_a - rn_a, n_b - rn_b); a
    # J ≥ T pair needs overlap ≥ T/(1+T)·(n_a+n_b). Later collision
    # rows of a qualifying pair may fail this bound, but its
    # first-collision row always survives, so distinct() keeps the
    # filter lossless. At sf10 this cuts candidates ~3x before the
    # expensive verification join.
    min_overlap = (threshold / (1.0 + threshold)) * (
        F.col("a.n") + F.col("b.n")
    ) - 1e-9
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n") >= threshold * F.col("b.n") - 1e-9)
            & (F.col("b.n") >= threshold * F.col("a.n") - 1e-9)
            & (
                1
                + F.least(
                    F.col("a.n") - F.col("a.rn"),
                    F.col("b.n") - F.col("b.rn"),
                )
                >= min_overlap
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sets = shh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h")).alias("ss")
    )
    c = F.size(F.array_intersect(F.col("sa.ss"), F.col("sb.ss")))
    na = F.size(F.col("sa.ss"))
    nb = F.size(F.col("sb.ss"))
    j = c / (na + nb - c)
    return (
        cand.join(sets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", quantize(j, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _signature_aggs(n_hashes: int) -> list:
    aggs = []
    for i in range(n_hashes):
        a, b = minhash_params(i)
        aggs.append(
            F.min(F.expr(f"({a} * h + {b}) % {MINHASH_P}")).alias(f"mh_{i}")
        )
    return aggs


def minhash_band_buckets(
    signatures: DataFrame, n_hashes: int = 24, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, band_hash) from the wide signature — band hashes
    are column expressions (seed order is literal), then unpivoted;
    no extra shuffle."""
    n_bands = n_hashes // rows_per_band
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.col(f"mh_{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
        ).alias(f"band_{b}")
        for b in range(n_bands)
    ]
    wide = signatures.select("doc_id", *band_cols)
    stack = ", ".join(f"{b}, band_{b}" for b in range(n_bands))
    return wide.select(
        "doc_id",
        F.expr(f"stack({n_bands}, {stack}) AS (band, band_hash)"),
    )


def _shingle_buckets(
    sh: DataFrame, n_hashes: int, rows_per_band: int, id_col: str = "doc_id"
) -> DataFrame:
    """The one MinHash bucket builder: shingle rows ``(id_col, s)`` →
    ``(id_col, band, band_hash)``. One md5 per shingle (the 32-bit base
    hash), then the affine permutation family h_i = (A_i·h + B_i) mod P
    as ``n_hashes`` cheap MIN aggregates (no seed explosion, one
    shuffle keyed on the id), then the bands. Serves the batch
    operators and the streaming text tier alike, so buckets built in
    different micro-batches, sessions or snapshots collide exactly."""
    sigs = (
        sh.select(F.col(id_col).alias("doc_id"), base_hash32(F.col("s")).alias("h"))
        .groupBy("doc_id")
        .agg(*_signature_aggs(n_hashes))
    )
    return minhash_band_buckets(sigs, n_hashes, rows_per_band).withColumnRenamed(
        "doc_id", id_col
    )


def _verified_jaccard(
    cands: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    threshold: float,
    a: str,
    b: str,
) -> DataFrame:
    """The one exact shingle-Jaccard verifier: candidate pairs ``(a,
    b)`` → ``(a, b, jaccard)`` for the pairs at or above ``threshold``.
    ``a`` ids are shingled in ``sh_a``, ``b`` ids in ``sh_b`` (both
    ``(doc_id, s)``). Only candidates touch the shingle join; set
    sizes are one count aggregate per side."""
    na = sh_a.groupBy("doc_id").agg(F.count("*").alias("na"))
    nb = sh_b.groupBy("doc_id").agg(F.count("*").alias("nb"))
    common = (
        cands.join(sh_a.select(F.col("doc_id").alias(a), F.col("s").alias("sa")), a)
        .join(
            sh_b.select(F.col("doc_id").alias("_b"), F.col("s").alias("sb")),
            (F.col(b) == F.col("_b")) & (F.col("sa") == F.col("sb")),
        )
        .groupBy(a, b)
        .agg(F.count("*").alias("c"))
    )
    j = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.join(na.withColumnRenamed("doc_id", a), a)
        .join(nb.withColumnRenamed("doc_id", b), b)
        .select(a, b, quantize(j, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 24,
    rows_per_band: int = 4,
    k: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup detection: banded candidate generation +
    exact Jaccard verification of candidates only.

    With 24 hashes / 6 bands of 4: P(candidate | j=0.8) ≈ 0.96,
    P(candidate | j=0.15 background) ≈ 0.3%, and every candidate is
    exact-verified, so false positives are eliminated — output is a
    deterministic subset of ngram_jaccard_pairs. Buckets come from
    :func:`_shingle_buckets` and verification from
    :func:`_verified_jaccard`, the cores :func:`cross_snapshot_minhash`
    shares."""
    # one cached shingle index feeds signatures, sizes and verification
    sh = doc_shingles(docs, k).cache()
    buckets = _shingle_buckets(sh, n_hashes, rows_per_band)
    cands = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verified_jaccard(cands, sh, sh, threshold, "doc_a", "doc_b")


def cross_snapshot_minhash(
    batch: DataFrame,
    base: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 24,
    rows_per_band: int = 4,
    k: int = 3,
) -> DataFrame:
    """Incremental NEAR-dup across snapshots: for every doc in the new
    ``batch``, find the ``base``-corpus docs it is a near-duplicate of
    (exact shingle-Jaccard ≥ threshold), using MinHash band collisions
    for candidate generation so neither side is ever all-paired.
    Output: (doc_id [batch], dup_of [base], jaccard).

    The companion to :func:`cross_snapshot_dedup` (exact keys): a
    crawl pipeline runs the exact pass first, then this pass catches
    boilerplate-mutated recrawls. Same cores as
    :func:`minhash_lsh_pairs` (:func:`_shingle_buckets`, then
    :func:`_verified_jaccard`): signatures are per-side one-shuffle
    aggregations, candidates come from an equi-join on
    (band, band_hash) which at 100 TB is hash-partitioned with the
    base side's buckets reusable across snapshots (compute once,
    store), and only candidates are exact-verified. Probability
    calibration is identical (24 hashes / 6 bands of 4: ≈96% recall
    at j=0.8, ≈0.3% background collision).

    Caching contract: both shingle frames are ``.cache()``d here (each
    feeds signatures, sizes AND verification — recomputing them would
    triple the shingling work inside one action). The handles persist
    for the session after the result materializes; callers running
    many snapshots through a long-lived driver should reclaim them
    with ``spark.catalog.clearCache()`` between snapshots, or pass
    pre-shingled frames once that shape is needed.
    """
    shb = doc_shingles(batch, k).cache()
    shB = doc_shingles(base, k).cache()
    a = _shingle_buckets(shb, n_hashes, rows_per_band).alias("a")
    b = _shingle_buckets(shB, n_hashes, rows_per_band).alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("dup_of"))
        .distinct()
    )
    return _verified_jaccard(cands, shb, shB, threshold, "doc_id", "dup_of")


def simhash_fingerprints(docs: DataFrame, bits: int = 32, k: int = 3) -> DataFrame:
    """32-bit SimHash per doc from shingle md5s: bit b of the
    fingerprint is the sign of Σ_shingles (2·bit_b(md5) − 1).

    Portable (bit source = first 8 hex chars of md5) and wide: the
    per-bit ±1 sums are ``bits`` column aggregates over the shingle
    rows — one shuffle keyed on doc_id, no |shingles|×bits row
    explosion — then recombined into the fingerprint as a single
    column expression."""
    sh = doc_shingles(docs, k)
    h32 = F.conv(F.substring(F.md5(F.col("s")), 1, 8), 16, 10).cast("long")
    hashed = sh.select("doc_id", h32.alias("h"))
    aggs = [
        F.sum(F.expr(f"(CAST(shiftright(h, {b}) AS BIGINT) % 2) * 2 - 1")).alias(
            f"sv_{b}"
        )
        for b in range(bits)
    ]
    per_doc = hashed.groupBy("doc_id").agg(*aggs)
    fp = None
    for b in range(bits):
        term = F.when(
            F.col(f"sv_{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return per_doc.select("doc_id", fp.alias("simhash"))


def exact_dup_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_a, doc_b) pairs sharing identical text, doc_a < doc_b.

    Derived from the exact-dedup hash groups (one shuffle on
    md5(text)) rather than a raw self-join: within each hash group the
    keeper (min id) pairs with every other member, which is exactly
    the edge set connected-components needs — |group|−1 edges per
    group instead of the |group|² join output."""
    d = exact_dedup(docs, id_col, text_col)
    return d.filter(~F.col("is_canonical")).select(
        F.col("keeper_doc_id").alias("doc_a"), F.col(id_col).alias("doc_b")
    )


# ---------------------------------------------------------------------------
# Multi-block hamming search (Manku, Jain & Sarma, "Detecting
# Near-Duplicates for Web Crawling", WWW 2007 §3): all pairs within
# hamming ``t`` of a 64-bit perceptual hash, at corpus scale. Split
# the hash into ``b`` blocks; <= t flipped bits corrupt <= t blocks,
# so every qualifying pair agrees on some (b - t)-subset of blocks —
# candidates are an equi-join on C(b, r) composite block keys
# (r = b - t), verified by exact popcount. The key width r*(64/b)
# bits is the collision lever: the corpus-size schedule widens keys
# (more, narrower blocks) so chance candidates stay O(n) without
# touching the hash or the verify — OUTPUT IS IDENTICAL ACROSS
# SHAPES, so the DuckDB oracles pin every shape at once.
#
# Why not longer fingerprints instead (256-bit dHash)? Measured on
# the byte-pooled synthetic corpus: finer grids OVERSAMPLE short
# payloads (≈300 bytes) — at 128-bit, 11 of C(500,2) unrelated doc
# pairs land within hamming 3 (0 at 64-bit), and at 256-bit two
# distinct 63-byte docs hash IDENTICALLY. Real images (>=10^5 px)
# would support wider hashes, but the multi-block scheme scales the
# candidate join with NO precision cost on any payload entropy.
# ---------------------------------------------------------------------------

#: Media near-dup corpora at or below this many hash rows keep the
#: gate shape (4 single 16-bit blocks — the 4x16 banding the static
#: DuckDB oracles replay as their candidate CTE; output is
#: shape-independent so this is a perf pin, not a correctness one).
MEDIA_GATE_N = 8192

# per-shape block bit widths: 64/b bits, rounded up to the slot size
# used when packing combo keys (so distinct block tuples can't alias)
_BLOCK_SLOT_BITS = {4: 16, 6: 11, 8: 8}


def hamming_block_schedule(n: int, ham_t: int = 3) -> tuple[int, int]:
    """Corpus-size-aware ``(blocks, combo_r)`` for
    :func:`hamming_pairs_multiblock` — the media-tier analog of
    ``similarity.rplsh_params_for_corpus``. Expected chance candidates
    are ``C(b,r) * n^2 / 2^(r*64/b)``; each step widens the composite
    key so that stays O(n):

    - n <= MEDIA_GATE_N: (4, 1) — 4 keys/row, 16-bit keys (the
      oracle-pinned gate banding; fine to ~2^13 rows).
    - n <= 2^26: (6, 3) — C(6,3)=20 keys/row, 32-bit keys (~10-11 bit
      blocks); chance candidates 20*n^2/2^32 stay under n to ~10^8.
    - else: (8, 5) — C(8,5)=56 keys/row, 40-bit keys; holds past
      10^10 rows (a 100 TB multimodal corpus).

    Every shape satisfies blocks - combo_r >= ham_t, so recall at the
    verify threshold is pigeonhole-exact and the OUTPUT is identical
    across shapes — the schedule only changes candidate volume."""
    if ham_t > 3:
        raise ValueError(
            f"hamming_block_schedule shapes guarantee recall to t=3; "
            f"got t={ham_t} (add wider shapes for larger thresholds)"
        )
    if n <= MEDIA_GATE_N:
        return (4, 1)
    if n <= 1 << 26:
        return (6, 3)
    return (8, 5)


def multiblock_key_rows(
    hashed_bd: DataFrame, blocks: int, combo: int, id_col: str = "media_id"
) -> DataFrame:
    """``(id_col, ci int, kv long)`` — one row per C(blocks, combo)
    composite key of the 64-bit hash carried as the 8-byte array
    column ``bd``. The Manku composite-key generator shared by the
    batch candidate engine (:func:`hamming_pairs_multiblock`) and the
    streaming media tier (whose persisted state IS these key rows, so
    buckets computed in different micro-batches or sessions collide
    exactly like same-session ones)."""
    import itertools

    byte = [F.col("bd")[i].cast("long") for i in range(8)]
    hi = ((byte[0] * 256 + byte[1]) * 256 + byte[2]) * 256 + byte[3]
    lo = ((byte[4] * 256 + byte[5]) * 256 + byte[6]) * 256 + byte[7]
    if blocks == 4:
        blk = [
            F.shiftright(hi, 16),
            hi.bitwiseAND(F.lit(0xFFFF)),
            F.shiftright(lo, 16),
            lo.bitwiseAND(F.lit(0xFFFF)),
        ]
    elif blocks == 6:
        mask11 = F.lit(0x7FF)
        blk = [
            F.shiftright(hi, 22),
            F.shiftright(hi, 11).bitwiseAND(mask11),
            hi.bitwiseAND(mask11),
            F.shiftright(lo, 22),
            F.shiftright(lo, 11).bitwiseAND(mask11),
            lo.bitwiseAND(mask11),
        ]
    else:  # blocks == 8: the hash bytes themselves
        blk = byte
    slot = _BLOCK_SLOT_BITS[blocks]
    keys = []
    for sel in itertools.combinations(range(blocks), combo):
        key = F.lit(0).cast("long")
        for i in sel:
            key = F.shiftleft(key, slot) + blk[i]
        keys.append(key)
    return hashed_bd.select(
        id_col, F.posexplode(F.array(*keys)).alias("ci", "kv")
    )


def hamming_bd(a: str | Column, b: str | Column) -> Column:
    """Exact hamming distance between two 64-bit hashes carried as
    8-byte array columns (the multi-block engine's verify expression)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("int")


def hamming_pairs_multiblock(
    hashed8: DataFrame,
    threshold: int,
    blocks: int | None = None,
    combo: int | None = None,
    id_col: str = "media_id",
    stats: dict | None = None,
    output: str = "pairs",
) -> DataFrame:
    """Near-dup pairs over any 64-bit hash emitted as 8 byte columns
    ``band_0..band_7`` (+ ``id_col``): candidate pairs share one of
    the C(blocks, combo) composite block keys (an equi-join on
    (combo_id, key) — ids + one long per row, never a product join,
    payloads never shuffle), then exact popcount over the 8 hash
    bytes verifies ``hamming <= threshold``. Recall is exact by
    pigeonhole whenever ``blocks - combo >= threshold``; the
    (blocks, combo) choice only trades candidate volume and defaults
    to :func:`hamming_block_schedule` sized on the hash-row count.
    Shared by the image-dHash, audio-fingerprint, and video
    frame-hash tiers so the candidate/verify shape can't diverge
    between siblings.

    The hash table is localCheckpoint-materialized first: it has
    FOUR consumers (both candidate sides + both verify join-backs),
    and without the cut each re-runs the Arrow decode/hash stage —
    at 9 bytes per row the materialization is ~0.1% of the media
    bytes, the standard fingerprint-table shape at 100 TB. The
    count() that sizes the schedule then reads the checkpoint, not
    the corpus.

    EXACT-COLLAPSE pre-pass (r10): the candidate/verify engine runs
    over DISTINCT hash values (one representative per exact-duplicate
    class — min id), and member pairs expand afterwards: every
    in-class pair is hamming 0, every cross-class member pair shares
    its reps' hamming, so the output is bit-identical to the naive
    formulation. This is what makes the engine survive re-upload-
    heavy corpora: measured at the sf10 video tier, 733k frame rows
    collapse to 311k distinct hashes with one 7,469-member class —
    naively that class alone puts C(7469,2) x C(blocks,combo)
    (~0.6-1.6 BILLION) rows through the candidate distinct exchange
    and fills a 74 GB disk; collapsed, it is ONE row in the join and
    the 424M genuine in-class pairs stream straight from the
    expansion join to the consumer with no distinct at all. The
    schedule is sized on distinct hashes (the collision-bearing
    count).

    ``output`` (r11): ``"pairs"`` materializes every member pair —
    the API-parity form, but its OUTPUT is quadratic in exact-dup
    class sizes, which on re-upload-heavy corpora dominates wall
    clock no matter how linear the compute is (r10 verdict: the sf30
    video probe was 8.04x on 3x data purely from 199.7 M emitted
    pairs). ``"clusters"`` never expands member pairs: the verified
    REP pairs plus the exact-class star edges (member -> rep, linear
    in rows) feed :func:`connected_components`, and the result is one
    row per input id — ``(id_col, cluster_id, keep)`` with
    cluster_id = min id in the near-dup component and keep marking
    the representative. The two forms are consistent by construction:
    members of an exact class pair with exactly what their rep pairs
    with (same hash), so components of (star ∪ rep pairs) equal
    components of the full pair graph — pinned by the closure-
    equality test in tests/test_media_clusters.py."""
    if (blocks is None) != (combo is None):
        raise ValueError("pass both blocks and combo, or neither")
    if blocks is not None:
        if blocks - combo < threshold:
            raise ValueError(
                f"(blocks={blocks}, combo={combo}) loses recall at "
                f"hamming {threshold}: need blocks - combo >= threshold"
            )
        if blocks not in _BLOCK_SLOT_BITS:
            raise ValueError(f"unsupported block count {blocks}")
    bd = F.array(*[F.col(f"band_{r}") for r in range(8)])
    hashed = hashed8.select(id_col, bd.alias("bd")).localCheckpoint()
    # exact-duplicate classes: rep = min id per distinct hash value
    classes = hashed.groupBy("bd").agg(F.min(id_col).alias("_rep"))
    reps = classes.select(F.col("_rep").alias(id_col), "bd").localCheckpoint()
    members = hashed.join(classes, "bd").select(
        "_rep", F.col(id_col).alias("_member")
    )
    if blocks is None:
        blocks, combo = hamming_block_schedule(reps.count(), threshold)
    sides = multiblock_key_rows(reps, blocks, combo, id_col)
    cand = (
        sides.alias("a")
        .join(
            sides.alias("b"),
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.kv") == F.col("b.kv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(id_col),
            F.col(f"b.{id_col}").alias("dup_of"),
        )
        .distinct()
    )
    if stats is not None:
        # probe instrumentation (scale sidecars): shape + candidate
        # volume — the counts are EXTRA actions, only paid when asked
        stats["shape"] = (blocks, combo)
        stats["n_rows"] = hashed.count()
        stats["n_distinct_hashes"] = reps.count()
        stats["candidates"] = cand.count()
    ham = hamming_bd("ba", "bb")
    rep_pairs = (
        cand.join(reps.select(F.col(id_col), F.col("bd").alias("ba")), id_col)
        .join(
            reps.select(F.col(id_col).alias("dup_of"), F.col("bd").alias("bb")),
            "dup_of",
        )
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= threshold)
        .select(id_col, "dup_of", "hamming")
    )
    if output == "clusters":
        return _clusters_from_rep_graph(rep_pairs, members, id_col)
    if output != "pairs":
        raise ValueError(f"output must be 'pairs' or 'clusters', got {output!r}")
    # expansion: in-class pairs (hamming 0) + cross-class member pairs
    # (each inherits its reps' hamming) — pure equi-joins streaming to
    # the consumer, no distinct (member pairs are disjoint by class)
    mx, my = members.alias("mx"), members.alias("my")
    inclass = mx.join(
        my,
        (F.col("mx._rep") == F.col("my._rep"))
        & (F.col("mx._member") < F.col("my._member")),
    ).select(
        F.col("mx._member").alias(id_col),
        F.col("my._member").alias("dup_of"),
        F.lit(0).cast("int").alias("hamming"),
    )
    cross = (
        rep_pairs.join(mx, rep_pairs[id_col] == F.col("mx._rep"))
        .join(my, F.col("dup_of") == F.col("my._rep"))
        .select(
            F.least("mx._member", "my._member").alias(id_col),
            F.greatest("mx._member", "my._member").alias("dup_of"),
            "hamming",
        )
    )
    return inclass.unionByName(cross)


def _clusters_from_rep_graph(
    rep_pairs: DataFrame,
    members: DataFrame,
    id_col: str,
    members_checkpointed: bool = False,
) -> DataFrame:
    """(id_col, cluster_id, keep) from the verified representative
    pair graph + exact-class membership — the scale-safe output form.
    cluster_id = min id in the near-dup component (singletons label
    themselves); keep = the one representative.

    r14 shape: connected components run over the REP PAIRS ONLY and
    members inherit their rep's label afterwards (one equi-join).
    The pre-r14 form unioned one star edge per non-rep member into
    the CC input — LINEAR in corpus rows — which (a) shipped the
    whole corpus's membership through the CC machinery (the bounded
    driver union-find collected every member id, so any corpus past
    CC_DRIVER_MAX_EDGES rows forced the distributed path even with a
    handful of real duplicate pairs) and (b) paid the label join over
    the star-inflated label table. Label equivalence: every rep is
    the MIN id of its exact class, so the min node of a (star ∪ rep
    pairs) component equals the min over its reps — exactly the rep-
    graph component label; a rep absent from every rep pair labels
    its class by itself (the coalesce). Pinned by the closure-
    equality test in tests/test_media_clusters.py.

    ``members_checkpointed`` skips the defensive localCheckpoint when
    the caller already materialized members (video_framehash_clusters
    does — the double checkpoint was one wasted job per run)."""
    if not members_checkpointed:
        members = members.localCheckpoint()
    labels = connected_components(rep_pairs, src=id_col, dst="dup_of")
    return (
        members.join(labels, members["_rep"] == labels["node"], "left")
        .select(
            F.col("_member").alias(id_col),
            F.coalesce("cluster_id", F.col("_rep")).alias("cluster_id"),
        )
        .withColumn("keep", F.col(id_col) == F.col("cluster_id"))
    )


def video_clip_pairs(
    fh: DataFrame,
    threshold: int,
    frames: int,
    min_frames: int,
    id_col: str = "media_id",
) -> DataFrame:
    """Sequence-aware clip near-dup pairs from per-frame hash rows
    ``(id_col, frame_no, band_0..band_7)``: pack (clip, frame) into
    one key, run the shared multi-block candidate/verify engine (same
    frame_no aligns automatically because the pack keeps frame bits
    low and the auto-schedule sizes on FRAME rows, the collision-
    bearing count), then aggregate aligned close frames per clip pair
    and keep pairs with >= ``min_frames`` of them."""
    fid = (F.col(id_col) * frames + F.col("frame_no")).alias(id_col)
    packed = fh.select(fid, *[F.col(f"band_{r}") for r in range(8)])
    pairs = hamming_pairs_multiblock(packed, threshold, id_col=id_col)
    # integer DIV unpack: exact for any long id (float division would
    # silently lose exactness above 2^53)
    aligned = pairs.filter(
        F.col(id_col) % frames == F.col("dup_of") % frames
    ).select(
        F.expr(f"{id_col} DIV {frames}").alias(id_col),
        F.expr(f"dup_of DIV {frames}").alias("dup_of"),
        "hamming",
    )
    return (
        aligned.groupBy(id_col, "dup_of")
        .agg(
            F.count("*").cast("int").alias("n_frames_close"),
            F.sum("hamming").cast("int").alias("total_hamming"),
        )
        .filter(F.col("n_frames_close") >= min_frames)
    )


def video_framehash_clusters(
    fh: DataFrame,
    threshold: int,
    frames: int,
    min_frames: int,
    id_col: str = "media_id",
) -> DataFrame:
    """Cluster-form video near-dup — ``(id_col, cluster_id, keep)``
    without ever materializing member pairs (r10 verdict item 1: the
    pair form's OUTPUT is quadratic in re-upload class sizes and was
    the one over-bound sf30 probe row).

    Exact collapse happens at CLIP granularity: a clip's signature is
    its frame hashes in frame order, so clips sharing a signature are
    frame-wise identical and pair with exactly the same partners —
    the qualifying relation (>= min_frames aligned frames within the
    hamming threshold) depends only on signatures. One representative
    clip per signature runs the pair engine (:func:`video_clip_pairs`
    — itself frame-level exact-collapsed); rep pairs + signature-class
    star edges feed :func:`connected_components`; in-class pairs
    trivially qualify (all ``frames`` aligned frames at hamming 0,
    frames >= min_frames), so components of (star ∪ rep pairs) equal
    components of the full qualifying pair graph (closure-equality
    test in tests/test_media_clusters.py)."""
    fh = fh.select(
        id_col, "frame_no", *[f"band_{r}" for r in range(8)]
    ).localCheckpoint()
    fkey = F.concat_ws(
        ",", *[F.col(f"band_{r}").cast("string") for r in range(8)]
    )
    sig = (
        fh.select(id_col, "frame_no", fkey.alias("fk"))
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("frame_no", "fk"))),
                    lambda x: x["fk"],
                ),
                ";",
            ).alias("sig")
        )
    )
    classes = sig.groupBy("sig").agg(F.min(id_col).alias("_rep"))
    members = (
        sig.join(classes, "sig")
        .select("_rep", F.col(id_col).alias("_member"))
        .localCheckpoint()
    )
    reps = members.select(F.col("_rep").alias(id_col)).distinct()
    rep_fh = fh.join(reps, id_col, "left_semi")
    rep_pairs = video_clip_pairs(rep_fh, threshold, frames, min_frames, id_col)
    return _clusters_from_rep_graph(
        rep_pairs, members, id_col, members_checkpointed=True
    )


#: Verified-duplicate edge lists at or below this many (symmetrized)
#: id pairs are resolved driver-side (~32 MB of longs); larger graphs
#: take the distributed propagation path.
CC_DRIVER_MAX_EDGES = 1_000_000


def _both_ways(edges: DataFrame) -> DataFrame:
    """Every ``(a, b)`` edge in both directions, from one projection.
    The self-union ``edges ∪ (edges with a, b swapped)`` is the obvious
    form, but Catalyst's Union constraint rewrite fails on it with
    ``NoSuchElementException: key not found: b`` when ``edges`` carries
    filter constraints (e.g. a filtered ``spark.range`` graph)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct("a", "b"),
                F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")


def _cc_driver_union_find(spark, sym: DataFrame) -> DataFrame:
    """Driver-side union-find over a bounded edge list. The input may
    be raw directed pairs with duplicates — union(a, b) is symmetric
    and idempotent, so neither symmetrization nor dedup changes the
    parent forest (r13: the driver path used to pay a distinct
    shuffle over the 2|E| symmetrized rows purely to build this
    input). Returns the identical (node, cluster_id = min node id in
    component) frame as the distributed propagation."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    # one collect job, not toLocalIterator: the iterator launches one
    # job PER PARTITION, and the raw (un-distinct'd) pair list keeps
    # its upstream partitioning (~dozens of partitions = dozens of
    # scheduler round-trips; measured 26 -> 52 jobs/run on
    # dedup_clusters when the r13 raw-edge path first landed on the
    # iterator). The caller's bound guarantees the list fits.
    for a, b in sym.select("a", "b").collect():
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(n, find(n)) for n in parent]
    return spark.createDataFrame(rows, "node long, cluster_id long")


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    escalate: bool = True,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Connected components over an undirected edge list →
    (node, cluster_id) with cluster_id = min node id in the component.

    Iterative min-label propagation: every node starts labelled with
    its own id; each round every node takes the min label over itself
    and its neighbours; fixpoint when no label changes. Each round is
    one shuffle (groupBy node over edges ∪ labels) and rounds needed =
    component diameter. Near-dup similarity graphs have tiny diameters
    (duplicate clusters are near-cliques through their keeper), so this
    converges in a handful of rounds; for adversarial long-chain graphs
    the alternating large-star/small-star contraction
    (:func:`connected_components_star`, Kiveris et al. SoCC'14 —
    O(log n) rounds) takes over automatically when the round budget is
    exhausted (``escalate=True``). ``localCheckpoint`` truncates the
    per-round lineage so the logical plan stays flat instead of growing
    exponentially with iterations.

    The per-round convergence probe is a LIMIT-1 count — the standard
    bounded driver action for iterative fixpoints (same budget class as
    the k-means trainer's per-iteration step).

    Graph-size-aware schedule: the VERIFIED duplicate edge list is
    orders of magnitude smaller than the corpus that produced it, so
    when it fits comfortably on the driver (≤ ``CC_DRIVER_MAX_EDGES``
    raw id pairs, ~32 MB) the components come from a single collect +
    union-find — one job instead of O(diameter) propagation rounds,
    and on RAW pairs: the symmetrize+distinct exchange exists only
    for the distributed propagation and is built lazily on the
    checkpointed pairs when that path is actually taken (r13)
    each costing several scheduler round-trips (measured 9 s → <1 s on
    the sf0.1 semantic-dedup graph). Labels are identical (min node id
    per component). Past the bound — the true 100 TB regime — the
    distributed propagation below is the path, with the
    alternating-star contraction as the long-chain escalation.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).localCheckpoint()
    if e.count() <= driver_max_edges:
        # union-find neither needs symmetrized nor deduped edges
        # (union is symmetric and idempotent), so the driver path
        # skips the 2|E|-row distinct exchange entirely: materialize
        # the raw verified pairs once, stream them to the driver
        return _cc_driver_union_find(edges.sparkSession, e)
    sym = _both_ways(e).distinct().localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = sym.join(labels, sym["a"] == labels["node"]).select(
            F.col("b").alias("node"), F.col("label")
        )
        new = (
            neigh.union(labels.select("node", "label"))
            .groupBy("node")
            .agg(F.min("label").alias("new_label"))
        )
        # checkpoint FIRST, then probe the materialized result: the
        # delta join then reads two in-memory tables instead of
        # re-executing the round's propagation plan a second time
        # (the probe-then-checkpoint order ran every round twice)
        new_labels = new.select(
            "node", F.col("new_label").alias("label")
        ).localCheckpoint()
        delta = (
            new_labels.withColumnRenamed("label", "new_label")
            .join(labels, "node")
            .filter(F.col("new_label") != F.col("label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if delta == 0:
            break
    else:
        if escalate:
            # component diameter exceeded the round budget (a chained
            # graph, not a near-clique) — rerun with the O(log n)
            # alternating-star contraction instead of failing. The
            # min-label rounds already spent are sunk cost, but a
            # diameter this large means the star path is the only one
            # that terminates at all. It starts from the checkpointed
            # pairs, so the caller's upstream plan is not run again.
            return connected_components_star(e, "a", "b")
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    return labels.select("node", F.col("label").alias("cluster_id"))


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — same output contract as
    :func:`connected_components` (``(node, cluster_id)``, cluster_id =
    min node id in the component) but O(log n) rounds on ANY graph
    shape, where min-label propagation needs O(diameter) rounds.

    This is the documented escalation for adversarial long-chain
    graphs: near-dup similarity graphs are near-cliques (min-label
    converges in a handful of rounds and does less work per round —
    keep it as the default), but a chained corpus (doc A ~ B ~ C ~ …
    with no direct A ~ C edge, e.g. sliding-window shingle overlap in
    serial crawls) has diameter O(n); there the star alternation's
    logarithmic round count is the difference between 15 shuffles and
    thousands at 100 TB.

    Per round (all hash-shuffle equi-joins/aggregations — no windows,
    no cartesians):

    - large-star: every node v links its LARGER neighbors to
      ``m(v) = min(Γ(v) ∪ {v})``;
    - small-star: every node v links its not-larger neighbors and
      itself to ``m(v)``.

    The edge set monotonically contracts toward a star forest whose
    roots are component minima; fixpoint = the round leaves the edge
    set unchanged (probed with two LIMIT-1 anti-join counts on
    localCheckpoint'd frames, the same bounded driver budget as the
    min-label probe).
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
    )
    cur = _both_ways(e).distinct().localCheckpoint()
    if cur.isEmpty():
        return cur.select(
            F.col("a").alias("node"), F.col("b").alias("cluster_id")
        )

    def _with_min(sym: DataFrame) -> DataFrame:
        mn = sym.groupBy("a").agg(F.min("b").alias("mb"))
        return sym.join(mn, "a").withColumn(
            "m", F.least(F.col("mb"), F.col("a"))
        )

    for _ in range(max_iter):
        # large-star: (u, m(v)) for u in Γ(v), u > v
        g = _with_min(_both_ways(cur).distinct())
        large = (
            g.filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # small-star over the large-star output: (u, m(v)) for
        # u in Γ(v) ∪ {v}, u <= v, u != m(v)
        g2 = _with_min(_both_ways(large.distinct()).distinct())
        small_nbrs = g2.filter(F.col("b") <= F.col("a")).select(
            F.col("b").alias("u"), F.col("m")
        )
        self_links = g2.select(F.col("a").alias("u"), F.col("m")).distinct()
        nxt = (
            small_nbrs.union(self_links)
            .filter(F.col("u") != F.col("m"))
            .select(F.col("u").alias("a"), F.col("m").alias("b"))
            .distinct()
            .localCheckpoint()
        )
        changed = (
            nxt.exceptAll(cur).limit(1).count()
            + cur.exceptAll(nxt).limit(1).count()
        )
        cur = nxt
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: no fixpoint in {max_iter} rounds"
        )
    # star forest: (child, root); guard with a min-agg (idempotent on a
    # proper forest) and add root self-labels
    child = cur.groupBy("a").agg(F.min("b").alias("cluster_id")).select(
        F.col("a").alias("node"), "cluster_id"
    )
    roots = (
        child.select("cluster_id")
        .distinct()
        .select(F.col("cluster_id").alias("node"), F.col("cluster_id"))
    )
    return child.union(roots).distinct()


# --- substring-level dedup (Lee et al. arXiv:2107.06499) --------------
#
# One operator (dedupe_substrings) and one per-doc step
# (_substring_rows) serve the spans and removal projections, the
# cross-snapshot operator and the streaming substring tier.


def _window_fingerprints(
    docs: DataFrame, L: int, id_col: str, text_col: str
) -> DataFrame:
    """``(doc_id, pos, h)`` — a 128-bit fingerprint of every stride-1
    length-``L`` window of every doc (docs shorter than L emit
    nothing). The O(corpus chars) stream every substring operator is
    built on; :func:`dedupe_substrings` and the cross-snapshot
    operator feed it their whole doc input.

    The fingerprint is a struct of two xxhash64 passes under distinct
    effective seeds (h = struct<a:bigint, b:bigint>, 16 bytes):
    ``a = XXH64(s, seed=42)`` and ``b = XXH64(s, seed=XXH64(const,
    42))`` — the constant goes FIRST so Spark's left-to-right fold
    turns it into a seed prefix; putting it second would make ``b`` a
    deterministic function of ``a`` (XXH64 of a constant seeded by
    ``a``) and collapse the pair to 64-bit resistance (r11 advice).
    Modeling the two seeded passes as independent gives ~2^-128
    struct-collision probability — the same practical bound as the
    md5 hex string this replaced — with ~60% fewer bytes
    through the corpus-sized exchange (a 32-char string is 40+ bytes
    shuffled) and measurably cheaper expansion (~10% wall on the full
    count pipeline at sf0.1, ABBA-controlled vs md5-hex; unhex(md5)
    ties locally but keeps md5's per-byte cost at wider windows). The
    window substring is materialized ONCE in an inner transform and
    hashed twice in the outer one — inlining the substring into both
    hash calls measured ~20% slower than md5-hex. Only
    equality/grouping ever touch ``h``, so the format is free to be
    whatever is cheapest.

    The doc input is ``spread`` by id first (r13): the expansion is
    the dominant compute of every consumer and a narrow input (the
    driver's single-row-group parquet) would serialize it onto one
    core; at cluster scale the guard makes this a no-op. Partitioning
    by the id also lets the consumers' per-doc merge aggregate reuse
    the layout instead of adding its own exchange."""
    docs = spread(docs, id_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.when(
                F.length(text_col) >= L,
                F.expr(
                    f"transform(transform("
                    f"sequence(1, length({text_col}) - {L} + 1), "
                    f"i -> struct(i AS pos, substring({text_col}, i, {L}) AS s)), "
                    f"p -> struct(p.pos AS pos, named_struct("
                    f"'a', xxhash64(p.s), 'b', xxhash64(1065353216L, p.s)"
                    f") AS h))"
                ),
            ).otherwise(
                F.expr("array()").cast(
                    "array<struct<pos:int,h:struct<a:bigint,b:bigint>>>"
                )
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))


def _span_stats_agg(L: int):
    """Aggregate expression merging the sorted dup-window positions of
    one doc into maximal spans — (n_spans, covered, cur_end) struct.
    A window at pos covers [pos, pos+L-1]; a window starts a new span
    iff pos > prev_end + 1. Single sorted fold, O(positions per doc)."""
    return F.aggregate(
        F.array_sort(F.collect_list("pos")),
        F.expr(
            "struct(CAST(0 AS BIGINT) AS n_spans, "
            "CAST(0 AS BIGINT) AS covered, "
            "CAST(-2 AS BIGINT) AS cur_end)"
        ),
        lambda acc, pos: F.when(
            pos.cast("bigint") > acc["cur_end"] + 1,
            F.struct(
                (acc["n_spans"] + 1).alias("n_spans"),
                (acc["covered"] + L).alias("covered"),
                (pos.cast("bigint") + L - 1).alias("cur_end"),
            ),
        ).otherwise(
            F.struct(
                acc["n_spans"].alias("n_spans"),
                (
                    acc["covered"] + pos.cast("bigint") + L - 1 - acc["cur_end"]
                ).alias("covered"),
                (pos.cast("bigint") + L - 1).alias("cur_end"),
            )
        ),
    )


def _excise_expr(L: int):
    """Excision fold over columns ``ps`` (sorted cut positions) and
    ``text``: walk the sorted flagged positions; ``nk`` is the next
    keep-start (1-based). For each pos: emit the kept gap [nk, pos-1]
    if non-empty, then advance nk past the cut window."""
    return F.expr(
        f"""aggregate(
            ps,
            struct(CAST(1 AS BIGINT) AS nk, CAST('' AS STRING) AS out),
            (acc, p) -> struct(
                CAST(greatest(acc.nk, CAST(p AS BIGINT) + {L}) AS BIGINT) AS nk,
                CASE WHEN CAST(p AS BIGINT) > acc.nk
                     THEN concat(acc.out,
                                 substring(text, CAST(acc.nk AS INT),
                                           CAST(CAST(p AS BIGINT) - acc.nk AS INT)))
                     ELSE acc.out END AS out),
            acc -> concat(acc.out,
                          substring(text, CAST(acc.nk AS INT), length(text)))
        )"""
    )


def _substring_rows(
    docs: DataFrame, hits: DataFrame, L: int, id_col: str, text_col: str
) -> DataFrame:
    """The per-doc step every substring operator and the streaming
    substring tier share. ``hits`` holds ``(doc_id, pos, cut)``, one row
    per repeated length-``L`` window; ``cut`` marks the windows to
    excise. ONE groupBy yields the span stats (over every hit) and the
    sorted cut positions, and the excision fold stitches the kept
    segments back together. Returns one row per doc of ``docs``:
    (doc_id, clean_text, n_dup_windows, n_spans, dup_chars, dup_frac,
    removed_chars, n_removed_windows). A caller that selects only some
    columns pays only for them: Catalyst prunes the unselected
    aggregates (and the text column, when no clean_text is selected)."""
    merged = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_windows"),
        _span_stats_agg(L).alias("sp"),
        F.array_sort(F.collect_list(F.when(F.col("cut"), F.col("pos")))).alias("ps"),
        F.count_if(F.col("cut")).alias("n_removed_windows"),
    )
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.length(text_col).alias("doc_len"),
        )
        .join(merged, "doc_id", "left")
        .select(
            "doc_id",
            "doc_len",
            F.when(F.col("ps").isNull() | (F.size("ps") == 0), F.col("text"))
            .otherwise(_excise_expr(L))
            .alias("clean_text"),
            *[
                F.coalesce(c, F.lit(0)).cast("long").alias(name)
                for c, name in (
                    ("n_dup_windows", "n_dup_windows"),
                    ("sp.n_spans", "n_spans"),
                    ("sp.covered", "dup_chars"),
                    ("n_removed_windows", "n_removed_windows"),
                )
            ],
        )
        .select(
            "doc_id",
            "clean_text",
            "n_dup_windows",
            "n_spans",
            "dup_chars",
            quantize(
                F.when(
                    F.col("doc_len") > 0, F.col("dup_chars") / F.col("doc_len")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
            (F.col("doc_len") - F.length("clean_text"))
            .cast("long")
            .alias("removed_chars"),
            "n_removed_windows",
        )
    )


#: output columns of the removal projection of :func:`dedupe_substrings`
_REMOVAL_COLS = ("doc_id", "clean_text", "removed_chars", "n_removed_windows")


def repeated_substring_spans(
    docs: DataFrame,
    window: int = 40,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact repeated-substring detection (the substring-level dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499 — there via a corpus suffix array; here
    Spark-first): any substring of length >= ``window`` that occurs
    ``min_count``+ times anywhere in the corpus is exactly the union of
    its repeated length-``window`` sliding windows, so stride-1 window
    fingerprints + a global count give EXACT span coverage — no suffix
    array, no approximation at the chosen granularity. Per-doc ranges
    are merged into maximal spans by a single sorted fold.

    The spans report of :func:`dedupe_substrings` (same parameters and
    scale shape): one row per input doc, (doc_id, n_dup_windows,
    n_spans, dup_chars, dup_frac). Catalyst prunes the removal half, so
    no first-occurrence aggregate and no excision run."""
    return dedupe_substrings(docs, window, min_count, id_col, text_col).select(
        "doc_id", "n_dup_windows", "n_spans", "dup_chars", "dup_frac"
    )


def remove_repeated_substrings(
    docs: DataFrame,
    window: int = 40,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The cleaning counterpart of :func:`repeated_substring_spans` —
    Lee et al. (arXiv:2107.06499) REMOVE every duplicated substring,
    keeping exactly one occurrence corpus-wide. At the window
    granularity: every length-``window`` sliding window whose
    fingerprint occurs ``min_count``+ times is cut from the text
    UNLESS it is the globally-first occurrence of that fingerprint
    (ordered by (doc_id, pos) — deterministic, engine-replayable);
    per-doc cut ranges are merged and excised in one sorted fold that
    stitches the kept segments back together.

    The removal projection of :func:`dedupe_substrings` (same
    parameters and scale shape): one row per input doc, (doc_id,
    clean_text, removed_chars, n_removed_windows). Catalyst prunes the
    span-stats half."""
    return dedupe_substrings(docs, window, min_count, id_col, text_col).select(
        *_REMOVAL_COLS
    )


def substring_fingerprint_counts(
    docs: DataFrame,
    window: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-fingerprint occurrence counts of a corpus's length-``window``
    sliding windows — ``(h struct<a,b>, n_base)``, one row per distinct
    fingerprint. This is the publishable state of a substring-deduped
    snapshot: persist it next to the corpus and later recrawls clean
    against it via :func:`cross_snapshot_substring_removal` without
    ever re-scanning the snapshot's text. Map-side combined groupBy —
    a boilerplate hash collapses per partition before the shuffle.

    The ``window`` the table was built with is embedded as a constant
    column (r12 advice): fingerprints of different window lengths are
    incomparable, and a mismatched table silently yields wrong cut
    decisions — :func:`cross_snapshot_substring_removal` checks the
    embedded value against its own ``window`` and refuses a mismatch."""
    return (
        _window_fingerprints(docs, int(window), id_col, text_col)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_base"))
        .withColumn("window", F.lit(int(window)))
    )


def _validate_base_counts(base_counts: DataFrame, L: int) -> DataFrame:
    """Schema + window guard for a caller-supplied persisted counts
    table (r12 advice: a table built with a different window silently
    produced wrong cut decisions). Requires ``h struct<a,b>`` and
    ``n_base``; when the ``window`` stamp column is present (written
    by :func:`substring_fingerprint_counts` since r13) its value must
    equal the operator's — checked from one row, so the guard costs a
    single-task read, never a scan. Returns the table reduced to the
    join columns."""
    fields = dict(base_counts.dtypes)
    if "n_base" not in fields or "h" not in fields:
        raise ValueError(
            "base_counts must be a substring_fingerprint_counts table "
            f"with columns (h struct<a,b>, n_base); got {base_counts.columns}"
        )
    if not fields["h"].startswith("struct"):
        raise ValueError(
            f"base_counts.h must be the fingerprint struct<a,b>; got {fields['h']}"
        )
    if "window" in fields:
        row = base_counts.select("window").first()
        if row is not None and int(row[0]) != L:
            raise ValueError(
                f"base_counts was built with window={int(row[0])} but the "
                f"operator is running with window={L}; fingerprints of "
                "different window lengths are incomparable"
            )
    return base_counts.select("h", "n_base")


def cross_snapshot_substring_removal(
    new_docs: DataFrame,
    base_docs: DataFrame | None = None,
    base_counts: DataFrame | None = None,
    window: int = 40,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-snapshot substring dedup (Lee et al. arXiv:2107.06499
    keep-one removal, incremental form): clean a NEW batch of docs
    against an already-published BASE corpus plus themselves. A
    length-``window`` sliding window of a new doc is cut when its
    fingerprint's total occurrence count (base + new) reaches
    ``min_count`` — unless it is the globally-first occurrence, which
    is only ever a NEW position when the fingerprint is absent from
    base (a base occurrence already keeps that content, published and
    immutable). Base docs are never modified and never re-emitted.

    Pass ``base_docs`` to fingerprint the base here, or
    ``base_counts`` (the persisted output of
    :func:`substring_fingerprint_counts`) to skip the base scan
    entirely — the 100 TB recrawl shape: the snapshot publishes its
    fingerprint table once; every subsequent crawl batch pays only
    its own fingerprints plus one equi-join against it.

    Equivalence (the oracle): with every base id ordered before every
    new id, this equals :func:`remove_repeated_substrings` on
    base ∪ new restricted to the new ids — the keep-one rule is
    prefix-monotone, so the union's (doc_id, pos)-first occurrence
    for a base-present fingerprint is the base one (pinned by
    tests/test_substring_cross_snapshot.py for min_count 2 and 3,
    and for the precomputed base_counts path bit-identically).

    Returns the :func:`remove_repeated_substrings` row shape for the
    new docs only: (doc_id, clean_text, removed_chars,
    n_removed_windows).
    """
    if (base_docs is None) == (base_counts is None):
        raise ValueError("pass exactly one of base_docs / base_counts")
    L = int(window)
    if base_counts is None:
        base_counts = substring_fingerprint_counts(
            base_docs, L, id_col, text_col
        ).select("h", "n_base")
    else:
        base_counts = _validate_base_counts(base_counts, L)
    wins = _window_fingerprints(new_docs, L, id_col, text_col)
    totals = (
        wins.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.min(F.struct("doc_id", "pos")).alias("first_new"),
        )
        .join(base_counts, "h", "left")
        .select(
            "h",
            "n_new",
            "first_new",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
        )
        .filter(F.col("n_new") + F.col("n_base") >= min_count)
    )
    # totals is materialized (localCheckpoint) before the position
    # probe joins it: post-Generate size estimates are garbage (an
    # explode inherits its child's stats), and the static planner was
    # measured choosing the EXPANDED new-docs stream as the broadcast
    # side of this join — ~40% row wall at sf0.1, and nonsense at any
    # scale. With real stats the planner broadcasts totals when it is
    # genuinely small (the sparse-duplication recrawl regime) and
    # falls back to a sort-merge join when it is not — the
    # scale-adaptive choice a forced broadcast hint could not make.
    # The checkpoint executes at construction time; its relation (the
    # flagged-hash table) is consumed in full by the join anyway.
    flagged = (
        wins.join(totals.localCheckpoint(), "h")
        .filter(
            ~(
                (F.col("n_base") == 0)
                & (F.struct("doc_id", "pos") == F.col("first_new"))
            )
        )
        .select("doc_id", "pos", F.lit(True).alias("cut"))
    )
    return _substring_rows(new_docs, flagged, L, id_col, text_col).select(
        *_REMOVAL_COLS
    )


def dedupe_substrings(
    docs: DataFrame,
    window: int = 40,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lee et al. (arXiv:2107.06499) substring dedup: the spans report
    and the keep-one cleaned text in one output row per doc. This is
    the one substring operator: :func:`repeated_substring_spans` and
    :func:`remove_repeated_substrings` are projections of it, and
    Catalyst prunes whatever a projection does not select.

    One scan: the docs feed the stride-1 fingerprint stream
    (:func:`_window_fingerprints`) directly, one per-hash totals
    aggregate computes the occurrence count AND the globally-first
    occurrence (min (doc_id, pos)), and one per-doc step
    (:func:`_substring_rows`) follows: every window of a hash counted
    ``min_count``+ times is a hit, and every hit but the first
    occurrence is cut. No pass runs before the scan to guess which
    docs can hold a repeat; on the engine's corpora a sixth to a half
    of the docs do, and such a pass cost more jobs and wall than it
    skipped.

    Scale shape (r13): the O(corpus chars) fingerprint stream is never
    repartitioned (the r10-r12 static (h, salt) repartition moved it
    twice for nothing). The totals aggregate partial-combines map-side,
    so a hot boilerplate fingerprint collapses to one row per input
    partition before the only corpus-sized shuffle; the position probe
    joins the repeated-hash table back by AQE broadcast, with a
    skew-split sort-merge fallback if a pathological corpus outgrows
    the broadcast threshold. The doc input is spread by id, so the
    expansion parallelizes off a single-split scan and the per-doc
    merge reuses that partitioning.

    Returns (doc_id, clean_text, n_dup_windows, n_spans, dup_chars,
    dup_frac, removed_chars, n_removed_windows); tests/
    test_substring_combined.py pins it against a pure-Python brute
    force.
    """
    L = int(window)
    wins = _window_fingerprints(docs, L, id_col, text_col)
    totals = (
        wins.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("doc_id", "pos")).alias("first"),
        )
        .filter(F.col("n_occ") >= min_count)
    )
    hits = wins.join(totals, "h").select(
        "doc_id",
        "pos",
        (F.struct("doc_id", "pos") != F.col("first")).alias("cut"),
    )
    return _substring_rows(docs, hits, L, id_col, text_col)
