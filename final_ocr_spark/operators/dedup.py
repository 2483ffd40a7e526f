"""Corpus deduplication operators (SURVEY A6 + training-data-pipeline ops).

The reference has no dedup (single directory of unique files), but at
10^12-document scale the same url appears in many WARC segments and near-dup
pages dominate. Five strategies, all shuffle-conscious:

* ``dedup_latest``  — latest-wins per key (window row_number), the A6 shape.
* ``dedup_exact``   — exact content dedup via xxhash64 group-by (one shuffle,
  map-side partial agg).
* ``minhash_near_dups`` — shingle → minhash → LSH banding → candidate pairs
  via self-join *on band bucket only* (never all-pairs).
* ``simhash_near_dups`` — 64-bit simhash; Hamming-ball candidates via 4-way
  16-bit block index (pigeonhole: hamming ≤3 ⇒ some block equal).
* ``ngram_jaccard`` — exact Jaccard on n-gram sets for a candidate pair set
  (the verifier stage after LSH).
* ``winnow_fingerprints`` / ``winnow_overlap`` — MOSS-style winnowing
  (window-min k-gram selection): *containment* detection — a quoted span or
  mirrored article inside a longer page — which whole-document Jaccard
  sketches dilute toward zero.

Everything is built-in-function Spark (JVM/codegen) — no Python in the hot
path — except the simhash popcount, where a vectorized Arrow batch beats
every JVM formulation by 20-30× (measurement in ``simhash_sigs``).
One signature path per sketch (``minhash_sigs``, ``simhash_sigs``); their
interpreted Column folds are differential oracles in tests/spec_forms.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# 31-bit Mersenne prime for universal hashing: operands bounded below 2^31
# keep every a·x+b intermediate under 2^62 — provably overflow-free in ANSI
# mode (Spark 4 default), where unchecked long wraparound is a task failure.
_MERSENNE31 = (1 << 31) - 1


def dedup_latest(
    df: DataFrame,
    key: str = "url",
    order_col: str = "warc_ts",
    tiebreak: list | None = None,
) -> DataFrame:
    """Latest-wins per key: row_number over (partition by key order by ts
    desc, deterministic tiebreak) = 1. One shuffle on key.

    ``tiebreak`` columns/exprs break exact-timestamp ties deterministically;
    defaults to a 64-bit hash of every other column so equal-ts duplicates
    resolve the same way on every run and every partitioning.
    """
    if tiebreak is None:
        others = [c for c in df.columns if c not in (key, order_col)]
        tiebreak = [F.xxhash64(*[F.col(c) for c in others])] if others else []
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc(), *tiebreak)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_exact(df: DataFrame, text_col: str = "text", keep_col: str | None = None) -> DataFrame:
    """Exact-content dedup: keep one row per normalized-text hash.

    Group-by on a 64-bit hash of the normalized text (whitespace-collapsed,
    lowercased) — partial aggregation makes this one cheap shuffle of
    (hash, min-key) pairs, never the full text.
    """
    key = keep_col or df.columns[0]
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    h = F.xxhash64(norm)
    winners = (
        df.select(h.alias("_h"), F.col(key).alias("_k"))
        .groupBy("_h")
        .agg(F.min("_k").alias("_k"))
    )
    return (
        df.withColumn("_h", h)
        .join(winners.withColumnRenamed("_k", key + "_keep"), "_h")
        .filter(F.col(key) == F.col(key + "_keep"))
        .drop("_h", key + "_keep")
    )


# per-position rotation amounts for hash-combined shingles. Rotation+XOR is
# pure bit arithmetic — provably overflow-free under ANSI mode (the round-1
# multiply-mix crashed the driver's default-ANSI session with
# ARITHMETIC_OVERFLOW; correctness must not depend on ansi=false).
# pairwise-distinct rotation amounts in 1..63 — position j of a shingle is
# rotated by _SHINGLE_ROT[j] so word order matters; 16 entries support
# k ≤ 16 (dedup uses k=5, decontamination k=13)
_SHINGLE_ROT = [3, 10, 17, 24, 31, 38, 45, 52, 7, 14, 21, 28, 35, 42, 49, 56]

# LSH pairing skew cap: a degenerate (band, bucket) — all-identical
# boilerplate — is truncated to this many rows before the self-join (it
# would otherwise materialize quadratically). Shared with the streaming
# ingest's observability agg (incremental_corpus.ingest_batch reports
# buckets/rows the cap actually truncated, so the documented
# near-identical-template leak is measurable per batch, not just known).
PAIR_BUCKET_CAP = 200


def _gram_rot(k: int) -> list[int]:
    """Pairwise-distinct rotation amounts for k-gram position mixing.

    The first 16 positions are exactly ``_SHINGLE_ROT`` — every existing
    k ≤ 16 gram hash stays bit-identical — and positions 16..62 extend the
    table with the remaining values of 1..63 in ascending order (rotations
    must be distinct so word order matters, and must stay in 1..63 for
    ``_rotl64``). 63 positions is the hard ceiling of distinct 64-bit
    rotations; longer grams (duplicate-span dedup uses 50) stay well under."""
    if k <= len(_SHINGLE_ROT):
        return _SHINGLE_ROT[:k]
    if k > 63:
        raise ValueError(f"gram length {k} exceeds 63 (distinct 64-bit rotations)")
    extra = [s for s in range(1, 64) if s not in _SHINGLE_ROT]
    return _SHINGLE_ROT + extra[: k - len(_SHINGLE_ROT)]


def _rotl64(x, s: int):
    """Column expr: rotate a 64-bit long left by s (1..63) — bit ops only,
    never checked arithmetic."""
    return F.shiftleft(x, s).bitwiseOR(F.shiftrightunsigned(x, 64 - s))


def sketch_words(text_col):
    """Column expr: the sketch pipeline's canonical tokenization —
    lowercase, punctuation runs → space, whitespace split, empties dropped
    (array<string>). THE single definition: word_hashes, shingle_hash_rows,
    and the decontamination/vocab queries all tokenize through this, so a
    change here cannot silently desynchronize cross-operator gram hashes.
    DuckDB mirror: ``list_filter(string_split_regex(lower(regexp_replace(
    text, '[^\\w\\s]+', ' ', 'g')), '\\s+'), w -> w != '')``."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.split(F.lower(F.regexp_replace(col, r"[^\w\s]+", " ")), r"\s+")
    return F.filter(words, lambda w: w != "")


def word_hashes(text_col: str):
    """Column expr: xxhash64 per lowercase word (array<bigint>). MATERIALIZE
    this as a real column (own select) before feeding shingle_hashes_from —
    expressions referenced inside higher-order-function lambdas are NOT
    common-subexpression-eliminated, so an inline composition re-evaluates
    the whole array per element (measured O(n²): 38 s vs 1.5 s at sf0.1)."""
    return F.transform(sketch_words(text_col), lambda w: F.xxhash64(w))


def shingle_hashes_from(wh_col, k: int = 5):
    """Column expr: 64-bit hash per word k-shingle from a word-hash column —
    position-distinct ROTATION of k SHIFTED SLICES folded with zip_with XOR.

    Why this exact shape (hard-won):
    * string shingles (slice+array_join per position) were ~10× the cost of
      the whole rest of the minhash pipeline;
    * element_at(wh, i+j) inside a transform lambda goes O(n²) whenever
      Catalyst collapses projections and inlines the wh expression — there is
      NO common-subexpression elimination inside higher-order-function
      lambdas, and `size(transform(...))≡size(...)` optimizer rewrites make
      this easy to mis-measure;
    * shifted slices + zip_with touch each element a bounded k times even
      under full inlining: worst case O(k·n), no random access;
    * rotate+XOR (not multiply+add) because Spark 4 defaults to ANSI mode
      where long multiply overflow is a TASK FAILURE — bit ops are the only
      combination provably safe under any session config. Position rotations
      are pairwise-distinct so word order matters ("a b" ≠ "b a").

    Hash quality is sketch-grade (inputs are already xxhash64-avalanched),
    which is all minhash/simhash need.
    """
    rot = _gram_rot(k)
    n = F.greatest(F.size(wh_col) - F.lit(k - 1), F.lit(0))

    def _rotated(j: int):
        s = rot[j]
        return F.transform(F.slice(wh_col, F.lit(j + 1), n), lambda x: _rotl64(x, s))

    acc = _rotated(0)
    for j in range(1, k):
        acc = F.zip_with(acc, _rotated(j), lambda a, b: a.bitwiseXOR(b))
    return F.when(n > 0, acc).otherwise(F.array().cast("array<bigint>"))


def shingle_hash_rows(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    with_pos: bool = False,
    words=None,
) -> DataFrame:
    """(k, h) — one row per word k-shingle, h the same position-rotated XOR
    hash ``shingle_hashes_from`` produces (identical multiset, pinned by
    test_shingle_rows_match_array_form).

    posexplode words → row-wise ``xxhash64`` (codegen) → window ``lag`` to
    combine the k adjacent word hashes (codegen). 4× faster than the
    interpreted array-HOF chain on ~500-word docs (2.68 s → 0.63 s for 5k
    docs, local[32], warm) — and the ONE exchange it introduces (window
    partitionBy key) satisfies every downstream clustered distribution on
    (key, …), so minhash aggregation / collect-based consumers add NO further
    shuffles. Documents with < k words produce no rows (lag is null within
    the first k-1 positions).

    ``with_pos=True`` returns (k, pos, h) where pos is the word index of the
    shingle's LAST word — consecutive shingles have consecutive pos, which
    :func:`winnow_fingerprints` relies on for its selection windows.

    ``words`` overrides the token array expression (default
    :func:`sketch_words` — the sketch family's canonical lowercase
    tokenization); pass a case/whitespace-preserving tokenizer for EXACT
    substring semantics (duplicate-span dedup)."""
    if words is None:
        words = sketch_words(text_col)
    rot = _gram_rot(shingle_k)
    ex = df.select(F.col(key).alias("k"), F.posexplode(words).alias("pos", "w"))
    ex = ex.select("k", "pos", F.xxhash64("w").alias("h0"))
    w = Window.partitionBy("k").orderBy("pos")
    sh = None
    for j in range(shingle_k):
        # the row at the shingle's LAST word looks back: lag(k-1-j) is the
        # word at shingle offset j, rotated by that offset's rotation —
        # exactly _rotated(j) in shingle_hashes_from
        term = _rotl64(F.lag("h0", shingle_k - 1 - j).over(w), rot[j])
        sh = term if sh is None else sh.bitwiseXOR(term)
    cols = ["k", "pos"] if with_pos else ["k"]
    return ex.select(*cols, sh.alias("h")).filter(F.col("h").isNotNull())


def minhash_sigs(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 7,
) -> DataFrame:
    """(k, sig) CLASSIC minhash signature table: ``num_hashes`` codegen
    ``min`` aggregates over exploded shingle rows — 2.6× faster than the
    interpreted permutation fold (8.3 s → 3.2 s, 5k docs × ~500 words × 64
    hashes, local[32], forced), which tests/spec_forms.py keeps as the
    bit-equality oracle. Every intermediate fits a signed long (operands
    pmod'ed below 2^31 — ANSI-safe). No empty buckets, so est_jaccard is
    unbiased at any document length. Documents with zero shingles produce
    no row (null-signature contract).
    """
    rows = shingle_hash_rows(df, key=key, text_col=text_col, shingle_k=shingle_k)
    return minhash_sigs_from_rows(rows, num_hashes=num_hashes, seed=seed)


def minhash_sigs_from_rows(
    rows: DataFrame, num_hashes: int = 64, seed: int = 7
) -> DataFrame:
    """:func:`minhash_sigs`' aggregation core over ARBITRARY element-hash
    rows ``(k, h)`` — the set being sketched doesn't have to be text
    shingles: video frame perceptual hashes (multimodal.video_near_dups),
    outlink sets, any (key, 64-bit element) table. Same Mersenne-31
    family, same seed stream, bit-identical to the text path (which now
    delegates here).

    Each aggregate is ONE ``F.expr`` string, not a tree of ~9 Column
    calls: every Column call is a py4j round trip (with PySpark 4's
    call-site capture), so building 32 aggregates that way took 340-410 ms
    of driver time per call before any job ran, against 80-120 ms as
    strings (4 cores). The parsed expression is the same, with the same
    ``CAST ... AS BIGINT`` operands."""
    import random

    rng = random.Random(seed)
    coeffs = [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]
    p = f"CAST({_MERSENNE31} AS BIGINT)"
    aggs = [
        F.expr(
            f"min(pmod(CAST({a} AS BIGINT) * pmod(h, {p}) + CAST({b} AS BIGINT), {p}))"
            f" AS _m{i}"
        )
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = ", ".join(f"_m{i}" for i in range(num_hashes))
    return rows.groupBy("k").agg(*aggs).selectExpr("k", f"array({sig}) AS sig")


def _rows_per_band(num_hashes: int, bands: int) -> int:
    """Signature positions per LSH band. More bands than hashes would slice
    every band empty (one bucket for all docs); a remainder would sketch
    hashes no band reads."""
    if not 1 <= bands <= num_hashes or num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    return num_hashes // bands


def band_buckets(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(k, band, bucket) LSH band-bucket rows from a (k, sig) signature
    table. Bucket rows are SLIM (key + band + 64-bit bucket hash) —
    signatures rejoin only for surviving pairs; the sigs table is tiny
    relative to the corpus (num_hashes longs per doc). Shared by in-corpus
    (minhash_near_dups) and incremental (incremental_near_dups) banding."""
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("bucket"),
        ),
    )
    return sigs.select("k", F.explode(band_arr).alias("bb")).select(
        "k", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_near_dups(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.7,
    sigs: DataFrame | None = None,
    observation=None,
    candidates_only: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Plan: signature (narrow) → explode bands (narrow) → groupBy band-bucket
    (ONE shuffle) → pairs within bucket (collect_list per bucket — buckets are
    tiny by construction) → distinct pairs → exact signature-similarity filter.
    Returns (key_a, key_b, est_jaccard) with key_a < key_b. ``bands`` must
    divide ``num_hashes`` (``ValueError`` otherwise).

    ``sigs`` lets a caller that already sketched the corpus (and reuses the
    signatures elsewhere, e.g. the streaming ingest loop) pass the ``(k,
    sig)`` table in — the pairing keeps this function's bucket skew cap and
    estimator instead of being re-implemented at the call site. Must come
    from :func:`minhash_sigs` with the same ``num_hashes``/``shingle_k``,
    already materialized (localCheckpoint/persist/table read).

    ``observation`` (a ``pyspark.sql.Observation``) piggybacks skew-cap
    observability on the pairing job itself: metrics ``n_capped_buckets``
    (buckets the ``PAIR_BUCKET_CAP`` row_number guard truncated) and
    ``n_capped_rows`` (rows excluded from pairing) become available after
    the first action that executes the pair plan — ZERO extra Spark jobs,
    unlike a separate bucket-count aggregation (review-caught on the
    streaming ingest hot path). An empty input reports NULL sums — read
    with ``or 0``.

    ``candidates_only=True`` returns the distinct ``(key_a, key_b)``
    candidate pairs WITHOUT the signature-agreement estimate or its
    threshold filter (``jaccard_threshold`` is ignored). For callers that
    follow with an EXACT verify stage (:func:`ngram_jaccard_pairs`), the
    estimate is a pure recall leak: a candidate pair whose true jaccard
    clears the caller's threshold must be kept even when the banded
    estimate dips below — and the est stage costs two signature joins per
    candidate set (guide §2.4: remove work whose output is discarded).
    """
    rows_per_band = _rows_per_band(num_hashes, bands)
    if sigs is not None:
        return _sig_near_dup_pairs(
            sigs, bands, rows_per_band, num_hashes, jaccard_threshold,
            observation=observation, candidates_only=candidates_only,
        )
    sigs = minhash_sigs(
        df, key=key, text_col=text_col, num_hashes=num_hashes, shingle_k=shingle_k
    )
    if candidates_only:
        # ONE consumer (banding) — no barrier needed: the sketch fuses
        # straight into the bucket aggregation, and the checkpoint
        # materialization job disappears (r6; job-count audit found q19
        # spending ~0.35s/job on 10 jobs at sf0.1)
        return _sig_near_dup_pairs(
            sigs, bands, rows_per_band, num_hashes, jaccard_threshold,
            observation=observation, candidates_only=True,
        )
    # sigs feeds three consumers (banding + both verify joins); without a
    # materialization barrier Catalyst inlines the signature expression into
    # each and recomputes the whole sketch 3× (measured 45 s of 74 s at
    # sf0.1). Materializing the sketch table is standard LSH practice — it is
    # num_hashes longs per doc, ~0.5 KB, trivially cacheable at any scale.
    # localCheckpoint (not persist): checkpoint blocks are released by the
    # ContextCleaner when the result DataFrame is garbage-collected, whereas
    # CacheManager entries from persist() leak until an explicit unpersist —
    # repeated invocations in a long-lived session accumulated cached blocks.
    # TRADEOFF (known, accepted): localCheckpoint truncates lineage, so
    # losing an executor after materialization fails the job instead of
    # recomputing. For preemptible/spot clusters, write the sketch table to
    # durable storage instead (it is tiny) and read it back — the standard
    # production LSH layout; the in-session form here optimizes the
    # single-tenant batch case.
    sigs = sigs.localCheckpoint(eager=False)
    return _sig_near_dup_pairs(
        sigs, bands, rows_per_band, num_hashes, jaccard_threshold,
        observation=observation, candidates_only=candidates_only,
    )


def _sig_near_dup_pairs(
    sigs: DataFrame,
    bands: int,
    rows_per_band: int,
    num_hashes: int,
    jaccard_threshold: float,
    observation=None,
    candidates_only: bool = False,
) -> DataFrame:
    """The pairing stage of :func:`minhash_near_dups` over a materialized
    ``(k, sig)`` table — ONE implementation of the within-bucket pairing,
    the degenerate-bucket skew cap, and the signature-agreement estimator,
    shared by the whole-corpus and precomputed-sigs entry points.
    ``observation`` / ``candidates_only``: see :func:`minhash_near_dups`.

    r6 shape: ONE ``collect_list`` aggregation per (band, bucket) replaces
    the previous window-rank + self-join + filter chain — same pair set
    (``sort_array`` + ``slice`` reproduces the rank-``<= cap`` smallest
    keys; in-bucket pair expansion is an O(members²) array transform,
    bounded by the cap), two fewer exchanges and no join (guide §2.4).
    Buckets are tiny by construction; a degenerate bucket is capped BEFORE
    expansion so the quadratic term never exceeds cap²."""
    buckets = band_buckets(sigs, bands, rows_per_band)

    grouped = buckets.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("k")).alias("_ks")
    )
    if observation is not None:
        # one row per bucket: sums over its member count need no distinct
        grouped = grouped.observe(
            observation,
            F.sum(
                (F.size("_ks") > PAIR_BUCKET_CAP).cast("long")
            ).alias("n_capped_buckets"),
            F.sum(
                F.greatest(
                    F.size("_ks") - PAIR_BUCKET_CAP, F.lit(0)
                ).cast("long")
            ).alias("n_capped_rows"),
        )
    ks = F.slice("_ks", 1, PAIR_BUCKET_CAP)
    pair_arr = F.flatten(
        F.transform(
            ks,
            lambda x, i: F.transform(
                F.slice(ks, i + F.lit(2), F.greatest(F.size(ks) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("key_a"), y.alias("key_b")),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(pair_arr).alias("_p"))
        .select(F.col("_p.key_a").alias("key_a"), F.col("_p.key_b").alias("key_b"))
        .distinct()
    )
    if candidates_only:
        return pairs

    sa = sigs.select(F.col("k").alias("key_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("k").alias("key_b"), F.col("sig").alias("sig_b"))
    verified = pairs.join(sa, "key_a").join(sb, "key_b")

    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(float(num_hashes))
    )
    return (
        verified.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("key_a", "key_b", "est_jaccard")
    )


def incremental_near_dups(
    new_df: DataFrame,
    hist_sigs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.7,
    new_sigs: DataFrame | None = None,
    hist_buckets: DataFrame | None = None,
    new_buckets: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an EXISTING corpus — the
    corpus-maintenance shape: the historical side arrives as its
    PRECOMPUTED ``(k, sig)`` signature table (built once by
    :func:`minhash_sigs` and persisted alongside the corpus), so each new
    batch costs O(|new|) sketch work plus a band join against stored
    buckets — the 10^12-doc corpus is never re-sketched or re-scanned.

    Returns (new_key, hist_key, est_jaccard). Within-batch duplicates are
    the caller's separate minhash_near_dups pass; historical signatures
    must have been built with the SAME num_hashes/shingle_k (positions are
    only comparable within one family). ``new_sigs`` lets a caller that
    already sketched the batch (e.g. the streaming ingest loop, which also
    persists the signatures) pass the ``(k, sig)`` table in and skip the
    re-sketch; it must come from :func:`minhash_sigs` with the same
    num_hashes/shingle_k.

    ``hist_buckets`` / ``new_buckets`` optionally replace the banding of
    either side with a PRECOMPUTED (k, band, bucket) table
    (:func:`band_buckets` output — deterministic, so it persists like the
    signatures). The streaming ingest loop stores history's banding once at
    append time and passes it back here, turning the per-batch history cost
    from re-band-everything into a column scan; it also pre-filters the NEW
    side to Bloom-candidate rows only. Both must come from the same
    (num_hashes, bands, shingle_k) family as the signatures. ``hist_sigs``
    is still required — surviving candidate pairs verify against it."""
    rows_per_band = _rows_per_band(num_hashes, bands)
    if new_sigs is None:
        new_sigs = minhash_sigs(
            new_df, key=key, text_col=text_col, num_hashes=num_hashes,
            shingle_k=shingle_k,
        ).localCheckpoint(eager=False)
    nb = new_buckets if new_buckets is not None else band_buckets(
        new_sigs, bands, rows_per_band
    )
    hb = hist_buckets if hist_buckets is not None else band_buckets(
        hist_sigs, bands, rows_per_band
    )
    pairs = (
        nb.join(
            hb.select(
                F.col("k").alias("hist_key"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select(F.col("k").alias("new_key"), "hist_key")
        .distinct()
    )
    sa = new_sigs.select(F.col("k").alias("new_key"), F.col("sig").alias("sig_a"))
    sb = hist_sigs.select(F.col("k").alias("hist_key"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(float(num_hashes))
    )
    return (
        pairs.join(sa, "new_key")
        .join(sb, "hist_key")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("new_key", "hist_key", "est_jaccard")
    )


def hamming64(a, b):
    """Column expr: Hamming distance between two 64-bit bigints."""
    return F.bit_count(a.bitwiseXOR(b))


def _simhash_np():
    """Arrow-batched numpy simhash over precomputed shingle-hash arrays.

    unpackbits(bitorder='little') on the little-endian int64 view yields
    exactly bit i = (h >> i) & 1, and bit i of the output is set iff
    2·popcount_i > n (⇔ the spec fold's vote sum > 0, ties → 0).

    Deferred factory (not a module-level ``@pandas_udf``): decorating at
    import time resolves the return-type string, which requires an active
    SparkSession — importing this module must stay session-free.
    """

    @pandas_udf("long")
    def simhash_np(arrs: pd.Series) -> pd.Series:
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        out = np.empty(len(arrs), dtype=np.int64)
        for i, lst in enumerate(arrs):
            a = np.asarray(lst, dtype=np.int64).view(np.uint64)
            n = len(a)
            if n == 0:
                out[i] = 0  # callers pre-filter; defensive only
                continue
            bits = np.unpackbits(a.view(np.uint8), bitorder="little").reshape(n, 64)
            counts = bits.sum(axis=0, dtype=np.int64)
            out[i] = np.int64(
                (weights[(2 * counts) > n].sum(dtype=np.uint64)).astype(np.int64)
            )
        return pd.Series(out)

    return simhash_np


def simhash_sigs(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """(k, sh) SimHash table — Arrow-batched numpy popcount, bit-identical to
    the Column vote fold in tests/spec_forms.py (pinned by
    tests/test_dedup.py::test_simhash_sigs_equals_fold_form and the q20
    golden oracle).

    Why a pandas UDF here, against the module's JVM-first rule (measured,
    5k docs × ~500 words, local[32], forced evaluation):
    * interpreted ``aggregate`` fold (64-wide vote vector per shingle):
      15.6 s — HOF lambdas never enter codegen;
    * explode → 64 codegen ``sum`` aggregates: 10.9 s — codegen, but still
      O(shingles × 64) work per doc (negative result, kept for the record);
    * numpy ``unpackbits`` + column sum over the Arrow batch: **0.54 s** —
      the per-(shingle×bit) op becomes a vectorized memory-bandwidth pass.
    Unlike minhash, whose per-hash ``min`` aggregates stay JVM-side,
    simhash inherently needs every (shingle, bit) touched — the
    vectorized batch is the only formulation that makes that cheap.

    Documents with zero shingles are excluded (the fold form's null
    signature). Shingle rows come from the explode+lag pipeline
    (shingle_hash_rows) and are grouped back into one array per doc with no
    extra exchange (collect_list runs on the window's partitioning)."""
    rows = shingle_hash_rows(df, key=key, text_col=text_col, shingle_k=shingle_k)
    arrays = rows.groupBy("k").agg(F.collect_list("h").alias("h"))
    return arrays.select("k", _simhash_np()(F.col("h")).alias("sh"))


def simhash_near_dups(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_k: int = 3,
    bucket_cap: int | None = 200,
) -> DataFrame:
    """Near-dup pairs by SimHash: historical 4×16-bit block index
    (pigeonhole-guaranteed only up to hamming 3; the default radius and
    callers' radius 6 accept heuristic recall above that — pinned by the
    q20 committed golden), then exact hamming filter. Delegates to
    :func:`hash64_near_dups` with ``n_blocks=4``, the one block-index
    implementation. One shuffle on (block_id, block_value).

    ``bucket_cap`` keeps this TEXT path's historical skew guard ON by
    default (web boilerplate makes byte-identical simhashes routine, and a
    degenerate bucket self-joins quadratically) — already-heuristic recall
    is the accepted trade here, unlike :func:`hash64_near_dups`'s
    guaranteed-recall default. ``None`` removes the cap."""
    sh = simhash_sigs(df, key=key, text_col=text_col, shingle_k=shingle_k)
    return hash64_near_dups(
        sh, key="k", hash_col="sh", max_hamming=max_hamming, n_blocks=4,
        bucket_cap=bucket_cap,
    )


def dedup_clusters(
    pairs: DataFrame, key_a: str = "key_a", key_b: str = "key_b",
    max_iters: int = 25, algorithm: str = "jump", _stats: dict | None = None,
) -> DataFrame:
    """Near-dup CLUSTER formation: connected components over the candidate
    pair graph → (key, cluster_id) with cluster_id = min key in the
    component. The step production dedup needs after pair generation: "keep
    one document per duplicate cluster" requires components, not pairs
    (A~B, B~C must collapse A,B,C together even when A~C was never emitted).

    Min-label propagation + POINTER JUMPING: each round (1) propagates the
    min label across edges, then (2) compresses label chains by joining
    each label to ITS label (label-of-label), which at least halves the
    remaining distance to the root — so convergence is O(log diameter)
    rounds, not O(diameter). A 200-node path converges in 8 rounds where
    plain propagation needs 200 (pinned by
    test_dedup_clusters_long_path_pointer_jumping). Near-dup components
    are dense (LSH emits most intra-cluster pairs) and finish in 2-3.
    Each round is two shuffle-joins + one aggregation; lineage is cut per
    round with localCheckpoint so plans stay constant-size. Deterministic:
    min is order-independent.

    ``algorithm="star"`` selects the large-star/small-star formulation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) instead: the state is the EDGE set itself (never a separate
    label table), each half-round is one groupBy + one join over edges,
    and edges only ever point downward toward smaller ids — the shape that
    survives path-like 100 TB-scale graphs where label-table joins churn.
    Same output contract, same determinism, converges in fewer rounds on
    long paths (pinned by test_dedup_clusters_star_long_path).

    Both algorithms read ``pairs`` exactly ONCE: the symmetric edge list
    is built in one pass (:func:`_symmetric_edges`) and checkpointed, and
    everything else (labels, star's oriented edges and node set) derives
    from it. ``pairs`` is typically the unmaterialized exact-Jaccard
    verify, the largest stage of a fineweb pass, which a second read
    would run again (pinned per row by
    test_dedup_clusters_evaluates_each_pair_once).

    ``_stats`` (optional dict) receives {"rounds": n} for instrumentation.
    """
    if algorithm == "star":
        return _dedup_clusters_star(pairs, key_a, key_b, max_iters, _stats)
    if algorithm != "jump":
        raise ValueError(f"unknown algorithm {algorithm!r}; use 'jump' or 'star'")
    edges = _symmetric_edges(pairs, key_a, key_b).localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("a").alias("k")).distinct()
        .withColumn("label", F.col("k"))
        .localCheckpoint(eager=False)
    )
    rounds = 0
    for rounds in range(1, max_iters + 1):
        neigh = (
            edges.join(
                labels.select(F.col("k").alias("b"), F.col("label").alias("nl")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nl").alias("nl"))
            .select(F.col("a").alias("k"), "nl")
        )
        # the pre-round label rides along as _old so the convergence check
        # below is a filter on the SAME rows instead of one more join of
        # new_labels back to labels (r6 job-slimming; output unchanged)
        propagated = labels.join(neigh, "k", "left").select(
            "k",
            F.col("label").alias("_old"),
            F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias("label"),
        )
        # pointer jumping: label <- label(label). Every label IS a node key
        # (labels start as keys and min over them preserves that), so the
        # self-join below always finds a row; halves chain depth per round.
        lut = propagated.select(
            F.col("k").alias("label"), F.col("label").alias("ll")
        )
        new_labels = (
            propagated.join(lut, "label", "left")
            .select(
                "k",
                "_old",
                F.least(F.col("label"), F.coalesce(F.col("ll"), F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") != F.col("_old")).count()
        labels = new_labels.select("k", "label")
        if changed == 0:
            break
    else:
        # silent non-convergence would under-deduplicate the corpus
        # (multiple "representatives" per real cluster) — fail loudly
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters"
        )
    if _stats is not None:
        _stats["rounds"] = rounds
    return labels.select(F.col("k").alias("key"), F.col("label").alias("cluster_id"))


def _symmetric_edges(pairs: DataFrame, key_a: str, key_b: str) -> DataFrame:
    """Distinct (a, b) edges in both directions, from ONE read of ``pairs``.

    ``pairs`` is usually the unmaterialized exact-Jaccard verify. A
    ``Union`` of two projections of it (``edges ∪ swap(edges)``) runs that
    whole non-exchange chain once per branch — exchange reuse shares only
    the shuffles and broadcasts underneath, so the plan hides the second
    run (PLANS.md pitfall 7). Exploding a two-element array per row emits
    both directions from a single evaluation. Self-pairs (a == b) stay.
    """
    a, b = F.col(key_a), F.col(key_b)
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(a.alias("a"), b.alias("b")),
                    F.struct(b.alias("a"), a.alias("b")),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .distinct()
    )


def _dedup_clusters_star(
    pairs: DataFrame, key_a: str, key_b: str, max_iters: int,
    _stats: dict | None = None,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. SoCC'14).

    Invariant: the working set is a directed edge list (u → v, v < u after
    small-star) that converges to a star forest where every node points at
    its component's minimum id. Per round:

    * **large-star(u)**: m = min(Γ(u) ∪ {u}) over the symmetrized
      adjacency; for every neighbor v > u emit (v, m). Strictly-larger
      neighbors re-attach to the local minimum — long chains collapse.
    * **small-star(u)**: orient edges (u, v) with v < u; m = min in-star;
      re-emit (v, m) for every smaller neighbor plus (u, m). Flattens each
      in-star to height one.

    Both phases are a groupBy-min plus an edge re-join — edge-linear work,
    no label table, no growing intermediate — and the edge count never
    exceeds the symmetrized input. Proven convergence in O(log² n) rounds,
    O(log n) in practice; on path graphs it beats pointer jumping's round
    count (test-pinned). Convergence = edge set stable, detected by an
    order-independent (count, sum, xor) fingerprint over xxhash64(u, v) —
    collision probability ~2⁻¹²⁸ per round, negligible against task-retry
    nondeterminism risk.
    """
    # ONE read of `pairs` (see _symmetric_edges): both the oriented edge
    # set and the node set come from this table. It holds both directions
    # of every pair, so `a > b` keeps each non-self pair once, oriented
    # toward the smaller id, already distinct; self-pairs drop out of the
    # edges but stay nodes.
    sym = _symmetric_edges(pairs, key_a, key_b).localCheckpoint(eager=False)
    edges = sym.filter(F.col("a") > F.col("b"))

    def _fingerprint(e: DataFrame):
        # bit_xor, not sum: summing full-range xxhash64 longs overflows and
        # is a TASK FAILURE under ANSI mode. XOR of two independent hashes
        # (arg orders swapped) gives an order-independent 128-bit set id.
        row = (
            e.select(
                F.xxhash64("a", "b").alias("h1"), F.xxhash64("b", "a").alias("h2")
            )
            .agg(
                F.count("h1").alias("n"),
                F.bit_xor("h1").alias("x1"),
                F.bit_xor("h2").alias("x2"),
            )
            .collect()[0]
        )
        return (row["n"], row["x1"], row["x2"])

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("a", "mb").alias("m"))
        )
        return (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        dirc = e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        mins = dirc.groupBy("a").agg(F.min("b").alias("m"))
        return (
            dirc.join(mins, "a")
            .select(F.col("b").alias("v"), F.col("m"))
            .unionByName(mins.select(F.col("a").alias("v"), F.col("m")))
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )

    prev = _fingerprint(edges)
    rounds = 0
    for rounds in range(1, max_iters + 1):
        # Two large-star applications per round (the CC-MR-style repeated
        # large-star of the two-phase family): each halves chain length, so
        # a round compresses paths ~4× before small-star flattens the local
        # stars — fewer synchronization rounds than one-large-star
        # alternation OR pointer jumping (test-pinned on a 200-node path).
        edges = (
            _small_star(_large_star(_large_star(edges)))
            .localCheckpoint(eager=False)
        )
        cur = _fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"dedup_clusters(star) did not converge in {max_iters} rounds; "
            f"raise max_iters"
        )
    if _stats is not None:
        _stats["rounds"] = rounds
    # At convergence every edge is (node → component min). Roots point at
    # themselves; singletons never appear in `pairs` (same contract as jump).
    nodes = sym.select(F.col("a").alias("key")).distinct()
    return (
        nodes.join(
            edges.select(F.col("a").alias("key"), F.col("b").alias("cid")),
            "key", "left",
        )
        .select("key", F.coalesce("cid", "key").alias("cluster_id"))
    )


def keep_cluster_representatives(
    df: DataFrame, clusters: DataFrame, key: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """Drop every clustered document except its representative. Documents in
    no cluster pass through — this is the final "dedup by near-dup cluster"
    filter of a training-data pipeline.

    ``quality_col=None`` keeps the min-key member (cluster_id == its own
    key), the cheapest rule: losers come straight off the cluster table, no
    corpus access at all. With ``quality_col`` the representative is the
    highest-quality member instead (ties → smallest key) — the production
    rule when near-dup clusters mix a clean original with truncated/mangled
    copies and min-key would keep an arbitrary one.

    Scale shape of the quality path: only a slim (key, quality) projection
    of the corpus joins the cluster table (cluster members are a small
    fraction of 10^12 docs; the join shuffles 2 columns, never text), then
    ONE window partitioned by cluster_id over member rows only. Members
    missing from ``df`` (stale cluster table) simply can't win or lose. A
    NULL quality ranks last. ``df`` MAY carry duplicate rows per key
    (recrawls): the slim projection aggregates max quality per key first,
    so a duplicate of the winning member can't rank _rn=2 and push the
    winner's own key into the loser set (which would left-anti-delete the
    whole cluster)."""
    if quality_col is None:
        losers = clusters.filter(F.col("key") != F.col("cluster_id")).select(
            F.col("key").alias(key)
        )
        return df.join(losers, key, "left_anti")
    slim = (
        df.select(F.col(key).alias("key"), F.col(quality_col).alias("_q"))
        .groupBy("key")
        .agg(F.max("_q").alias("_q"))
    )
    members = clusters.select("key", "cluster_id").join(slim, "key")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_q").desc_nulls_last(), F.col("key").asc()
    )
    losers = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(F.col("key").alias(key))
    )
    return df.join(losers, key, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (the verify stage after LSH).

    Two cost disciplines that matter at corpus scale (and measured 20× on the
    sf0.1 bench):
    * only docs that actually appear in the pair list are shingled — a
      LEFT SEMI join prunes the corpus before any shingle work (candidate
      pairs are a vanishing fraction of 10^12 docs);
    * Jaccard is computed over 64-bit shingle HASHES, not shingle strings
      (string slice+array_join per position measured ~10× the hash pipeline;
      P(hash collision flipping a set size) ≈ |shingles|²/2^65 ≈ 1e-13 per
      pair — far below any meaningful threshold granularity).
    Jaccard = |intersect| / |union| via array_intersect/union.

    The verify's cost is per ROW — two hash-set builds over a few hundred
    grams per pair — but its input is small in BYTES (the fineweb
    benchmark's 24k candidate pairs are ~2.4 MB out of a ``distinct()``),
    and AQE sizes post-shuffle partitions by bytes: it coalesced them to
    1-2 tasks on a 4-core host. The pairs are therefore round-robin
    repartitioned to ``defaultParallelism`` (local mode: the core count;
    on a cluster: the total executor cores) before the two set joins — a
    ``REPARTITION_BY_NUM`` exchange, which AQE never coalesces. Measured
    on that input, 4 cores, one warm pass each: 1 task 1.7 s wall, 4
    tasks 0.82 s, 32 tasks 1.02 s (and 60 % more CPU than at 4).
    The pair keys are read once (``explode``), never as a ``Union`` of two
    projections, which runs an unmaterialized ``pairs`` twice (PLANS.md
    pitfall 7).
    """
    # no .distinct() on the needed keys: a LEFT SEMI probe side dedups in
    # its own hash table, so the pre-aggregation bought nothing but one more
    # exchange + aggregate (r6 job-count audit)
    needed = pairs.select(F.explode(F.array("key_a", "key_b")).alias("k"))
    pruned = df.join(needed, df[key] == needed["k"], "left_semi")
    # two projections: materialize word hashes before the shingle fold (no
    # CSE inside HOF lambdas — see word_hashes)
    wordsh = pruned.select(F.col(key).alias("k"), word_hashes(text_col).alias("wh"))
    sets = wordsh.select(
        "k", F.array_distinct(shingle_hashes_from(F.col("wh"), n)).alias("grams")
    )
    spread = pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism)
    return (
        spread.join(sets.withColumnRenamed("k", "key_a").withColumnRenamed("grams", "ga"), "key_a")
        .join(sets.withColumnRenamed("k", "key_b").withColumnRenamed("grams", "gb"), "key_b")
        .select(
            "key_a",
            "key_b",
            (
                F.size(F.array_intersect("ga", "gb"))
                / F.greatest(F.size(F.array_union("ga", "gb")), F.lit(1))
            ).alias("jaccard"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 30,
) -> DataFrame:
    """Corpus-level paragraph dedup: drop repeated paragraphs, keep the first.

    Web corpora repeat boilerplate *inside* otherwise-unique documents
    (cookie banners, license blurbs, nav text) — document-level dedup never
    sees it. This removes every later copy of any paragraph (a ``\\n``-split
    segment of ``text_col`` with ≥ ``min_chars`` chars) that occurs more than
    once across the corpus, keeping exactly the occurrence with the smallest
    ``(key, position)`` (deterministic; also dedups repeats within one doc).
    Short segments (headings, blank lines) pass through untouched.

    Scale shape — the corpus text is NEVER exploded-and-reassembled:

    1. explode to slim ``(key, pos, xxhash64(para))`` rows — the paragraph
       string is pruned before anything shuffles;
    2. ``groupBy(hash)`` → ``(first_owner, count)`` with map-side partial
       aggregation (shuffle of hash rows only);
    3. the kill set (occurrences of count>1 hashes that are not the first
       owner) aggregates to one ``(key, kill_positions)`` row per *affected*
       document — proportional to duplicated paragraphs, not the corpus;
    4. one join back on ``key`` (the extraction pipeline's existing hash(url)
       partitioning; AQE broadcasts when the kill set is small) and a single
       index-filter expression rebuilds the text of affected docs in place.
       ``array_contains`` per element is O(kills-per-doc), bounded in
       practice by boilerplate count per page.

    Returns ``df`` with ``text_col`` rewritten and an ``n_paras_dropped``
    count column. 64-bit hash collisions (≈n²/2^65) can merge two distinct
    paragraphs — same accepted tradeoff as ``dedup_exact``.
    """
    return _segment_dedup(
        df, key, text_col,
        arr=F.split(F.col(text_col), "\n"), joiner="\n",
        min_chars=min_chars, drop_col="n_paras_dropped",
    )


def sentence_dedup(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 40,
) -> DataFrame:
    """Corpus-level SENTENCE dedup, first-occurrence-wins: the granularity
    below :func:`paragraph_dedup` — syndicated ledes, wire-service opening
    sentences, and quote spam repeat inside otherwise-unique paragraphs, so
    neither doc- nor paragraph-level dedup sees them. Same slim kill-set
    machinery (hashes shuffle, sentences don't); segmentation is
    operators/sentences.py's protected split. Higher ``min_chars`` default
    than paragraphs: short sentences legitimately repeat ("Thanks!",
    "Read more.") and are not dedup targets.

    Rebuild NOTE: affected docs re-join their sentences with a single
    space, so intra-paragraph newlines in those docs normalize — the same
    formatting contract as paragraph_dedup's rebuilt docs. Unaffected docs
    are byte-identical."""
    from final_ocr_spark.operators.sentences import sentences

    return _segment_dedup(
        df, key, text_col,
        arr=sentences(F.col(text_col)), joiner=" ",
        min_chars=min_chars, drop_col="n_sents_dropped",
    )


def _segment_dedup(
    df: DataFrame, key: str, text_col: str, *,
    arr: Column, joiner: str, min_chars: int, drop_col: str,
) -> DataFrame:
    """Shared first-occurrence-wins segment dedup (paragraph/sentence):
    explode slim (key, pos, hash) rows → duplicated-hash owners via
    map-side agg → per-affected-doc kill positions → one join + in-place
    array-filter rebuild. Segment strings never shuffle."""
    occ = (
        df.select(F.col(key), F.posexplode(arr).alias("pos", "seg"))
        .filter(F.length("seg") >= min_chars)
        .select(key, "pos", F.xxhash64("seg").alias("_h"))
    )
    owners = occ.groupBy("_h").agg(
        F.min(F.struct(key, "pos")).alias("_first"),
        F.count(F.lit(1)).alias("_n"),
    )
    kill = (
        occ.join(owners.filter(F.col("_n") > 1), "_h")
        .filter(F.struct(key, "pos") != F.col("_first"))
        .groupBy(key)
        .agg(F.sort_array(F.collect_set("pos")).alias("_kill"))
    )
    rebuilt = F.array_join(
        F.filter(arr, lambda p, i: ~F.array_contains(F.col("_kill"), i)),
        joiner,
    )
    return (
        df.join(kill, key, "left")
        .withColumn(
            text_col,
            F.when(F.col("_kill").isNull(), F.col(text_col)).otherwise(rebuilt),
        )
        .withColumn(
            drop_col,
            # size(NULL) is -1 under legacy sizeOfNull — branch, don't coalesce
            F.when(F.col("_kill").isNull(), F.lit(0)).otherwise(F.size("_kill")),
        )
        .drop("_kill")
    )


def host_boilerplate_dedup(
    df: DataFrame,
    key: str = "url",
    text_col: str = "text",
    host_col: str = "host",
    min_ratio: float = 0.3,
    min_pages: int = 5,
    min_chars: int = 15,
) -> DataFrame:
    """Per-host boilerplate line removal: a line occurring on a large
    fraction of ONE host's pages is site chrome (nav, footer, cookie bar,
    subscribe prompt), not content — remove it from EVERY page of that host.

    This deliberately keeps ZERO copies, unlike :func:`paragraph_dedup`'s
    global first-occurrence-wins: a repeated paragraph across hosts may be a
    legitimately quoted passage (keep one), but a line on >= ``min_ratio``
    of a single host's pages is template chrome — the copy on the "first"
    page is exactly as worthless as the rest. The per-host frequency test
    also never fires on cross-host quotes, so the two operators compose
    (this one first: thinning chrome before global dedup stops shared nav
    from pulling unrelated same-host pages over the jaccard threshold).

    A line participates if it has >= ``min_chars`` chars; a host
    participates if it has >= ``min_pages`` pages (below that, "30% of
    pages" is 1-2 pages — noise). The ratio test counts DISTINCT pages
    containing the line (in-page repeats don't inflate it) and compares by
    integer cross-multiplication at 1e-6 granularity — no float division,
    engine-exact for the DuckDB oracle.

    Scale shape (the ``paragraph_dedup`` recipe, keyed by host):
    slim (host, key, pos, hash) explode → per-(host,hash) distinct-page
    counts with map-side partial agg → boilerplate (host,hash) set joined
    back to line rows → one (key, kill_positions) row per affected page →
    single left join + in-place HOF rebuild. Host page counts are
    O(#hosts); nothing carries line strings past the hashing projection.

    Returns ``df`` with ``text_col`` rewritten and ``n_lines_dropped``.
    """
    if not 0.0 < min_ratio <= 1.0:
        raise ValueError(f"min_ratio must be in (0, 1], got {min_ratio}")
    ratio_ppm = int(round(min_ratio * 1_000_000))
    arr = F.split(F.col(text_col), "\n")
    occ = (
        df.select(host_col, key, F.posexplode(arr).alias("pos", "line"))
        .filter(F.length("line") >= min_chars)
        .select(host_col, key, "pos", F.xxhash64("line").alias("_h"))
    )
    npages = df.groupBy(host_col).agg(F.count(F.lit(1)).alias("_npages"))
    line_pages = occ.groupBy(host_col, "_h").agg(
        F.countDistinct(key).alias("_nwith")
    )
    boiler = (
        line_pages.join(npages, host_col)
        .filter(
            (F.col("_npages") >= min_pages)
            & (F.col("_nwith") * F.lit(1_000_000) >= F.lit(ratio_ppm) * F.col("_npages"))
        )
        .select(host_col, "_h")
    )
    kill = (
        occ.join(boiler, [host_col, "_h"])
        .groupBy(key)
        .agg(F.sort_array(F.collect_set("pos")).alias("_kill"))
    )
    rebuilt = F.array_join(
        F.filter(arr, lambda p, i: ~F.array_contains(F.col("_kill"), i)), "\n"
    )
    return (
        df.join(kill, key, "left")
        .withColumn(
            text_col,
            F.when(F.col("_kill").isNull(), F.col(text_col)).otherwise(rebuilt),
        )
        .withColumn(
            "n_lines_dropped",
            # size(NULL) is -1 under legacy sizeOfNull — branch, don't coalesce
            F.when(F.col("_kill").isNull(), F.lit(0)).otherwise(F.size("_kill")),
        )
        .drop("_kill")
    )


def winnow_fingerprints(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    window: int = 4,
) -> DataFrame:
    """(k, fp) — winnowing document fingerprints (Schleimer, Wilkerson &
    Aiken, SIGMOD 2003 — the MOSS algorithm): slide a window of ``window``
    consecutive k-gram hashes over each document and keep the minimum of
    every full window; the DISTINCT selected hashes are the fingerprint set.

    Guarantee (the reason to use this over MinHash): any substring of at
    least ``window + shingle_k - 1`` shared words between two documents
    yields at least one SHARED fingerprint — winnowing detects *containment*
    (a quoted paragraph, a mirrored article inside a longer page), which a
    whole-document Jaccard sketch dilutes toward zero as the containing
    document grows. Density: ~2/(window+1) of all k-grams are selected, so
    the fingerprint table is a small constant fraction of the shingle count.

    Plan shape: reuses :func:`shingle_hash_rows`'s one exchange (window
    partitionBy key); selection is a frame-bounded running ``min`` over the
    SAME window spec (no second sort), then a distinct that the planner
    performs as partial+final aggregation. No Python anywhere.

    Documents with fewer than ``window + shingle_k - 1`` words have no full
    selection window and produce NO fingerprints (the paper's contract:
    matches shorter than the guarantee threshold are noise, not signal).
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    rows = shingle_hash_rows(
        df, key=key, text_col=text_col, shingle_k=shingle_k, with_pos=True
    )
    w = (
        Window.partitionBy("k")
        .orderBy("pos")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    # count over the same frame gates out the first window-1 partial windows
    # (consecutive pos ⇒ frame rows == frame positions)
    sel = rows.select(
        "k",
        F.min("h").over(w).alias("fp"),
        F.count("h").over(w).alias("_n"),
    ).filter(F.col("_n") == window)
    return sel.select("k", "fp").distinct()


def winnow_overlap(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    containment_threshold: float = 0.5,
    bucket_cap: int = 200,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Partial-overlap / containment candidate pairs via shared winnowing
    fingerprints: (key_a, key_b, n_shared, containment_a, containment_b)
    with key_a < key_b, where containment_x = shared fingerprints / |x's
    fingerprints| — containment_b ≈ 1 means b's content is (nearly) wholly
    inside a. Pairs survive when ``n_shared >= min_shared`` AND the GREATER
    containment reaches ``containment_threshold``.

    Scale shape (same discipline as the LSH band join): the self-join runs
    on slim (fp, key) rows only; a fingerprint shared by more than
    ``bucket_cap`` documents (site-wide boilerplate — the classic hot key)
    is capped via row_number before pairing, exactly like
    ``_sig_near_dup_pairs``'s degenerate-bucket guard, so no task ever
    materializes a quadratic bucket. Per-doc fingerprint counts ride the
    pair row (two broadcastable joins against the tiny (k, n_fp) table);
    document text never shuffles.

    ``fingerprints`` accepts a precomputed :func:`winnow_fingerprints`
    table (stored alongside the corpus) so incremental callers skip the
    sketch, mirroring ``minhash_near_dups(sigs=...)``.
    """
    fps = (
        fingerprints
        if fingerprints is not None
        else winnow_fingerprints(
            df, key=key, text_col=text_col, shingle_k=shingle_k, window=window
        )
    )
    # three consumers (pair join both sides + per-doc counts) — same
    # materialization-barrier rationale as minhash_near_dups
    fps = fps.localCheckpoint(eager=False)
    counts = fps.groupBy("k").agg(F.count(F.lit(1)).alias("n_fp"))

    cap_w = Window.partitionBy("fp").orderBy("k")
    capped = (
        fps.withColumn("_rn", F.row_number().over(cap_w))
        .filter(F.col("_rn") <= bucket_cap)
        .drop("_rn")
    )
    a = capped.select("fp", F.col("k").alias("key_a"))
    b = capped.select("fp", F.col("k").alias("key_b"))
    shared = (
        a.join(b, "fp")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    na = counts.select(F.col("k").alias("key_a"), F.col("n_fp").alias("_na"))
    nb = counts.select(F.col("k").alias("key_b"), F.col("n_fp").alias("_nb"))
    out = (
        shared.join(na, "key_a")
        .join(nb, "key_b")
        .withColumn("containment_a", F.col("n_shared") / F.col("_na"))
        .withColumn("containment_b", F.col("n_shared") / F.col("_nb"))
        .filter(
            F.greatest("containment_a", "containment_b")
            >= F.lit(float(containment_threshold))
        )
    )
    return out.select("key_a", "key_b", "n_shared", "containment_a", "containment_b")


def containment_dedup(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    window: int = 4,
    containment_threshold: float = 0.8,
    min_shared: int = 2,
    bucket_cap: int = 200,
) -> DataFrame:
    """Drop documents whose content is (nearly) wholly CONTAINED in another
    document — the quoted-article / mirror-with-extra-chrome case that
    survives both exact and near-dup Jaccard dedup (a 10× longer container
    dilutes whole-doc Jaccard below any sane threshold).

    For each :func:`winnow_overlap` pair at ``containment_threshold``, the
    side with the GREATER containment (i.e. the smaller fingerprint set —
    the contained document) is dropped; exact ties drop the larger key, so
    the choice is deterministic under any partitioning. Chains (a ⊂ b ⊂ c)
    resolve safely: each contained doc is dropped on its own pair, and the
    winnowing guarantee makes a's fingerprints (from spans ≥ window+k-1
    words) appear in every container up the chain.

    One anti-join of ``df`` against the distinct drop-key set (tiny:
    bounded by the pair count); all heavy lifting happens on slim
    fingerprint rows inside ``winnow_overlap``.
    """
    pairs = winnow_overlap(
        df,
        key=key,
        text_col=text_col,
        shingle_k=shingle_k,
        window=window,
        min_shared=min_shared,
        containment_threshold=containment_threshold,
        bucket_cap=bucket_cap,
    )
    drops = pairs.select(
        F.when(
            (F.col("containment_a") > F.col("containment_b"))
            | (
                (F.col("containment_a") == F.col("containment_b"))
                & (F.col("key_a") > F.col("key_b"))
            ),
            F.col("key_a"),
        )
        .otherwise(F.col("key_b"))
        .alias(key)
    ).distinct()
    return df.join(drops, key, "left_anti")


def hash64_near_dups(
    sigs: DataFrame,
    key: str = "k",
    hash_col: str = "sh",
    max_hamming: int = 3,
    bucket_cap: int | None = None,
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs among ARBITRARY 64-bit signatures — perceptual image
    hashes (multimodal.image_near_dups), audio fingerprints, any 64-bit
    locality-preserving code — by pigeonhole block index: the 64 bits split
    into ``n_blocks`` equal blocks with ``n_blocks > max_hamming``, so any
    pair within the radius shares at least one UNTOUCHED block (pigeonhole:
    ``max_hamming`` differing bits cannot dirty more than ``max_hamming``
    blocks) — recall 1.0 by construction, never all-pairs. n_blocks is the
    smallest of {2, 4, 8} exceeding ``max_hamming`` (radii above 7 would
    need 16×4-bit blocks whose buckets collapse to 16 values — use real
    LSH at that point; refused loudly).

    An explicit ``n_blocks`` (2, 4, or 8) overrides the auto-selection and
    makes recall the CALLER's policy — :func:`simhash_near_dups` delegates
    here with its historical 4×16 layout at radius 6 (heuristic recall
    above 3, pinned by the q20 committed golden); leave it ``None`` for
    the guaranteed-recall contract.

    ``bucket_cap`` is an OPT-IN skew guard, default off: a degenerate
    (block, value) bucket — flat-image / all-zero-hash spam — otherwise
    self-joins quadratically, so corpora with adversarial spam should cap
    (row_number ≤ cap per bucket). Capping TRADES the recall guarantee for
    bounded work: once any bucket exceeds the cap, pairs whose only shared
    untouched block sits in the truncated remainder are silently dropped —
    and block width bounds how soon that happens (8-bit blocks have only
    256 values per block, so buckets exceed ANY fixed cap long before
    LAION scale; 16/32-bit blocks last ~2^16/2^32× longer). Recall 1.0
    holds iff ``bucket_cap is None`` or every bucket stays under it.

    Scale shape: one shuffle on (block_id, block_value), exact
    ``bit_count`` filter on the candidates."""
    if n_blocks is None:
        if not 0 <= max_hamming <= 7:
            raise ValueError(
                f"max_hamming must be in [0, 7] (got {max_hamming}) — beyond "
                "7 the 64-bit pigeonhole index degenerates; use LSH instead"
            )
        n_blocks = 2 if max_hamming <= 1 else 4 if max_hamming <= 3 else 8
    elif n_blocks not in (2, 4, 8):
        raise ValueError(f"n_blocks must be 2, 4, or 8, got {n_blocks}")
    elif max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    width = 64 // n_blocks
    mask = (1 << width) - 1
    sh = sigs.select(
        F.col(key).alias("k"), F.col(hash_col).cast("long").alias("sh")
    ).localCheckpoint(eager=False)  # consumed by explode + hamming filter
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned(F.col("sh"), width * i)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for i in range(n_blocks)
        ]
    )
    exploded = sh.select("k", "sh", F.explode(blocks).alias("b")).select(
        "k", "sh", F.col("b.blk").alias("blk"), F.col("b.val").alias("val")
    )
    if bucket_cap is not None:
        w = Window.partitionBy("blk", "val").orderBy("k")
        capped = (
            exploded.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= bucket_cap)
        )
    else:
        capped = exploded
    a = capped.select("blk", "val", F.col("k").alias("key_a"),
                      F.col("sh").alias("sh_a"))
    b = capped.select("blk", "val", F.col("k").alias("key_b"),
                      F.col("sh").alias("sh_b"))
    return (
        a.join(b, ["blk", "val"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b",
                hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
        .dropDuplicates(["key_a", "key_b"])
        .filter(F.col("hamming") <= max_hamming)
    )
