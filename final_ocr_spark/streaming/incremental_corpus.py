"""Continuous corpus maintenance: streaming ingest with incremental
near-dup dedup against the accumulated corpus (SURVEY §2.8 + the
corpus-maintenance shape of operators/dedup.py:incremental_near_dups).

The batch engine already has both halves — ``minhash_near_dups`` for
within-corpus pairs and ``incremental_near_dups`` for new-batch-vs-stored-
signatures — but a production training-data pipeline runs them CONTINUOUSLY:
every arriving micro-batch must be deduped against everything ingested so
far without ever re-sketching the historical corpus. This module is that
glue: ``readStream → foreachBatch(dedup + idempotent append)``.

Per micro-batch (``foreachBatch`` gives us the full batch DataFrame plus a
monotonically increasing ``batch_id``):

1. exact-dedup within the batch: smallest (xxhash64(text), text) per key
   wins, deterministic under any partitioning; then identical TEXT under
   DIFFERENT keys collapses to the smallest key — without this, a batch of
   >cap mutually-identical template-spam pages under distinct urls would
   leak past the LSH bucket skew cap (dedup.py's ``_rn <= 200``) and be
   admitted forever under the store's first-wins rule (review-caught);
2. sketch the batch ONCE with :func:`minhash_sigs` — O(|batch|), the
   historical corpus is never re-read;
3. within-batch LSH pairs via :func:`minhash_near_dups` over the
   precomputed signatures (its pairing stage, including the
   degenerate-bucket skew cap — buckets/rows the cap truncates are
   REPORTED per batch as ``n_capped_buckets``/``n_capped_rows`` in
   :func:`ingest_batch`'s stats, so the residual near-identical-template
   leak is observable, not just documented): any key that appears as the
   GREATER member of a near-dup pair is dropped. This keeps at least one representative
   per duplicate cluster (the cluster minimum never appears as a greater
   member); a chain a~b~c with a≁c drops c as collateral — the standard
   conservative streaming kill rule, cheaper than per-batch connected
   components and acceptable because batches are small relative to the
   corpus;
4. cross-corpus pairs via :func:`incremental_near_dups` against the stored
   history. The history side is NOT re-banded per batch: survivors'
   ``(k, band, bucket)`` rows are persisted at append time (``_buckets``
   sidecar — deterministic from the signatures, so replay-safe), and a
   small Bloom filter over history's band-bucket values (``_bloom_buckets``
   sidecar) pre-splits the batch's bucket rows so the history band join
   probes only overlap + fpp rows. A batch with NO bucket hits skips the
   history join (and its scan) entirely. Exact first-wins key checking gets
   the same treatment via a ``_bloom_keys`` sidecar +
   :func:`split_new_vs_maybe_seen`. Sidecar names start with ``_`` so
   Spark's hidden-file filter keeps them invisible to plain reads of the
   store. Missing/incomplete sidecars (e.g. a store written by an older
   build, or a crash between the main append and the sidecar append)
   degrade SAFELY to the full-scan path — coverage is checked per batch by
   comparing batch_id sets, and a sidecar that doesn't cover every history
   partition is ignored rather than trusted (a partial Bloom would have
   false negatives, which would admit duplicates);
5. survivors' ROWS are appended to the corpus sink and survivors'
   SIGNATURES (+ bucket/Bloom sidecars) to the signature store, all under
   ``batch_id=<id>`` subdirectories written with ``mode=overwrite`` — a
   retried batch (Structured Streaming replays the last uncommitted batch
   after a crash) overwrites its own directories instead of duplicating
   rows, which is the standard exactly-once-by-idempotence foreachBatch
   pattern.

Store lifecycle: one directory set per batch_id accumulates small files
forever; :func:`compact_signature_store` (and the generic
:func:`compact_batch_store` for the corpus rows) bin-packs old batch
partitions into one consolidated partition, preserving the max-batch_id
high-water mark the checkpoint-reset guard relies on. Run it between ingest
runs (the ``availableNow`` model makes every run a natural maintenance
window); Bloom sidecars merge via ``bit_or`` during compaction.

Scale notes: the signature store grows by O(|survivors|) per batch and is
``num_hashes`` longs per doc (~0.5 KB) — at 10^12 docs it is a normal
parquet table. Per batch, the high-water/row-count guard reads only the
``batch_id`` PARTITION column (no data pages), the signature-family check
reads ONE partition, and the band join reads history only when the Bloom
reports candidates. The remaining full-history reads (exact-key semi-join
probe, candidate signature verify) are slim-column scans that run only on
Bloom-positive batches.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from final_ocr_spark.operators.bloom import (
    build_bloom,
    split_new_vs_maybe_seen,
    with_bloom_membership,
)
# shared filesystem-seam helpers (hoisted round 5: this module, the ANN
# index sidecar, and the catalog all need the same "read parquet that may
# not exist yet" and "local path or refuse" contracts)
from final_ocr_spark.sources.readers import (
    local_path as _local_path,
    read_optional as _read_optional,
)
from final_ocr_spark.operators.dedup import (
    _rows_per_band,
    band_buckets,
    incremental_near_dups,
    minhash_near_dups,
    minhash_sigs,
)

SIG_SCHEMA = StructType(
    [
        StructField("k", StringType(), False),
        StructField("sig", ArrayType(LongType()), True),
    ]
)

BUCKET_SCHEMA = "k string, band int, bucket long"
BLOOM_SCHEMA = "word_idx long, bits long, m_bits int, k int"

# sidecar directory names — the leading underscore puts them behind Spark's
# hidden-path filter, so spark.read.parquet(sigs_dir) still sees ONLY the
# batch_id=N signature partitions
BUCKETS_SUBDIR = "_buckets"
KEY_BLOOM_SUBDIR = "_bloom_keys"
BUCKET_BLOOM_SUBDIR = "_bloom_buckets"


def _family_tag(num_hashes: int, bands: int) -> str:
    """Banding-family stamp carried by each bucket-sidecar partition's
    sentinel row (``band == -1``). Bucket values and Bloom probe keys are
    only comparable WITHIN one (num_hashes, bands) family: a store banded
    at 8 bands probed by a 16-band batch would report 'definitely absent'
    for nearly everything and silently skip the history join
    (review-caught). Partitions whose sentinel doesn't match the current
    family are ignored — ingest degrades to the safe full-scan path (the
    stored signatures re-band correctly under ANY bands), and the mismatch
    is surfaced in the per-batch stats."""
    return f"family:{num_hashes}:{bands}"




def _batch_ids(df: DataFrame) -> frozenset[int]:
    """Distinct batch_id set — reads ONLY the partition column (no data
    pages); the result is O(#batches), thousands at most."""
    return frozenset(
        int(r["batch_id"]) for r in df.select("batch_id").distinct().collect()
    )


def _bucket_probe_key() -> F.Column:
    """The Bloom probe key for a (band, bucket) pair. Plain deterministic
    string concat — the Bloom is a Spark-side artifact, never compared to
    another engine."""
    return F.concat_ws(":", F.col("band"), F.col("bucket"))


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    sigs_dir: str,
    *,
    key: str = "url",
    text_col: str = "extracted_text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.85,
    bloom_m_bits: int = 1 << 20,
    bloom_k: int = 5,
    repair_sidecars: bool = True,
) -> dict:
    """Dedup one micro-batch against itself and the stored corpus, then
    idempotently append survivors (rows + signatures + bucket/Bloom
    sidecars) under ``batch_id=<id>``. Returns counts for observability.
    Usable directly for batch-mode backfill too — it is a plain DataFrame
    function.

    The corpus is FIRST-WINS PER KEY across batches: a key already in the
    signature store is dropped even when its text changed beyond the
    near-dup threshold (re-crawl policy; a latest-wins corpus would
    instead delete-and-replace, which an append-only store cannot express).
    Zero-shingle survivors (< ``shingle_k`` words) are stored with a NULL
    signature so that this exact-key rule still sees them.

    ``bloom_m_bits``/``bloom_k`` size the sidecar Bloom filters for NEW
    stores; an existing store's parameters are adopted automatically
    (filters only merge within one (m, k) family). Size for the expected
    TOTAL corpus — an undersized filter saturates and degrades gracefully
    to the full-scan path's cost, never to wrong results.

    ``repair_sidecars=True`` (default) regenerates missing/stale sidecar
    partitions from the stored signatures before loading them (see
    :func:`_repair_sidecars`) — a crash-lost sidecar or a bands change
    costs one repair pass instead of a permanent full-scan path. Set False
    to pin the degraded-but-safe behavior (e.g. read-only stores)."""
    # refuse a bad banding before any store repair or Spark job runs
    _rows_per_band(num_hashes, bands)
    spark = batch_df.sparkSession
    # heal any interrupted compaction BEFORE reading history: a half-swapped
    # store is missing partitions, and dedup against it would silently admit
    # duplicates. No-op glob when nothing crashed; skipped for remote URIs
    # (compaction refuses those, so no trash can exist there).
    for d in (corpus_dir, sigs_dir):
        if _local_path(d) is not None:
            recover_batch_store(d)
    n_raw = batch_df.count()

    # deterministic within-batch exact dedup — dropDuplicates keeps an
    # ARBITRARY row per key (varies across runs/replays); the corpus must
    # not. Smallest (xxhash64(text), text) per key wins: a pure function
    # of the row set, stable under any partitioning.
    w = Window.partitionBy(key).orderBy(
        F.xxhash64(F.col(text_col)).asc_nulls_last(),
        F.col(text_col).asc_nulls_last(),
    )
    batch = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # ... then identical TEXT across DIFFERENT keys: smallest key wins.
    # Partitioning by (hash, text) — not hash alone — makes a 64-bit
    # collision between distinct texts harmless. Without this rule, >cap
    # identical docs under distinct urls leak past the LSH bucket skew cap
    # in one batch and the first-wins store admits them forever.
    wt = Window.partitionBy(
        F.xxhash64(F.col(text_col)), F.col(text_col)
    ).orderBy(F.col(key).asc())
    batch = (
        batch.withColumn("_tn", F.row_number().over(wt))
        .filter((F.col("_tn") == 1) | F.col(text_col).isNull())
        .drop("_tn")
    )

    # one sketch per batch, shared by the self-join, the cross join, and
    # the signature append
    sigs = minhash_sigs(
        batch, key=key, text_col=text_col, num_hashes=num_hashes,
        shingle_k=shingle_k,
    ).localCheckpoint(eager=False)

    # within-batch near-dups via minhash_near_dups' own pairing stage
    # (keeps its degenerate-bucket skew cap); drop the greater member of
    # each pair — keeps at least one representative per duplicate cluster
    # (the cluster minimum never appears as a greater member); a chain
    # a~b~c with a≁c drops c as collateral, the standard conservative
    # streaming kill rule.
    # skew-cap observability rides the pairing job itself (an Observation
    # on the pre-cap ranked bucket rows — zero extra Spark jobs on this hot
    # path, review-caught; a separate bucket-count aggregation re-shuffled
    # the band rows every micro-batch). A non-zero count means >cap
    # mutually-NEAR-identical docs under distinct keys in ONE batch
    # (byte-identical spam is already collapsed by the exact-text rule
    # above), pairs beyond the cap unexamined. Metrics land with the first
    # action that runs the pair plan (survivors' materialization below).
    cap_obs = Observation(f"lsh_caps_b{batch_id}")
    self_pairs = minhash_near_dups(
        batch, key=key, text_col=text_col, num_hashes=num_hashes,
        bands=bands, shingle_k=shingle_k,
        jaccard_threshold=jaccard_threshold, sigs=sigs,
        observation=cap_obs,
    )
    self_drop = self_pairs.select(F.col("key_b").alias("k")).distinct()

    stats = {
        "batch_id": batch_id,
        "rows_in": n_raw,
        "exact_bloom_prefilter": False,
        "exact_history_join_skipped": False,
        "lsh_bloom_prefilter": False,
        "lsh_history_join_skipped": False,
        "lsh_candidate_rows": None,
        "n_capped_buckets": 0,
        "n_capped_rows": 0,
        "sidecar_family_mismatch": False,
        "sidecars_repaired": 0,
    }

    hist = _read_optional(spark, sigs_dir, SIG_SCHEMA)
    has_history, hist_keys, hist_nonnull = False, None, None
    hist_buckets = None
    key_bloom = bucket_bloom = None
    bloom_meta: tuple[int, int] | None = None
    if hist is not None:
        if "batch_id" in hist.columns:
            cur = int(batch_id)
            # replay/reset guard + history row count from the PARTITION
            # column only — no data pages are read for this
            st = hist.agg(
                F.max("batch_id").alias("hw"),
                F.sum((F.col("batch_id") != cur).cast("long")).alias("n_hist"),
                F.max(
                    F.when(F.col("batch_id") != cur, F.col("batch_id"))
                ).alias("hw_hist"),
            ).first()
            # checkpoint-reset guard: a fresh checkpoint restarts batch ids
            # at 0, and the batch_id-keyed overwrite below would then
            # DESTROY previously ingested partitions. Only the current id
            # (crash replay) may already exist at the high-water mark.
            if st["hw"] is not None and int(st["hw"]) > cur:
                raise RuntimeError(
                    f"signature store {sigs_dir} already holds batch_id="
                    f"{st['hw']} > current {cur}: the streaming checkpoint "
                    "was reset or points at the wrong sink. Refusing to "
                    "overwrite earlier ingest output — use a fresh "
                    "corpus/sigs pair or restore the original checkpoint."
                )
            has_history = (st["n_hist"] or 0) > 0
            # signature-family check over ONE history partition (every
            # batch was checked against the store when it was written, so
            # by induction all partitions agree — scanning sig across the
            # whole store would be a per-batch cost growing with corpus age)
            siglen = None
            if has_history:
                siglen = hist.filter(
                    (F.col("batch_id") == int(st["hw_hist"]))
                    & F.col("sig").isNotNull()
                ).agg(F.max(F.size("sig"))).first()[0]
                if siglen is None:
                    # the newest history partition held only NULL sigs
                    # (a batch of all zero-shingle docs) — it can't vouch
                    # for the family, and skipping the check here would
                    # let a num_hashes change corrupt the store with
                    # mixed-length signatures (review-caught). Rare path:
                    # fall back to scanning the whole store's sig lengths.
                    siglen = hist.filter(
                        (F.col("batch_id") != cur)
                        & F.col("sig").isNotNull()
                    ).agg(F.max(F.size("sig"))).first()[0]
            # exclude the CURRENT batch_id partition: a replayed batch
            # (crash between sink write and checkpoint commit) would
            # otherwise match its own first-attempt signatures and drop
            # every row — replay must be a no-op, not data loss.
            hist = hist.filter(F.col("batch_id") != cur)
            if has_history:
                hist_ids = _batch_ids(hist)
                (hist_buckets, key_bloom, bucket_bloom, bloom_meta,
                 fam_mismatch, repair_ids) = _load_sidecars(
                    spark, sigs_dir, cur, hist_ids, num_hashes, bands
                )
                stats["sidecar_family_mismatch"] = fam_mismatch
                if repair_ids and repair_sidecars:
                    # self-heal, then reload: one-time regeneration beats
                    # a PERMANENT full-scan path (see _load_sidecars)
                    stats["sidecars_repaired"] = _repair_sidecars(
                        spark, sigs_dir, repair_ids,
                        bands=bands, num_hashes=num_hashes,
                        bloom_meta=bloom_meta or (bloom_m_bits, bloom_k),
                    )
                    (hist_buckets, key_bloom, bucket_bloom, bloom_meta,
                     fam_mismatch, repair_ids) = _load_sidecars(
                        spark, sigs_dir, cur, hist_ids, num_hashes, bands
                    )
                    stats["sidecar_family_mismatch"] = fam_mismatch
            hist = hist.select("k", "sig")
        else:
            # flat bootstrap store (minhash_sigs output persisted directly)
            st = hist.agg(
                F.count(F.lit(1)).alias("n_hist"),
                F.max(
                    F.when(F.col("sig").isNotNull(), F.size("sig"))
                ).alias("siglen"),
            ).first()
            has_history = st["n_hist"] > 0
            siglen = st["siglen"]
            hist = hist.select("k", "sig")
        if has_history and siglen is not None and int(siglen) != num_hashes:
            raise ValueError(
                f"signature store {sigs_dir} holds {siglen}-hash signatures "
                f"but this run uses num_hashes={num_hashes}; positions are "
                "only comparable within one family — rebuild the store or "
                "match the parameters."
            )
        hist_keys = hist.select("k")
        # null-sig rows (zero-shingle docs) must not enter the band join:
        # xxhash64(null) is a constant, so they would all collide into one
        # degenerate bucket per band
        hist_nonnull = hist.filter(F.col("sig").isNotNull())

    empty_keys = spark.createDataFrame([], "k string")
    if has_history:
        # -- cross-corpus LSH --------------------------------------------
        nb = band_buckets(sigs, bands, _rows_per_band(num_hashes, bands))
        if bucket_bloom is not None:
            stats["lsh_bloom_prefilter"] = True
            # pre-split the batch's bucket rows: rows whose (band, bucket)
            # is DEFINITELY absent from history cannot pair with it (Bloom
            # has no false negatives) and skip the history join entirely
            tagged = with_bloom_membership(
                nb.withColumn("_bkey", _bucket_probe_key()),
                bucket_bloom, "_bkey",
            ).localCheckpoint(eager=False)
            cand_nb = tagged.filter(F.col("maybe_seen")).select(
                "k", "band", "bucket"
            )
            stats["lsh_candidate_rows"] = cand_nb.count()
            if stats["lsh_candidate_rows"] == 0:
                stats["lsh_history_join_skipped"] = True
                cross_drop = empty_keys
            else:
                cross = incremental_near_dups(
                    None, hist_nonnull, key=key, text_col=text_col,
                    num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
                    jaccard_threshold=jaccard_threshold, new_sigs=sigs,
                    hist_buckets=hist_buckets, new_buckets=cand_nb,
                )
                cross_drop = cross.select(F.col("new_key").alias("k")).distinct()
        else:
            cross = incremental_near_dups(
                None, hist_nonnull, key=key, text_col=text_col,
                num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
                jaccard_threshold=jaccard_threshold, new_sigs=sigs,
                hist_buckets=hist_buckets,
            )
            cross_drop = cross.select(F.col("new_key").alias("k")).distinct()

        # -- first-wins exact key check -----------------------------------
        # an already-ingested key is dropped even when its text changed
        # beyond the near-dup threshold
        batch_keys = batch.select(F.col(key).alias("k"))
        if key_bloom is not None:
            stats["exact_bloom_prefilter"] = True
            _, maybe_keys = split_new_vs_maybe_seen(batch_keys, key_bloom, "k")
            if maybe_keys.isEmpty():
                stats["exact_history_join_skipped"] = True
                exact_drop = empty_keys
            else:
                exact_drop = maybe_keys.join(hist_keys, "k", "left_semi")
        else:
            exact_drop = batch_keys.join(hist_keys, "k", "left_semi")
        dropped = (
            self_drop.unionByName(cross_drop).unionByName(exact_drop).distinct()
        )
    else:
        dropped = self_drop

    survivors = batch.join(
        dropped, batch[key] == dropped["k"], "left_anti"
    ).localCheckpoint(eager=False)

    n_unique = batch.count()
    n_out = survivors.count()
    # idempotent append: a replayed batch rewrites ITS OWN directory
    survivors.write.mode("overwrite").parquet(f"{corpus_dir}/batch_id={batch_id}")
    # left join (not semi): zero-shingle survivors get a NULL-sig row so
    # the exact-key rule covers them in later batches
    surv_sigs = (
        survivors.select(F.col(key).alias("k"))
        .join(sigs, "k", "left")
        .select("k", "sig")
        .localCheckpoint(eager=False)
    )
    surv_sigs.write.mode("overwrite").parquet(f"{sigs_dir}/batch_id={batch_id}")
    _write_sidecars(
        spark, surv_sigs, survivors.select(F.col(key).alias("k")),
        sigs_dir, batch_id,
        bands=bands, num_hashes=num_hashes,
        bloom_meta=bloom_meta or (bloom_m_bits, bloom_k),
    )
    # survivors' materialization above executed the pair plan, so the
    # observed cap metrics are available (NULL sums on an empty batch)
    nb_capped, nr_capped, cap_src = _cap_stats(cap_obs, sigs, bands, num_hashes)
    stats.update(
        rows_unique=n_unique, rows_kept=n_out,
        n_capped_buckets=nb_capped,
        n_capped_rows=nr_capped,
        cap_stats_source=cap_src,
    )
    return stats


def _cap_stats(
    cap_obs, sigs: DataFrame, bands: int, num_hashes: int
) -> tuple[int, int, str]:
    """``(n_capped_buckets, n_capped_rows, source)`` — skew-cap counts from
    the pairing job's Observation, with an explicit recount fallback
    (``source`` says which path answered, surfaced in ingest stats so the
    zero-extra-job steady state is itself observable/testable).

    The fallback exists because Spark's Observation listener is REMOVED from
    the listener bus if it throws while processing a FAILED query's event
    (accessing the failed QueryExecution re-raises its error inside the
    bus), after which ``get`` unblocks with a schemaless empty row instead
    of metrics. ``ingest_batch`` intentionally runs may-fail probe reads
    (missing signature store on the first batch, legacy stores without
    sidecars), so a poisoned observation is an expected cold-start case —
    verified empirically, see tests. Steady state (stores exist, no failed
    queries) takes the zero-extra-job path; the fallback recount touches
    only the slim checkpointed ``(k, sig)`` rows."""
    from final_ocr_spark.operators.dedup import PAIR_BUCKET_CAP

    nb = nr = None
    source = "observation"
    try:
        m = cap_obs.get
        nb, nr = m.get("n_capped_buckets"), m.get("n_capped_rows")
    except Exception:
        pass  # poisoned observation — empty row fails pyspark's row decode
    if nb is None and nr is None:
        # NULL sums also mean an EMPTY batch went through the observe node;
        # the recount is then a no-op-cheap aggregation over zero rows.
        source = "recount"
        row = (
            band_buckets(sigs, bands, _rows_per_band(num_hashes, bands))
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > PAIR_BUCKET_CAP)
            .agg(
                F.count(F.lit(1)).alias("nb"),
                F.sum(F.col("_n") - PAIR_BUCKET_CAP).alias("nr"),
            )
            .first()
        )
        nb, nr = row["nb"], row["nr"]
    return int(nb or 0), int(nr or 0), source


def _load_sidecars(
    spark: SparkSession,
    sigs_dir: str,
    cur_batch_id: int,
    hist_ids: frozenset[int],
    num_hashes: int,
    bands: int,
) -> tuple[
    DataFrame | None, DataFrame | None, DataFrame | None,
    tuple[int, int] | None, bool, frozenset[int],
]:
    """(hist_buckets, key_bloom, bucket_bloom, bloom_meta, family_mismatch,
    repair_ids) for the history partitions — each sidecar is used only if
    it COVERS every history batch_id (an incomplete bucket table or Bloom
    has false negatives for the uncovered batches and would silently admit
    duplicates; incomplete ⇒ ignored, the full-scan path is the safe
    fallback). The bucket sidecar must additionally carry the CURRENT
    banding family in every partition's sentinel row (see
    :func:`_family_tag`): bucket values from a different (num_hashes,
    bands) run — or from an old build that didn't stamp the family — are
    not comparable, so both the bucket table AND the bucket Bloom (whose
    probe keys are band-derived) are dropped together on mismatch. The
    key Bloom is family-independent (raw keys) and survives a bands
    change. ``bloom_meta`` is returned even without full coverage so the
    current batch's sidecar writes stay in the store's existing
    (m_bits, k) family.

    ``repair_ids`` is the set of history partitions whose sidecars are
    missing, family-stale, or partial — everything a
    :func:`_repair_sidecars` pass must regenerate for the fast path to
    return. Without repair, one lost sidecar partition would put ingest on
    the full-scan path FOREVER (the consolidated main partition keeps its
    id, so coverage could never recover), and the next
    :func:`compact_signature_store` would keep deleting the newer sidecar
    partitions for the same reason (review-caught).

    PARTIAL-write visibility (a crashed writer's uncommitted partition,
    the hazard the ANN index's sidecar gates with _SUCCESS — see
    similarity._load_id_bloom) needs no marker here by construction: a
    crashed ``ingest_batch`` never committed its micro-batch epoch, so the
    stream REPLAYS it — the loader excludes ``cur_batch_id``'s own
    partitions (the filters above), and :func:`_write_sidecars`'s
    mode('overwrite') rewrite heals the partial files before they are ever
    merged. A partial partition for a batch id OUTSIDE ``hist_ids`` (crash
    before its signatures landed) merges at worst EXTRA bits — the
    false-positive direction the exact join resolves, never a false
    negative."""
    hist_buckets = key_bloom = bucket_bloom = None
    bloom_meta: tuple[int, int] | None = None
    family_mismatch = False
    buckets_trusted = False
    repair_ids: set[int] = set()

    bk = _read_optional(spark, f"{sigs_dir}/{BUCKETS_SUBDIR}", BUCKET_SCHEMA)
    good_ids: set[int] = set()
    if bk is not None and "batch_id" in bk.columns:
        bk = bk.filter(F.col("batch_id") != cur_batch_id)
        # per-partition family sentinels: a partition counts as GOOD only
        # when every sentinel it holds matches the current banding family
        # (a compacted partition carries its sources' sentinels)
        fam_by_id: dict[int, set[str]] = {}
        for r in (
            bk.filter(F.col("band") == -1)
            .select("batch_id", "k").distinct().collect()
        ):
            fam_by_id.setdefault(int(r["batch_id"]), set()).add(r["k"])
        tag = _family_tag(num_hashes, bands)
        good_ids = {i for i, f in fam_by_id.items() if f == {tag}}
        if good_ids >= hist_ids:
            buckets_trusted = True
            # band −1 rows are the visibility sentinels, not buckets
            hist_buckets = bk.filter(F.col("band") >= 0).select(
                "k", "band", "bucket"
            )
        elif fam_by_id and not (set(fam_by_id) >= hist_ids):
            pass  # plain missing partitions — repair below, not a mismatch
        elif fam_by_id:
            family_mismatch = True
    repair_ids |= hist_ids - good_ids

    for subdir, slot in ((KEY_BLOOM_SUBDIR, "key"), (BUCKET_BLOOM_SUBDIR, "bucket")):
        bl = _read_optional(spark, f"{sigs_dir}/{subdir}", BLOOM_SCHEMA)
        if bl is None or "batch_id" not in bl.columns:
            repair_ids |= hist_ids
            continue
        metas = [
            (int(r["m_bits"]), int(r["k"]))
            for r in bl.select("m_bits", "k").distinct().collect()
        ]
        if len(metas) > 1:
            raise ValueError(
                f"Bloom sidecar {sigs_dir}/{subdir} holds mixed (m_bits, k) "
                f"families {sorted(metas)} — filters only merge within one "
                "family; rebuild the sidecar (delete it; coverage checking "
                "will fall back to full scans until it is re-populated)."
            )
        if metas:
            bloom_meta = metas[0]
        hist_bl = bl.filter(F.col("batch_id") != cur_batch_id)
        bl_ids = _batch_ids(hist_bl)
        if not (bl_ids >= hist_ids):
            repair_ids |= hist_ids - bl_ids
            continue
        if slot == "bucket" and not buckets_trusted:
            # bucket-Bloom probe keys are banding-derived: without a
            # family-verified bucket sidecar the filter may have false
            # negatives for the current banding — never trust it alone
            continue
        merged = (
            hist_bl.groupBy("word_idx", "m_bits", "k")
            .agg(F.bit_or("bits").alias("bits"))
            .select("word_idx", "bits", "m_bits", "k")
        )
        if slot == "key":
            key_bloom = merged
        else:
            bucket_bloom = merged
    return (
        hist_buckets, key_bloom, bucket_bloom, bloom_meta, family_mismatch,
        frozenset(repair_ids),
    )


def _repair_sidecars(
    spark: SparkSession,
    sigs_dir: str,
    repair_ids: frozenset[int],
    *,
    bands: int,
    num_hashes: int,
    bloom_meta: tuple[int, int],
) -> int:
    """Self-healing: regenerate the sidecars of the given history
    partitions from their stored signatures. Every sidecar is a
    DETERMINISTIC function of the (k, sig) partition, so a sidecar lost to
    a crash, written by an older build, or stamped with a stale banding
    family is rebuilt in place (idempotent overwrite) — a one-time cost
    per lost partition, after which the Bloom fast path returns. Returns
    the number of partitions repaired."""
    n = 0
    for i in sorted(repair_ids):
        part = _read_optional(spark, f"{sigs_dir}/batch_id={i}", SIG_SCHEMA)
        if part is None:
            continue
        part = part.select("k", "sig").localCheckpoint(eager=False)
        _write_sidecars(
            spark, part, part.select("k"), sigs_dir, i,
            bands=bands, num_hashes=num_hashes, bloom_meta=bloom_meta,
        )
        n += 1
    return n


def _write_sidecars(
    spark: SparkSession,
    surv_sigs: DataFrame,
    surv_keys: DataFrame,
    sigs_dir: str,
    batch_id: int,
    *,
    bands: int,
    num_hashes: int,
    bloom_meta: tuple[int, int],
) -> None:
    """Persist the current batch's bucket table and Bloom sidecars under
    ``batch_id=<id>`` (overwrite ⇒ replay-idempotent; everything here is a
    deterministic function of the survivors)."""
    m_bits, k_hashes = bloom_meta
    buckets = band_buckets(
        surv_sigs.filter(F.col("sig").isNotNull()), bands,
        _rows_per_band(num_hashes, bands),
    ).localCheckpoint(eager=False)
    # sentinel row (band −1 can never equi-join a real band) keeps this
    # partition VISIBLE even when no survivor had a signature — an empty
    # parquet write leaves no files, the partition would vanish from the
    # batch_id set, and the coverage check would put ingest on the
    # full-scan fallback forever. Its key carries the banding-family stamp
    # (_family_tag) that _load_sidecars verifies before trusting bucket
    # values across runs.
    sentinel = spark.createDataFrame(
        [(_family_tag(num_hashes, bands), -1, 0)], BUCKET_SCHEMA
    )
    buckets.unionByName(sentinel).write.mode("overwrite").parquet(
        f"{sigs_dir}/{BUCKETS_SUBDIR}/batch_id={batch_id}"
    )
    build_bloom(
        surv_keys, "k", m_bits=m_bits, k_hashes=k_hashes
    ).write.mode("overwrite").parquet(
        f"{sigs_dir}/{KEY_BLOOM_SUBDIR}/batch_id={batch_id}"
    )
    build_bloom(
        buckets.withColumn("_bkey", _bucket_probe_key()), "_bkey",
        m_bits=m_bits, k_hashes=k_hashes,
    ).write.mode("overwrite").parquet(
        f"{sigs_dir}/{BUCKET_BLOOM_SUBDIR}/batch_id={batch_id}"
    )


# -- store lifecycle --------------------------------------------------------
def recover_batch_store(store_dir: str) -> dict:
    """Crash recovery for an interrupted :func:`compact_batch_store` swap.

    The swap sequence is: originals → ``.compact-trash-<uuid>/`` (a
    ``TARGET`` marker is written first), then the consolidated tmp dir is
    renamed to ``batch_id=<target>`` (the publish point), then the trash is
    deleted. A crash anywhere in that window used to permanently remove
    history partitions — for the signature store that means silently
    admitted duplicates forever (review-caught). Recovery decides per trash
    dir: the consolidated partition is PUBLISHED iff ``batch_id=<target>``
    exists both in the trash (original moved, which happens last in the
    rename loop) and at the root (tmp renamed in) — then roll FORWARD
    (delete trash); otherwise roll BACK (move every trashed partition back;
    originals win over any half-state). Leftover ``.compact-tmp-*`` dirs
    are deleted either way. Idempotent; called automatically at the start
    of every compaction and every :func:`ingest_batch` on local stores."""
    root = _local_path(store_dir)
    if root is None:
        raise NotImplementedError(
            f"store maintenance is local-filesystem-only (got {store_dir!r})"
            " — on a real cluster use the table format's own compaction;"
            " see SEAMS.md"
        )
    out = {"rolled_back": 0, "rolled_forward": 0}
    if not root.is_dir():
        return out
    for trash in sorted(root.glob(".compact-trash-*")):
        marker = trash / "TARGET"
        try:
            # the marker is rename-committed, so "readable" ⇔ "renames may
            # have started"; an absent/unparseable marker means the crash
            # hit before any partition moved — rollback is a safe no-op
            target = int(marker.read_text()) if marker.is_file() else None
        except (ValueError, OSError):
            target = None
        published = (
            target is not None
            and (trash / f"batch_id={target}").is_dir()
            and (root / f"batch_id={target}").is_dir()
        )
        if published:
            shutil.rmtree(trash)
            out["rolled_forward"] += 1
        else:
            for p in sorted(trash.glob("batch_id=*")):
                dest = root / p.name
                if not dest.exists():
                    p.rename(dest)
            shutil.rmtree(trash)
            out["rolled_back"] += 1
    for tmp in root.glob(".compact-tmp-*"):
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def compact_batch_store(
    spark: SparkSession,
    store_dir: str,
    *,
    keep_recent: int = 2,
    min_partitions: int = 3,
    target_file_bytes: int = 128 * 1024 * 1024,
    schema: StructType | str | None = None,
) -> dict:
    """Bin-pack a ``batch_id=N``-partitioned store (corpus rows, signature
    store, or any sidecar): consolidate every partition EXCEPT the newest
    ``keep_recent`` into a single partition at the highest compacted id.

    The max batch_id never decreases (the consolidated partition reuses the
    highest id it absorbed, and newer partitions are untouched), so the
    checkpoint-reset guard's high-water mark survives compaction; the
    newest partitions are left alone because Structured Streaming may still
    REPLAY the last uncommitted batch into its own directory. Original
    per-row batch provenance inside the compacted range is intentionally
    dropped (rows re-land under the consolidated id) — signatures and
    corpus rows don't consume it; anything that needs provenance should
    carry it as a data column.

    Run between ingest runs (the availableNow model makes each run a
    discrete maintenance window): the swap is rename-based and a reader
    racing it could transiently see missing history — for an ingest batch
    that means missed dedup candidates, so don't ingest concurrently.

    Row-count equality between inputs and the rewrite is verified BEFORE
    any original partition is touched. Returns ``{"compacted", "target",
    "partitions_before", "partitions_after", "files_before",
    "files_after"}``."""
    if keep_recent < 1:
        raise ValueError(
            "keep_recent must be >= 1 — the newest partition can be "
            "replayed by the stream and must keep its own directory"
        )
    recover_batch_store(store_dir)  # also refuses non-local URIs loudly
    root = _local_path(store_dir)
    parts = sorted(
        (int(p.name.split("=", 1)[1]), p)
        for p in root.glob("batch_id=*") if p.is_dir()
    )

    def _nfiles(dirs):
        return sum(
            1 for _, p in dirs for f in p.rglob("*.parquet")
        )

    stats = {
        "compacted": False,
        "target": None,
        "partitions_before": len(parts),
        "partitions_after": len(parts),
        "files_before": _nfiles(parts),
        "files_after": _nfiles(parts),
    }
    old = parts[:-keep_recent]
    if len(old) < max(2, min_partitions):
        return stats
    target = old[-1][0]
    src_dirs = [str(p) for _, p in old]
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    try:
        src = reader.parquet(*src_dirs)
    except AnalysisException:
        # every compactable partition is empty (no footers to infer from,
        # schema not supplied) — nothing worth consolidating
        return stats
    total_bytes = sum(
        f.stat().st_size for _, p in old for f in p.rglob("*.parquet")
    )
    n_out = max(1, -(-total_bytes // target_file_bytes))
    tmp = root / f".compact-tmp-{uuid.uuid4().hex}"
    src.coalesce(n_out).write.mode("overwrite").parquet(str(tmp))
    n_src = src.count()
    n_new = spark.read.parquet(str(tmp)).count() if n_src else 0
    if n_src != n_new:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"store compaction row-count mismatch under {store_dir}: "
            f"{n_src} in, {n_new} rewritten — store left untouched"
        )
    # crash-safe swap (see recover_batch_store): marker first, originals
    # into the trash in ascending order (target last), tmp rename = publish.
    # The marker is written atomically (temp + fsync + rename) so recovery
    # can rely on "marker readable ⇔ renames may have happened"; a torn
    # marker after power loss would otherwise wedge every later recovery
    # call (review-caught).
    trash = root / f".compact-trash-{uuid.uuid4().hex}"
    trash.mkdir()
    mtmp = trash / ".TARGET.tmp"
    with open(mtmp, "w", encoding="utf-8") as f:
        f.write(str(target))
        f.flush()
        os.fsync(f.fileno())
    os.replace(mtmp, trash / "TARGET")
    for i, p in old:
        p.rename(trash / p.name)
    tmp.rename(root / f"batch_id={target}")
    shutil.rmtree(trash)
    kept = parts[-keep_recent:]
    stats.update(
        compacted=True,
        target=target,
        partitions_after=len(kept) + 1,
        files_after=_nfiles(kept)
        + sum(1 for _ in (root / f"batch_id={target}").rglob("*.parquet")),
    )
    return stats


def compact_signature_store(
    spark: SparkSession,
    sigs_dir: str,
    *,
    keep_recent: int = 2,
    min_partitions: int = 3,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact the signature store AND its sidecars coherently.

    The main (k, sig) table and the ``_buckets`` sidecar bin-pack via
    :func:`compact_batch_store`; Bloom sidecars MERGE (one ``bit_or``
    group-by — the whole point of the word-table representation) into the
    same consolidated partition id. A sidecar that doesn't fully cover the
    compacted range has its covered partitions DELETED instead of merged:
    after compaction its batch_id set would otherwise equal the main
    store's and the coverage check would trust a filter with false
    negatives (⇒ admitted duplicates); deleting keeps coverage visibly
    false and ingest on the safe full-scan path until the sidecars are
    naturally re-populated by future batches. The same deletion rule
    applies to a bucket range holding MIXED banding-family sentinels — the
    merged partition could never be trusted. Sidecar swaps don't need the
    trash/recovery protocol of the main store: a crash mid-swap loses only
    sidecar partitions, which the coverage check detects (full-scan
    fallback), never correctness; leftover tmp dirs are swept here."""
    root = _local_path(sigs_dir)
    if root is None:
        raise NotImplementedError(
            f"store maintenance is local-filesystem-only (got {sigs_dir!r})"
            " — on a real cluster use the table format's own compaction;"
            " see SEAMS.md"
        )
    for sub in (BUCKETS_SUBDIR, KEY_BLOOM_SUBDIR, BUCKET_BLOOM_SUBDIR):
        if (root / sub).is_dir():
            for tmp in (root / sub).glob(".compact-tmp-*"):
                shutil.rmtree(tmp, ignore_errors=True)

    def _ids(sub: pathlib.Path) -> dict[int, pathlib.Path]:
        return {
            int(p.name.split("=", 1)[1]): p
            for p in sub.glob("batch_id=*") if p.is_dir()
        }

    # capture the main store's partition list BEFORE its compaction is
    # destructive — sidecar coverage is judged against exactly the ids that
    # got merged
    main_before = sorted(_ids(root))
    out = compact_batch_store(
        spark, sigs_dir, keep_recent=keep_recent,
        min_partitions=min_partitions, target_file_bytes=target_file_bytes,
        schema=SIG_SCHEMA,
    )
    if not out["compacted"]:
        return out
    target = out["target"]
    merged_main_ids = {i for i in main_before if i <= target}

    for subdir, schema, is_bloom in (
        (BUCKETS_SUBDIR, BUCKET_SCHEMA, False),
        (KEY_BLOOM_SUBDIR, BLOOM_SCHEMA, True),
        (BUCKET_BLOOM_SUBDIR, BLOOM_SCHEMA, True),
    ):
        sub = root / subdir
        if not sub.is_dir():
            continue
        side = _ids(sub)
        in_range = {i for i in side if i <= target}
        if not in_range:
            continue
        covers = in_range >= merged_main_ids
        if not covers:
            # incomplete sidecar: deleting the range keeps the coverage
            # check visibly false (safe full-scan path) instead of letting
            # a post-compaction id-set match masquerade as full coverage
            for i in sorted(in_range):
                shutil.rmtree(side[i])
            continue
        dirs = [str(side[i]) for i in sorted(in_range)]
        src = spark.read.schema(schema).parquet(*dirs)
        n_src = None
        if is_bloom:
            if src.select("m_bits", "k").distinct().count() != 1:
                for i in sorted(in_range):
                    shutil.rmtree(side[i])
                continue
            src = (
                src.groupBy("word_idx", "m_bits", "k")
                .agg(F.bit_or("bits").alias("bits"))
                .select("word_idx", "bits", "m_bits", "k")
            )
        else:
            # mixed banding-family bucket ranges can never be trusted once
            # merged — delete (safe full-scan fallback), like mixed blooms
            fams = src.filter(F.col("band") == -1).select("k").distinct()
            if fams.count() != 1:
                for i in sorted(in_range):
                    shutil.rmtree(side[i])
                continue
            n_src = src.count()
        in_bytes = sum(
            f.stat().st_size
            for i in sorted(in_range)
            for f in side[i].rglob("*.parquet")
        )
        n_out = max(1, -(-in_bytes // target_file_bytes))
        tmp = sub / f".compact-tmp-{uuid.uuid4().hex}"
        src.coalesce(n_out).write.mode("overwrite").parquet(str(tmp))
        if n_src is not None:
            # a dropped bucket row = a silently missed dedup candidate
            # forever — verify BEFORE deleting the originals
            n_new = spark.read.schema(schema).parquet(str(tmp)).count()
            if n_new != n_src:
                shutil.rmtree(tmp, ignore_errors=True)
                raise RuntimeError(
                    f"sidecar compaction row-count mismatch under {sub}: "
                    f"{n_src} in, {n_new} rewritten — sidecar left untouched"
                )
        for i in sorted(in_range):
            shutil.rmtree(side[i])
        tmp.rename(sub / f"batch_id={target}")
    return out


def stream_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    corpus_dir: str,
    sigs_dir: str,
    checkpoint_dir: str,
    *,
    key: str = "url",
    text_col: str = "extracted_text",
    input_schema: StructType | str | None = None,  # DDL string also accepted
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.85,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """readStream(extracted-docs parquet dir) → foreachBatch(ingest_batch).

    ``available_now=True`` drains all files currently present then stops —
    each invocation is one incremental ingest run, with source progress in
    ``checkpoint_dir`` (files are never re-read across runs) and output
    idempotence from the batch_id-keyed appends."""
    if input_schema is None:
        from final_ocr_spark.schema import EXTRACTED_SCHEMA

        input_schema = EXTRACTED_SCHEMA
    reader = spark.readStream.schema(input_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch_df, batch_id, corpus_dir, sigs_dir,
            key=key, text_col=text_col, num_hashes=num_hashes, bands=bands,
            shingle_k=shingle_k, jaccard_threshold=jaccard_threshold,
        )

    writer = docs.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_warc_ingest(
    spark: SparkSession,
    warc_dir: str,
    corpus_dir: str,
    sigs_dir: str,
    checkpoint_dir: str,
    *,
    glob: str = "*.warc*",
    key: str = "url",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.85,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    quarantine_dir: str | None = None,
) -> StreamingQuery:
    """The raw-crawl flavor of :func:`stream_dedup_ingest`: watch a WARC
    drop directory (how crawl output actually lands — segment archives
    appearing over time), and per micro-batch run the FULL path — WARC
    framing/decode (identical code to the batch reader via
    pages_from_archives) → flagship extraction → exact+LSH dedup against
    the accumulated corpus → idempotent batch_id-keyed appends.

    Source progress lives in ``checkpoint_dir`` (an archive is never
    re-parsed across runs); one archive = one stream file = atomic unit of
    progress, matching the batch reader's parallelism contract.

    Quarantine contract: framing-failed archives AND extraction-failed /
    empty documents never fail the stream and never enter the corpus —
    a null-text row admitted here would permanently block a later healthy
    recrawl of its url under the store's first-wins rule (review-caught,
    test-pinned). With ``quarantine_dir`` set they are RECORDED there
    (batch_id-partitioned overwrite — replay-idempotent like the corpus
    appends); without it they are dropped after a per-batch count is
    printed, so silent loss is at least visible in the job log."""
    from final_ocr_spark.operators.extract_pages import extract_pages
    from final_ocr_spark.sources.warc import pages_from_archives

    reader = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; binaryFile's is
        # fixed by the data source spec
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(warc_dir).select("path", "content")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        parsed = pages_from_archives(batch_df).localCheckpoint(eager=False)
        pages = parsed.filter(F.col("error").isNull()).drop("error")
        ext = extract_pages(pages, dedup=True).localCheckpoint(eager=False)
        # only healthy non-empty documents may enter the corpus (see
        # quarantine contract in the docstring)
        good = ext.filter(
            F.col("error").isNull() & (F.length("extracted_text") > 0)
        )
        bad_archives = parsed.filter(F.col("error").isNotNull()).select(
            F.col("url").alias("source"), "error"
        )
        bad_docs = ext.filter(
            F.col("error").isNotNull() | (F.length("extracted_text") == 0)
        ).select(F.col("url").alias("source"), "error")
        quarantined = bad_archives.unionByName(bad_docs)
        if quarantine_dir is not None:
            quarantined.write.mode("overwrite").parquet(
                f"{quarantine_dir}/batch_id={batch_id}"
            )
        else:
            n_bad = quarantined.count()
            if n_bad:
                print(
                    f"stream_warc_ingest batch {batch_id}: "
                    f"{n_bad} quarantined row(s) dropped "
                    "(set quarantine_dir to record them)"
                )
        ingest_batch(
            good, batch_id, corpus_dir, sigs_dir,
            key=key, text_col="extracted_text", num_hashes=num_hashes,
            bands=bands, shingle_k=shingle_k,
            jaccard_threshold=jaccard_threshold,
        )

    writer = raw.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
