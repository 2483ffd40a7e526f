"""End-to-end corpus pipeline: the full production dataflow from raw pages
to a training-ready corpus, composed from the engine's tested operators.

    pages(url, warc_ts, html, text, lang)
      0. url gate         optional domain-blocklist broadcast anti-join +
                          pattern filter — decided BEFORE any per-doc
                          compute, rides the scan
      0b. metadata gate   optional robots-noindex / canonical-duplicate drop
                          via the cheap head-metadata prescan (slim left-semi
                          join, ahead of full extraction)
      0c. robots gate     optional per-host robots.txt compliance (stdlib
                          urllib.robotparser semantics; broadcast rule join)
      1. extract          mapInPandas main-content extraction, per-row
                          quarantine, latest-wins url dedup on the
                          EXTRACTED rows (~4× smaller than html)
      1c-2. gate layer    one short-circuiting mapInArrow pass
                          (operators/gates.py), per doc in this order:
                          1c. language gate — optional lang_allow, on the
                              declared lang column (a Column filter ahead
                              of the pass) or re-detected from the
                              extracted text with lang_detect=True
                          1d. C4 line clean — optional Raffel et al. 2020
                              §2.2 line rules + doc gates (lorem-ipsum /
                              '{' / min kept lines), rewriting text before
                              any scoring or hashing
                          2.  quality gate — composite quality score
                          2'. Gopher gate — repetition checks
                          stopping at the first failing gate
      2a. wordlist gate   optional flagged-token-ratio blocklist filter
                          (caller-supplied policy list) — scan-local
      2a'. compression    optional zlib-ratio band gate (over-compressible
                          template spam AND incompressible noise both
                          fail) — Arrow batch stage, no shuffle
      3. PII redaction    email/IP/phone masking — scan-local
      4. exact dedup      fingerprint group-by (one shuffle of 8-byte keys)
      4a. host chrome     optional per-host frequent-line removal (nav/
                          footer/cookie lines on >= ratio of a host's pages
                          keep ZERO copies — site template, not content)
      4b. paragraph dedup optional corpus-level repeated-paragraph removal
                          (first-occurrence-wins; slim hash explode +
                          kill-set rebuild — boilerplate inside otherwise
                          unique docs, which doc-level dedup never sees)
      4c. span dedup      optional duplicated >=n-token span removal (Lee
                          et al. 2022 exact-substring semantics, token-gram
                          approximation; same kill-set rebuild shape)
      2b. model gate      optional trained hashed-n-gram linear classifier
                          (slim (doc,bucket) shuffle + broadcast weights)
      2c. LM ppl gate     optional CCNet-style Stupid-Backoff bigram-LM
                          perplexity band (broadcast count-table joins)
      5. near-dup dedup   MinHash → LSH banding → exact-jaccard verify
                          → connected components → keep min-url per cluster
      5b'. containment    optional winnowing containment dedup — drops docs
                          wholly quoted/mirrored inside another kept doc
      5c. semantic dedup  optional SemDeDup-style embedding-space dedup,
                          text-in via the deterministic hashed-projection
                          embedder (paraphrase groups lexical dedup misses);
                          semantic_method picks LSH blocking (default) or
                          the paper-faithful k-means variant
      5d. prototype prune optional SSP pruning (drop the frac most-
                          prototypical docs per k-means cluster) — with
                          the kmeans 5c this is the full D4 recipe
      6. host cap         at most N docs per host (skew-safe salted cap)
      7. sample           optional deterministic md5 sample (stable across
                          reruns and cluster sizes)
    plus optional benchmark decontamination (13-gram overlap removal)
    between 5 and 6 when an eval-set DataFrame is supplied.

Each stage is independently oracle-checked through the driver contract
(q19/q38-q43); this module only WIRES them, adding no new semantics — the
composition itself is pinned by tests/test_pipeline.py on a corpus with
planted duplicates, near-duplicates, spam, PII, and a hot host.

Scale notes: stages 1-3 stay scan-local — after the extraction's url
shuffle, the gate layer is one Python map and the rest Column exprs — and
no gate adds a shuffle; 4 shuffles hashes, not text; 5 shuffles
slim (key, bucket) rows only (see operators/dedup.py); 6-7 are one salted
window and a pushed-down filter. Nothing here collects to the driver.

The reference repo's equivalent is the whole of process_invoices
(ocr2.py:559-607): a sequential per-file loop with no dedup, no hygiene,
no caps — this is that loop re-expressed as a declarative, resumable,
cluster-scale dataflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from final_ocr_spark.operators.dedup import (
    dedup_clusters,
    dedup_exact,
    keep_cluster_representatives,
    minhash_near_dups,
    ngram_jaccard_pairs,
)
from final_ocr_spark.operators.extract_pages import extract_pages
from final_ocr_spark.operators.gates import gate_cascade
from final_ocr_spark.operators.pii import redact_pii
from final_ocr_spark.operators.sampling import deterministic_sample, stratified_cap
from final_ocr_spark.operators.text_stats import quality_score
from final_ocr_spark.streaming.stateful import with_host


def corpus_pipeline(
    pages: DataFrame,
    *,
    min_quality: float = 50.0,
    gopher: bool = True,
    redact: bool = True,
    near_dup: bool = True,
    neardup_keep_best: bool = False,
    jaccard_threshold: float = 0.85,
    minhash_hashes: int = 32,
    minhash_bands: int = 8,
    host_cap: int | None = None,
    sample_rate: float | None = None,
    sample_salt: str = "corpus",
    temperature_alpha: float | None = None,
    temperature_group: str = "lang",
    benchmark: DataFrame | None = None,
    benchmark_ngram: int = 13,
    extract_partitions: int | None = None,
    cluster_algorithm: str = "jump",
    mime_gate: bool = False,
    fix_mojibake: bool = False,
    lang_allow: tuple[str, ...] | list[str] | None = None,
    lang_detect: bool = False,
    c4_line_clean: bool = False,
    c4_min_lines: int = 3,
    flagged_wordlist: list[str] | None = None,
    flagged_max_ratio: float = 0.01,
    compression_band: tuple[float, float] | None = None,
    normalize_form: str | None = None,
    blocked_domains: DataFrame | list[str] | None = None,
    url_patterns: tuple[str, ...] = (),
    drop_noindex: bool = False,
    respect_canonical: bool = False,
    robots: DataFrame | None = None,
    robots_agent: str = "*",
    host_boilerplate_ratio: float | None = None,
    host_boilerplate_min_pages: int = 5,
    paragraph_dedup_min_chars: int | None = None,
    sentence_dedup_min_chars: int | None = None,
    span_dedup_gram_n: int | None = None,
    classifier_weights: DataFrame | None = None,
    classifier_threshold: float = 0.5,
    classifier_n_features: int = 1 << 18,
    containment_threshold: float | None = None,
    lm_table: DataFrame | None = None,
    lm_max_ppl: float | None = None,
    semantic_threshold: float | None = None,
    semantic_dim: int = 128,
    semantic_bits: int = 12,
    semantic_method: str = "lsh",
    semantic_k: int | None = None,
    prototype_prune_frac: float | None = None,
    prototype_k: int | None = None,
    semantic_cluster_size: int = 1024,
    kmeans_seed: int = 0,
) -> DataFrame:
    """Raw pages → training-ready corpus (url, warc_ts, text, lang, host,
    quality_score). See module docstring for the stage list; every stage is
    optional via its kwarg except extraction and exact dedup."""
    # 0. url gate (optional): cheapest filter first — ahead of the Python
    # extraction stage so blocked rows never reach the UDF
    if blocked_domains is not None or url_patterns:
        from final_ocr_spark.operators.urlfilter import filter_blocked_urls

        pages = filter_blocked_urls(
            pages, blocked_domains=blocked_domains, patterns=url_patterns
        )

    # 0c. robots gate (optional): per-host robots.txt verdicts (stdlib
    # semantics) as a broadcast join + slim verdict stage — compliance
    # decided before any extraction compute
    if robots is not None:
        from final_ocr_spark.operators.robots import apply_robots

        pages = apply_robots(pages, robots, agent=robots_agent)

    # 0b. metadata gate (optional): robots noindex / canonical-duplicate
    # rows decided by the cheap head-metadata prescan (operators/metadata.py)
    # BEFORE the ~10×-costlier full extraction; the gate join is a left-semi
    # on url against the slim metadata table
    if drop_noindex or respect_canonical:
        from final_ocr_spark.operators.metadata import (
            indexable_pages,
            page_metadata,
        )

        pages = indexable_pages(
            pages, page_metadata(pages), respect_canonical=respect_canonical
        )

    # 0d. MIME gate (optional): magic-byte routing BEFORE the Python
    # extraction stage — media/archive payloads (mislabeled Content-Type is
    # the norm) never reach the UDF. Pure codegen, fuses into the scan.
    # Text-only rows (html null, text set) pass through untouched.
    if mime_gate:
        from final_ocr_spark.operators.mime import route_for_mime, sniff_mime

        route = route_for_mime(sniff_mime("html"))
        pages = pages.filter(
            F.col("html").isNull()
            | route.isin("extract_html", "extract_pdf")
        )

    # 1. extract + latest-wins url dedup; quarantined rows dropped
    ext = extract_pages(pages, dedup=True, partitions=extract_partitions)
    docs = (
        ext.filter(F.col("error").isNull() & (F.length("extracted_text") > 0))
        .select(
            "url", "warc_ts", F.col("extracted_text").alias("text"), "lang"
        )
    )
    docs = with_host(docs)

    # 1b. mojibake repair (optional): undo UTF-8-as-cp1252/latin-1
    # mis-decodes BEFORE the quality gates — junk multi-char sequences
    # distort stopword/word-length metrics and would fragment every
    # downstream hash. ASCII fast path; same fused scan-local projection.
    # Off by default to preserve pinned byte-identity goldens.
    if fix_mojibake:
        from final_ocr_spark.operators.mojibake import repair_mojibake

        docs = docs.withColumn("text", repair_mojibake("text"))

    # 1c-2. the gate layer (operators/gates.py): language gate → C4 line
    # clean → quality gate → Gopher gate. lang_detect re-detects from the
    # EXTRACTED text and overwrites lang even with no lang_allow (crawl-
    # declared lang headers are wrong often enough that C4/CCNet/FineWeb
    # all re-detect); the C4 clean rewrites text before any scoring or
    # hashing. The gates run as one short-circuiting mapInArrow pass.
    # The C4 line rules assume line-structured text: the HTML extractor
    # emits one line per kept block, so html corpora work as published;
    # text-PASSTHROUGH rows collapse newlines at extraction (pinned
    # byte-identity behavior), so a pre-collapsed corpus sees ONE line per
    # doc and needs c4_min_lines=1.
    docs = gate_cascade(
        docs, lang_detect=lang_detect, lang_allow=lang_allow,
        c4_line_clean=c4_line_clean, c4_min_lines=c4_min_lines,
        min_quality=min_quality, gopher=gopher,
    )

    # 2a. wordlist gate (optional, scan-local): drop docs whose
    # flagged-token ratio exceeds flagged_max_ratio — the C4 "bad words" /
    # UT1-blocklist signal. The list is caller-supplied policy, never baked
    # in; the audit ratio is not kept here (use wordlist_gate directly for
    # that).
    if flagged_wordlist is not None:
        from final_ocr_spark.operators.text_stats import wordlist_gate

        docs = wordlist_gate(
            docs, flagged_wordlist, text_col="text",
            max_ratio=flagged_max_ratio,
        )

    # 2a'. compression band gate (optional): zlib ratio of a bounded text
    # head must land in [lo, hi] — catches the repetitive/template tail
    # (over-compressible) and the noise/encoded tail (incompressible) that
    # the lexical features above can't see. Arrow batch stage, no shuffle.
    # The UDF only scores rows that survived every gate above because the
    # gate layer's mapInArrow is opaque to Catalyst.
    if compression_band is not None:
        from final_ocr_spark.operators.text_stats import compression_band_gate

        lo, hi = compression_band
        docs = compression_band_gate(docs, text_col="text", lo=lo, hi=hi)

    # 2b. model quality gate (optional): score with a trained hashed-n-gram
    # linear model (operators/classify.py) and keep score >= threshold.
    # Unlike stages 2/3 this is NOT scan-local — it adds one slim
    # (doc, bucket) shuffle on url plus a broadcast weight join — so it
    # runs after the cheap heuristic gates have already shed rows.
    if classifier_weights is not None:
        from final_ocr_spark.operators.classify import score_ngram_linear

        docs = score_ngram_linear(
            docs,
            classifier_weights,
            key="url",
            text_col="text",
            n_features=classifier_n_features,
            score_col="model_score",
        ).filter(F.col("model_score") >= F.lit(float(classifier_threshold)))

    # 2c. LM perplexity gate (optional, CCNet-style): score against a
    # trained reference-corpus bigram LM and keep lm_ppl <= lm_max_ppl.
    # Transition rows shuffle on url (slim hashes); the LM table joins
    # broadcast. Docs with < 2 tokens score null ppl and are DROPPED here
    # (an explicit gate asked for LM evidence; nulls have none).
    if lm_table is not None and lm_max_ppl is not None:
        from final_ocr_spark.operators.lm import score_bigram_lm

        docs = score_bigram_lm(docs, lm_table, key="url", text_col="text")
        docs = docs.filter(F.col("lm_ppl") <= F.lit(float(lm_max_ppl)))

    # 3a. optional Unicode normalization (NFC/NFKC/...): byte-unifies
    # visually-identical forms BEFORE any hashing stage so exact dedup,
    # decontamination grams, and vocab stats don't fragment. Off by
    # default to preserve pinned byte-identity goldens.
    # MUST precede PII redaction: NFKC folds fullwidth '＠'/'１２３' into
    # ASCII that the redaction patterns match — normalizing AFTER would
    # convert fullwidth PII the patterns missed into machine-readable
    # un-redacted ASCII PII in the shipped corpus (review-caught, test-pinned).
    if normalize_form is not None:
        from final_ocr_spark.operators.normalize import normalize_text

        docs = docs.withColumn("text", normalize_text("text", form=normalize_form))

    # 3b. PII redaction (scan-local)
    if redact:
        docs = docs.withColumn("text", redact_pii(F.col("text")))

    # 4. exact dedup: min-url per normalized-text hash (the dedup_exact
    # operator — whitespace/case-normalized, shuffles (hash, key) pairs
    # only). dedup_exact consumes its input TWICE (winner agg + join back),
    # and everything above this line — the Python extraction stage, every
    # gate, PII redaction — would re-execute for each consumer without a
    # barrier (measured: the extract+dedup floor of the 6k-page bench
    # corpus drops 8.1 s → 3.9 s warm). Same consumed-≥2× rule as stages
    # 5/5c; the checkpoint holds exactly the columns the corpus ships.
    docs = docs.localCheckpoint(eager=False)
    docs = dedup_exact(docs, text_col="text", keep_col="url")

    def rescore(rebuilt: DataFrame, n_dropped: str) -> DataFrame:
        # post-rebuild hygiene shared by 4a-4c: docs emptied by the rebuild
        # drop, and a doc that lost text (n_dropped > 0) re-scores and
        # re-gates on quality
        return (
            rebuilt.filter(F.length("text") > 0)
            .withColumn(
                "quality_score",
                F.when(
                    F.col(n_dropped) > 0, quality_score(F.col("text"))
                ).otherwise(F.col("quality_score")),
            )
            .filter(F.col("quality_score") >= F.lit(min_quality))
            .drop(n_dropped)
        )

    # 4a. host chrome removal (optional): lines on >= ratio of one host's
    # pages are template nav/footer — removed from ALL pages (zero copies)
    # BEFORE the keep-first dedups, so shared chrome neither survives via
    # "first occurrence" nor pulls same-host pages over the jaccard
    # threshold. Same post-rebuild hygiene as 4b/4c.
    if host_boilerplate_ratio is not None:
        from final_ocr_spark.operators.dedup import host_boilerplate_dedup

        docs = rescore(
            host_boilerplate_dedup(
                docs, key="url", text_col="text", host_col="host",
                min_ratio=host_boilerplate_ratio,
                min_pages=host_boilerplate_min_pages,
            ),
            "n_lines_dropped",
        )

    # 4b. paragraph dedup (optional): corpus-level boilerplate paragraphs
    # removed before near-dup sketching — shared paragraphs otherwise pull
    # unrelated docs over the jaccard threshold. Docs emptied by the rebuild
    # are dropped (all their content was corpus-duplicated), and the quality
    # gate RE-RUNS on the rebuilt text: a doc that passed stage 2 on the
    # strength of its boilerplate must not ship a stale quality_score (or
    # ship at all, if its surviving text no longer clears min_quality).
    if paragraph_dedup_min_chars is not None:
        from final_ocr_spark.operators.dedup import paragraph_dedup

        docs = rescore(
            paragraph_dedup(
                docs, key="url", text_col="text",
                min_chars=paragraph_dedup_min_chars,
            ),
            "n_paras_dropped",
        )

    # 4b'. sentence dedup (optional): the granularity below 4b — syndicated
    # ledes/wire sentences repeating inside otherwise-unique paragraphs.
    # Same post-rebuild hygiene: emptied docs drop, quality re-scores.
    if sentence_dedup_min_chars is not None:
        from final_ocr_spark.operators.dedup import sentence_dedup

        docs = rescore(
            sentence_dedup(
                docs, key="url", text_col="text",
                min_chars=sentence_dedup_min_chars,
            ),
            "n_sents_dropped",
        )

    # 4c. duplicate-span dedup (optional): Lee-et-al exact-substring removal
    # at token-gram granularity — catches syndicated passages inside
    # otherwise-unique docs that paragraph dedup misses when the copy spans
    # paragraph boundaries or the paragraphs differ at the edges. Same
    # post-rebuild hygiene as 4b: emptied docs drop, quality re-scores.
    if span_dedup_gram_n is not None:
        from final_ocr_spark.operators.spans import duplicate_span_dedup

        docs = rescore(
            duplicate_span_dedup(
                docs, key="url", text_col="text", gram_n=span_dedup_gram_n
            ),
            "n_tokens_dropped",
        )

    # 5. near-dup dedup: candidates → exact verify → components → reps
    if near_dup:
        # three consumers of `docs` below (the minhash sketch, the n-gram
        # verify joining BOTH pair sides, the representative join) — the
        # same consumed-≥2× pitfall 5c guards against: without a barrier
        # each consumer re-executes the whole upstream chain (the Python
        # extraction stage + every gate + PII redaction). Measured on the
        # 6k-page bench corpus: 21 s → 9 s for this stage.
        docs = docs.localCheckpoint(eager=False)
        # candidates_only: the exact-jaccard verify below is the precision
        # stage; the banded est filter between them was pure recall loss
        # plus two signature joins (r6, guide §2.4)
        cand = minhash_near_dups(
            docs,
            key="url",
            text_col="text",
            num_hashes=minhash_hashes,
            bands=minhash_bands,
            candidates_only=True,
        )
        verified = (
            ngram_jaccard_pairs(docs, cand, key="url", text_col="text", n=5)
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("key_a", "key_b")
        )
        # jump = min-label+pointer-jumping (dense LSH cluster graphs);
        # star = large-star/small-star, the edge-only-state form for
        # path-shaped/huge graphs — see dedup_clusters
        clusters = dedup_clusters(verified, algorithm=cluster_algorithm)
        # keep-best: survivors are the highest-quality cluster member
        # instead of the arbitrary min-key one — costs one slim
        # (key, quality) join + a window over member rows only
        docs = keep_cluster_representatives(
            docs, clusters, key="url",
            quality_col="quality_score" if neardup_keep_best else None,
        )

    # 5b'. containment dedup (optional): drop docs (nearly) wholly contained
    # in another surviving doc — quoted articles / mirrors-with-chrome that
    # near-dup Jaccard cannot see (the container dilutes the estimate).
    # Runs AFTER cluster dedup so the winnowing self-join sees the already
    # thinned corpus.
    if containment_threshold is not None:
        from final_ocr_spark.operators.dedup import containment_dedup

        docs = containment_dedup(
            docs,
            key="url",
            text_col="text",
            containment_threshold=containment_threshold,
        )

    # 5c. semantic dedup (optional, round 4): SemDeDup-style embedding-space
    # dedup over the deterministic hashed-projection embedder — paraphrase/
    # template groups no LEXICAL stage above can see collapse to their
    # min-url member. Runs text-in (operators/embed.py supplies the
    # vectors), after the lexical dedups so it only sketches the thinned
    # corpus. Scale shape: embedding is one map-side-combined (url, slot)
    # agg (≤dim rows/doc shuffle), blocking explodes keys only, vectors
    # rejoin survivors. The rare gramless doc (NULL embedding) is kept
    # unconditionally — no vector, no judgment.
    if semantic_threshold is not None or prototype_prune_frac is not None:
        # 5c/5d each consume `docs` 3-4× (two scans inside the embedder +
        # vector/gramless joins) — without a barrier EVERY consumer re-runs
        # the full upstream pipeline (the consumed-≥2× pitfall)
        docs = docs.localCheckpoint(eager=False)
    if semantic_threshold is not None:
        from final_ocr_spark.operators.embed import embed_hashed_ngrams
        from final_ocr_spark.operators.similarity import (
            semantic_dedup,
            semantic_dedup_kmeans,
        )

        if semantic_method not in ("lsh", "kmeans"):
            raise ValueError(
                f"semantic_method must be 'lsh' or 'kmeans', got "
                f"{semantic_method!r}"
            )
        # consumed twice below (vector join + gramless semi-join) — without
        # the checkpoint the full explode→agg embedding plan runs twice
        emb = embed_hashed_ngrams(
            docs, key="url", text_col="text", dim=semantic_dim
        ).localCheckpoint(eager=False)
        with_vec = docs.join(emb, "url").filter(
            F.col("embedding").isNotNull()
        )
        gramless = docs.join(
            emb.filter(F.col("embedding").isNull()).select("url"),
            "url", "left_semi",
        )
        if semantic_method == "kmeans":
            # paper-faithful SemDeDup: k-means blocking, least-prototypical
            # survivor (semantic_k ≈ corpus/expected-cluster-size). k is
            # clamped to the embeddable-doc count — a small/heavily-gated
            # corpus must degrade (fewer clusters), never abort the whole
            # run at its second-to-last stage (review-caught).
            with_vec = with_vec.localCheckpoint(eager=False)  # count + dedup
            n_vec = with_vec.count()
            # k defaults to corpus/semantic_cluster_size (the paper's
            # k ≈ n/expected-cluster-size): a CONSTANT k makes the
            # within-cluster self-join O((n/k)²·k) — quadratic in corpus
            # size — while n-proportional k keeps it linear (review-caught)
            k = semantic_k or max(1, n_vec // semantic_cluster_size)
            if n_vec >= 2:
                deduped = semantic_dedup_kmeans(
                    with_vec, k=min(k, n_vec),
                    threshold=semantic_threshold,
                    id_col="url", seed=kmeans_seed,
                )
            else:
                deduped = with_vec  # 0-1 docs: nothing to dedup
        else:
            deduped = semantic_dedup(
                with_vec, threshold=semantic_threshold, id_col="url",
                bits=semantic_bits,
            )
        docs = deduped.drop("embedding").unionByName(gramless)
        if prototype_prune_frac is not None:
            # 5d scans the post-dedup corpus 3× — re-barrier it
            docs = docs.localCheckpoint(eager=False)

    # 5d. prototype pruning (optional, round 4): drop the frac most-
    # prototypical docs per k-means cluster (SSP, Sorscher et al. 2022) —
    # with the kmeans semantic stage above this is the D4 recipe. Runs on
    # the POST-dedup corpus (its own embedding pass over survivors: the
    # dedup stage's vectors describe a corpus that no longer exists).
    if prototype_prune_frac is not None:
        from final_ocr_spark.operators.cluster import kmeans, prune_prototypes
        from final_ocr_spark.operators.embed import embed_hashed_ngrams

        emb_p = embed_hashed_ngrams(
            docs, key="url", text_col="text", dim=semantic_dim
        ).filter(F.col("embedding").isNotNull()).localCheckpoint(eager=False)
        n_vec = emb_p.count()  # clamp k; skip the stage on a tiny corpus
        k = prototype_k or max(1, n_vec // semantic_cluster_size)
        if n_vec >= 2:
            assigns, _, _ = kmeans(
                emb_p, min(k, n_vec), key="url", seed=kmeans_seed
            )
            docs = prune_prototypes(
                docs, assigns, prototype_prune_frac, key="url"
            )

    # 5b. benchmark decontamination (optional): drop docs sharing an n-gram
    # with the eval set — broadcast semi-join on gram hashes, corpus-side
    # rides its scan
    if benchmark is not None:
        from final_ocr_spark.operators.decontaminate import decontaminate

        docs = decontaminate(
            docs, benchmark, key="url", text_col="text",
            bench_key=benchmark.columns[0], bench_text_col="text",
            n=benchmark_ngram,
        )

    # 6. per-host cap (skew-safe)
    if host_cap is not None:
        docs = stratified_cap(
            docs, "host", ["warc_ts", "url"], host_cap,
            salt_buckets=16, salt_key="url",
        )

    # 7. deterministic sample
    if sample_rate is not None:
        docs = deterministic_sample(docs, "url", sample_rate, salt=sample_salt)

    # 8. temperature reweighting (optional): XLM/mT5 alpha-sampling over
    # the (detected) language — flattens the head so low-resource
    # languages aren't drowned. Runs LAST: the shares it targets should
    # describe the corpus that actually ships. NULL langs group as 'und'
    # rather than inheriting temperature_mixture's drop-null contract —
    # a pipeline user losing every undetected-lang doc to a reweighting
    # stage would be a silent data loss, not a mixture choice. The salt is
    # DERIVED from sample_salt, never equal to it: stage 7 and this stage
    # both filter on md5(salt ‖ url), so sharing the salt would correlate
    # the two keep decisions perfectly (stage-7 survivors all have bucket
    # < its threshold) and the alpha-mixture shares would silently never
    # be achieved when both flags are set.
    if temperature_alpha is not None:
        from final_ocr_spark.operators.sampling import temperature_mixture

        docs = (
            temperature_mixture(
                docs.withColumn(
                    "_tgroup", F.coalesce(F.col(temperature_group), F.lit("und"))
                ),
                "_tgroup", "url", alpha=temperature_alpha,
                salt=sample_salt + "|temperature",
            )
            .drop("_tgroup")
        )

    return docs
