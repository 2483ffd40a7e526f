"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction over sf0.001.
``queries()`` — one entry per implemented operator (SURVEY §2 + training-data
ops); each callable takes (spark, sf_dir) and returns a DataFrame.
``oracle_sql()`` — DuckDB-equivalent SQL per query (omitted for genuinely
non-SQL-expressible ops → rows-only check).

Column names are aliased identically on both sides; floating aggregates are
rounded in-query on both sides so the order-insensitive value-hash is stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# R5 number-normalization test matrix (FIXTURES.md §3) — same literals feed
# both engines.
R5_CASES = [
    "1.234,56", "1,234.56", "37,75", "1,234", "1.234", "209.00",
    "$ 6,204.19", "762.4400000000001", "12.345.678,90", "abc", "-42,50",
    "1.2345", "-1.234.567", "5,00", "0.1",
]


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: main-content extraction over the sf0.001 documents corpus
    mapped into the pages shape (html=null → text-column branch), plus the
    synthetic HTML/PDF corpus — the full dispatch surface in one query."""
    from final_ocr_spark.operators.extract_pages import extract_pages
    from final_ocr_spark.sources.synthetic_pages import gen_pages

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    doc_pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    synth = gen_pages(spark, 200, seed=42)
    pages = doc_pages.unionByName(synth)
    ext = extract_pages(pages, dedup=True)
    return ext.select(
        "url", "lang", "doc_kind", "n_chars", "n_blocks", F.size("spans").alias("n_spans")
    ).orderBy("url")


# ---------------------------------------------------------------------------
# queries


def _q1_rollup(spark, sf):
    """A1/V3 — partial+final hash aggregation rollup (TPC-H Q1 shape),
    ref: totals-from-items fallback ocr.py:979-994."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q2_parent_child(spark, sf):
    """A5 — the FK child→parent 1:N join shape (items tagged with parent
    invoice id, ocr2.py:661-673).

    Join strategy (r6): when the probe-side scan has fewer splits than
    cores (the single-row-group local files), a broadcast join pins the
    whole probe + partial-agg on that one scan task; hinting SHUFFLE_HASH
    moves the join behind a key exchange that also satisfies the groupBy's
    distribution (o_orderkey ⊂ group keys), so the heavy work runs on
    every core for the price of one slim-row shuffle (guide §3.1).
    Measured 1.29s → 0.72s warm at sf0.1. With parallel scans (real file
    counts) the condition is false and the planner's broadcast stands."""
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    if _below_cores(li):
        orders = orders.hint("shuffle_hash")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_ext"),
        )
    )


def _q3_dedup_latest(spark, sf):
    """A6 — latest-wins dedup via row_number window (url↔user_id analog)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
        )
    )


def _q4_topk(spark, sf):
    """A7 — deterministic top-k (orderBy + limit with tiebreak)."""
    c = _t(spark, sf, "customer")
    return (
        c.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(10)
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    )


def _q5_best_of_k(spark, sf):
    """A3/E3 — best-of-K argmax selection (OCR multi-config keep-longest,
    ocr2.py:157-183) as a deterministic window."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("best_type"),
                F.round("value", 2).alias("best_value"))
    )


def _q6_date_normalize(spark, sf):
    """R2/R3 — date cascade with pinned first-format-wins order
    (ocr2.py:299-319; golden 04/13/2013→2013-04-13)."""
    from final_ocr_spark.functions.parsing import normalize_date

    ev = _t(spark, sf, "events")
    # two string styles: day-first parseable, and month-first-only (day>12
    # forces fallthrough to the M-d format — the golden's observable order)
    df = ev.select(
        "event_id",
        F.date_format("ts", "dd/MM/yyyy").alias("ds_dayfirst"),
        F.date_format("ts", "MM-dd-yyyy").alias("ds_usdash"),
    )
    return df.select(
        "event_id",
        normalize_date(F.col("ds_dayfirst")).alias("parsed_dayfirst"),
        normalize_date(F.col("ds_usdash")).alias("parsed_usdash"),
    )


def _q7_number_normalize(spark, sf):
    """R5 — locale-aware number normalization over the pinned test matrix."""
    from final_ocr_spark.functions.numbers import normalize_number

    df = spark.createDataFrame([(s,) for s in R5_CASES], ["raw"])
    return df.select("raw", normalize_number(F.col("raw")).alias("norm_value"))


def _q8_id_cascade(spark, sf):
    """R1 — invoice-number pattern cascade, first match wins (ocr.py:176-185),
    incl. the null path."""
    from final_ocr_spark.functions.parsing import extract_id

    o = _t(spark, sf, "orders")
    s = F.when(
        F.col("o_orderkey") % 7 == 0, F.lit("no identifier in this row")
    ).otherwise(
        F.concat(F.lit("Invoice no: "), (F.col("o_orderkey") + F.lit(10000000)).cast("string"))
    )
    return o.select("o_orderkey", extract_id(s).alias("inv_id"))


def _q9_total_cascade(spark, sf):
    """R10+R5 — grand-total cascade then number normalization
    (extract_total ocr2.py:573-597 → clean_number)."""
    from final_ocr_spark.functions.numbers import normalize_number
    from final_ocr_spark.functions.parsing import extract_total_amount

    o = _t(spark, sf, "orders")
    s = F.concat(F.lit("Grand total: $ "), F.format_number(F.col("o_orderkey"), 0))
    return o.select(
        "o_orderkey",
        normalize_number(extract_total_amount(s)).alias("total_value"),
    )


def _q10_section_extract(spark, sf):
    """G1/G3 — marker-delimited section extraction with lazy span
    (extract_section ocr.py:119-167)."""
    d = _t(spark, sf, "documents")
    sec = F.nullif(F.regexp_extract(F.col("text"), r"spark(.*?)join", 1), F.lit(""))
    return d.select("doc_id", F.trim(sec).alias("section"))


def _q11_completeness(spark, sf):
    """V9 — completeness scoring from field-presence flags
    (completeness_score fixture, invoice_analysis_20250921_124128.json:148)."""
    from final_ocr_spark.functions.validate import completeness_score

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        completeness_score(
            F.col("text").contains("spark"),
            F.col("text").contains("join"),
            F.col("text").contains("data"),
            F.col("lang") == "en",
        ).alias("score"),
    )


def _q12_net_repair(spark, sf):
    """V1 — net-worth consistency repair (ocr.py:450-456) at aggregate scale.

    Runs in exact integer cents (floor-based) so the repair threshold is
    engine-independent: float round() tie-breaking differs between Spark
    (HALF_UP on the exact decimal expansion) and DuckDB (scaled std::round)
    on a handful of rows per 100k — integer arithmetic sidesteps it.
    ZERO divisions anywhere: computed = qty·(cents div qty) = cents − cents%qty
    (round 1 used floor(cents/qty), which is FLOAT division in Spark and
    flipped the floor vs DuckDB on a handful of rows → hash mismatch).
    """
    li = _t(spark, sf, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    qty = F.floor(F.col("l_quantity")).cast("long")
    computed_c = cents - F.pmod(cents, qty)  # ≡ qty * (cents div qty), pure ints
    # plant inconsistencies on 10% of rows (+500 cents)
    claimed_c = F.when(F.col("l_orderkey") % 10 == 0, cents + 500).otherwise(cents)
    # V1 with tol=10 cents: |claimed - computed| > 10 ⇒ overwrite with computed
    repaired_c = F.when(F.abs(claimed_c - computed_c) > 10, computed_c).otherwise(claimed_c)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(repaired_c).alias("sum_net_repaired_cents"),
            F.sum(F.when(claimed_c != repaired_c, 1).otherwise(0)).alias("n_repaired"),
        )
        .orderBy("l_returnflag")
    )


def _q13_vat_additivity(spark, sf):
    """V2 — totals additivity gate |gross-(net+vat)|<tol (ocr.py:937-943).

    Exact integer cents end-to-end — the round-1 version nested F.round on
    doubles and Spark HALF_UP vs DuckDB scaled-round diverged on ties
    (PLANS.md pitfall #2). Violations are planted (+3 cents on every 13th
    order) so the gate actually fires; tol = 2 cents.
    """
    from final_ocr_spark.functions.validate import totals_additivity_ok

    li = _t(spark, sf, "lineitem")
    net_c = F.floor(F.col("l_extendedprice") * 100).cast("long")
    tax_p = F.floor(F.col("l_tax") * 100).cast("long")  # e.g. 0.04 → 4
    vat_raw = net_c * tax_p  # ≤ ~1e10: no overflow risk under ANSI
    vat_c = ((vat_raw - F.pmod(vat_raw, 100)) / F.lit(100)).cast("long")  # exact int div
    gross_c = net_c + vat_c + F.when(F.col("l_orderkey") % 13 == 0, F.lit(3)).otherwise(F.lit(0))
    ok = totals_additivity_ok(net_c, vat_c, gross_c, tol=2)
    return li.select(
        F.sum(F.when(ok, 1).otherwise(0)).alias("n_ok"),
        F.count(F.lit(1)).alias("n_total"),
    )


def _q14_exact_dedup(spark, sf):
    """Exact dedup (training-data op): distinct normalized text — run
    through BOTH custom storage layouts so the driver value-checks them
    end-to-end, not just pytest:

    * stage 'exact'   — plain scan (the original query);
    * stage 'catalog' — documents written to a SnapshotCatalog table
      clustered on n_chars, read back via ``read(where=...)`` (manifest
      min/max file skipping + residual filter: pruning must never change
      results, only cost);
    * stage 'bucketed' — documents and a slim dim co-bucketed on doc_id,
      joined via bucketed_join (the shuffle-free co-located path).
    """
    import os
    import tempfile

    from final_ocr_spark.sources.bucketed import bucketed_join, write_bucketed
    from final_ocr_spark.sources.catalog import SnapshotCatalog

    d = _t(spark, sf, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))

    def agg(df, stage):
        return df.select(
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct(
                F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
            ).alias("n_distinct"),
        )

    exact = agg(d, "exact")

    # deterministic scratch dir per sf (NOT mkdtemp): repeated gate runs
    # overwrite in place instead of leaking a fresh corpus copy each call,
    # and the sf-suffixed table names keep a still-lazy DataFrame from one
    # sf from being repointed by a later build at another sf
    import hashlib

    tag = hashlib.md5(sf.encode("utf-8")).hexdigest()[:8]
    tmp = os.path.join(tempfile.gettempdir(), f"focr_q14_{tag}")
    cat = SnapshotCatalog(os.path.join(tmp, "wh"))
    cat.write(d, "docs", mode="overwrite", cluster_by=["n_chars"],
              cluster_files=8)
    pred = "n_chars >= 700 AND lang = 'en'"
    catalog = agg(cat.read(spark, "docs", where=pred), "catalog")

    dim = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "n_chars")
    write_bucketed(d.select("doc_id", "text"), f"q14_docs_b_{tag}",
                   ["doc_id"], 8, path=os.path.join(tmp, "docs_b"))
    write_bucketed(dim, f"q14_dim_b_{tag}", ["doc_id"], 8,
                   path=os.path.join(tmp, "dim_b"))
    joined = bucketed_join(spark, f"q14_docs_b_{tag}", f"q14_dim_b_{tag}",
                           on=["doc_id"])
    bucketed = agg(joined, "bucketed")

    return exact.unionByName(catalog).unionByName(bucketed).orderBy("stage")


def _q15_token_quality(spark, sf):
    """Text analysis: token counting + quality scoring per language."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tok = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and")))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(n_tok), 4).alias("avg_tokens"),
            F.round(F.avg(stop / F.greatest(n_tok, F.lit(1))), 6).alias("avg_stopword_ratio"),
        )
        .orderBy("lang")
    )


def _q16_lang_rollup(spark, sf):
    """Corpus rollup by language (A1 analog on documents)."""
    d = _t(spark, sf, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("n_chars"), 4).alias("avg_chars"))
        .orderBy("lang", "source")
    )


def _q17_cosine_topk(spark, sf):
    """Similarity search: brute-force cosine top-k against a query vector
    (the ANN baseline; vectorized JVM-side array math, no UDF)."""
    emb = _t(spark, sf, "embeddings")
    # |q| is folded ONCE on the 1-row broadcast build side (r6): interpreted
    # HOF folds get no CSE/constant-folding, so computing it in the joined
    # projection re-ran a dim-element fold per probe row. Same fold over the
    # same doubles, carried through the broadcast — bit-identical cos_sim.
    qv = F.col("embedding").cast("array<double>")
    q = emb.filter(F.col("vec_id") == 0).select(
        qv.alias("qv"),
        F.sqrt(
            F.aggregate(
                F.transform(qv, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x
            )
        ).alias("nq"),
    )
    e = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    j = e.crossJoin(F.broadcast(q))
    dot = F.aggregate(F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    nv = F.sqrt(F.aggregate(F.transform("v", lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x))
    cos = dot / (nv * F.col("nq"))
    return (
        j.select("vec_id", F.round(cos, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(20)
    )


def _q18_word_jaccard(spark, sf):
    """N-gram/word-set Jaccard similarity on consecutive-doc candidate pairs
    (the verify stage of near-dup dedup)."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    words = F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    a = d.select(F.col("doc_id").alias("id_a"), words.alias("wa")).filter(F.col("id_a") % 2 == 0)
    b = d.select(F.col("doc_id").alias("id_b"), words.alias("wb"))
    pairs = a.join(b, a.id_a + 1 == b.id_b)
    jac = F.size(F.array_intersect("wa", "wb")) / F.size(F.array_union("wa", "wb"))
    return pairs.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


def _mutated_corpus(spark, sf):
    """The planted near-dup corpus shared by q19/q20/q38: documents plus a
    15-char-truncated copy of every 40th doc (doc_id + 1000000). The SAME
    construction feeds all three oracles — keep in sync with their SQL."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    mutated = (
        d.filter((F.col("doc_id") % 40 == 0) & (F.length("text") > 200))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr("substring(text, 1, length(text) - 15)").alias("text"),
        )
    )
    return d.unionByName(mutated)


def _verified_near_dup_pairs(corpus, jaccard: float = 0.85):
    """Shared recall+precision near-dup stage for q19/q38: minhash-LSH
    candidates (32 hashes / 8 bands — recall ≥0.997 per pair at J≥0.85,
    1-(1-0.85⁴)⁸) filtered by EXACT 5-gram jaccard, which is what the
    brute-force SQL oracles replicate."""
    from final_ocr_spark.operators.dedup import minhash_near_dups, ngram_jaccard_pairs

    # candidates_only: the exact-jaccard verify below is the precision
    # stage, so the banded signature-agreement filter the r1-r5 versions
    # ran in between was pure recall loss (and two joins) — dropping it can
    # only move the output TOWARD the brute-force oracle (r6, guide §2.4)
    cand = minhash_near_dups(
        corpus, key="doc_id", text_col="text", num_hashes=32, bands=8,
        candidates_only=True,
    )
    verified = ngram_jaccard_pairs(corpus, cand, key="doc_id", text_col="text", n=5)
    return verified.filter(F.col("jaccard") >= jaccard)


def _q19_minhash_pairs(spark, sf):
    """MinHash+LSH candidate generation + EXACT shingle-jaccard verify — the
    full production near-dup pipeline (recall stage + precision stage) —
    PLUS the incremental variant (new batch vs precomputed historical
    signature table) as stage='incr' rows, so both dedup modes sit behind
    one driver correctness row (the driver gate checks 50 queries).

    Near-dups are planted by appending truncated copies of every 40th doc.
    The final filter is on EXACT 5-gram jaccard (not the minhash estimate),
    so brute-force all-pairs SQL is a valid oracle: it matches whenever LSH
    recall at jaccard≥0.85 is total, which banding theory puts at
    P(miss) ≈ (1−0.85⁴)¹⁶ < 1e-5 per pair and which holds on this corpus.
    """
    full = _verified_near_dup_pairs(_mutated_corpus(spark, sf)).select(
        F.lit("full").alias("stage"), "key_a", "key_b", "jaccard"
    )
    incr = _incremental_near_dup_pairs(spark, sf).select(
        F.lit("incr").alias("stage"), "key_a", "key_b", "jaccard"
    )
    return full.unionByName(incr).orderBy("stage", "key_a", "key_b")


def _q20_simhash_pairs(spark, sf):
    """SimHash near-dup pairs, same planted corpus. The hamming-ball blocking
    has no SQL analog, but the output is deterministic → committed golden
    VALUES oracle (pinned at the driver's sf0.01 correctness gate)."""
    from final_ocr_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(
        _mutated_corpus(spark, sf), key="doc_id", text_col="text", max_hamming=3
    ).orderBy("key_a", "key_b")


def _q21_extract_pages(spark, sf):
    """Flagship extraction over the synthetic pages corpus (rows-only:
    HTML/PDF branches aren't SQL-expressible)."""
    from final_ocr_spark.operators.extract_pages import extract_pages
    from final_ocr_spark.sources.synthetic_pages import gen_pages

    pages = gen_pages(spark, 500, seed=42)
    ext = extract_pages(pages, dedup=True)
    return ext.select("url", "doc_kind", "lang", "n_chars", "n_blocks").orderBy("url")


def _q22_doc_fingerprint(spark, sf):
    """Document fingerprinting: content hash of normalized text + length
    bucket. MD5 (not xxhash64) so the fingerprint is engine-independent and
    the oracle can verify actual hash values — round 1 had no oracle here.
    ``bpe_rt_md5`` drives the full BPE tokenizer path (corpus-trained
    merges → Arrow-batched encode → codegen decode) end-to-end: the
    decode of the encode must equal the canonical pre-tokenized view of
    the text, which the oracle rebuilds with pure string SQL — so the
    whole train/encode/decode pipeline is value-checked, not just its
    row count."""
    from final_ocr_spark.operators.bpe import bpe_decode, bpe_encode, train_bpe

    d = _t(spark, sf, "documents")
    merges = train_bpe(d, n_merges=48)
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    # ASCII-project the round-trip input: the engine's pre-tokenizer uses
    # Java's (?U) Unicode \w while DuckDB's RE2 \w is ASCII-only, so a
    # future non-ASCII corpus refresh would silently diverge the oracle.
    # The full Unicode round-trip stays pinned by tests/test_bpe.py.
    rt = bpe_decode(
        bpe_encode(F.regexp_replace(F.col("text"), r"[^\x00-\x7F]", " "),
                   merges)
    )
    return d.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("fingerprint"),
        F.floor(F.length(norm) / 100).cast("long").alias("len_bucket"),
        F.md5(rt.cast("binary")).alias("bpe_rt_md5"),
    )


def _q23_quality_profile(spark, sf):
    """Text-analysis: token counts + quality features per language
    (training-data quality scoring; Gopher-style deterministic bands)."""
    from final_ocr_spark.operators.text_stats import quality_features

    d = _t(spark, sf, "documents")
    f = quality_features(F.col("text"))
    return (
        d.select(
            "lang",
            f["n_tokens"].alias("n_tok"),
            f["stopword_ratio"].alias("sr"),
            f["mean_word_len"].alias("mwl"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
            F.round(F.avg("sr"), 6).alias("avg_stopword_ratio"),
            F.round(F.avg("mwl"), 6).alias("avg_word_len"),
        )
        .orderBy("lang")
    )


def _q24_ann_lsh(spark, sf):
    """ANN scale path: precomputed bucket-PARTITIONED sketch index
    (build_ann_index) + partition-pruned probe + exact re-rank.

    Oracle-checkable by construction: 20 positively-scaled copies of the
    query vector are planted (cosine exactly 1, identical sign sketch ⇒ they
    land in the query's own bucket ⇒ index recall for them is provably
    100%), so exhaustive exact top-20 SQL is a valid oracle.
    """
    from final_ocr_spark.operators.similarity import ann_index_topk, build_ann_index

    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    base = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = (
        emb.filter(F.col("vec_id") == 0)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(20))).alias("i"),
            F.col("embedding").cast("array<double>").alias("e"),
        )
        .select(
            (F.col("i") + 100000).cast("long").alias("vec_id"),
            F.transform(
                "e", lambda x: x * (F.lit(1.0) + F.col("i") * F.lit(0.1))
            ).alias("embedding"),
        )
    )
    corpus = base.unionByName(planted)
    idx_dir = f"/tmp/final_ocr_spark_annidx_{sf.strip('/').replace('/', '_')}"
    build_ann_index(corpus, idx_dir, bits=8, seed=11)
    out = ann_index_topk(
        spark, idx_dir, [float(x) for x in q], k=20, bits=8, seed=11, multiprobe=1
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"), F.round("cos_sim", 4).alias("cos_sim")
    )


def _q25_batch_topk(spark, sf):
    """Bulk similarity: numpy-matmul mapInPandas top-k for a query set."""
    from final_ocr_spark.operators.similarity import cosine_topk_batch

    emb = _t(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id").isin(0, 17)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_topk_batch(emb.filter(~F.col("vec_id").isin(0, 17)), qs, k=10)
    return out.select("query_id", "vec_id", F.round("cos_sim", 4).alias("cos_sim"))


def _q26_image_features(spark, sf):
    """Multimodal stages (deterministic codecs; committed-golden oracle —
    no SQL analog): 'image' = decode/features via mapInPandas; 'img_pair'
    = perceptual-hash near-dup pairs over the guaranteed-recall pigeonhole
    index (planted exact copies at media_id+1000 must surface at hamming
    0); 'audio' = clip features + spectral fingerprint; 'aud_pair' = the
    same index over audio fingerprints; 'prep' = the reference's raster
    preprocessing cascade (CLAHE → NLM → Otsu → bicubic upscale, real
    numpy kernels — extract/raster.py) re-featured off the processed
    PNG."""
    from final_ocr_spark.operators.dedup import hash64_near_dups
    from final_ocr_spark.operators.multimodal import (
        audio_features,
        gen_fake_audio,
        gen_fake_media,
        image_features,
        preprocess_images,
    )

    def _with_copies(df):
        dup = df.filter(F.col("media_id") % 10 == 0).select(
            (F.col("media_id") + 1000).alias("media_id"),
            "kind", "content", "mime", "meta",
        )
        return df.unionByName(dup)

    media = _with_copies(gen_fake_media(spark, 200, seed=42))
    audio = _with_copies(gen_fake_audio(spark, 40, seed=42))

    nul = {
        "key_b": F.lit(None).cast("long"),
        "hamming": F.lit(None).cast("int"),
        "width": F.lit(None).cast("int"),
        "height": F.lit(None).cast("int"),
        "mean_luma": F.lit(None).cast("double"),
        "std_luma": F.lit(None).cast("double"),
        "phash": F.lit(None).cast("long"),
        "sample_rate": F.lit(None).cast("int"),
        "n_samples": F.lit(None).cast("long"),
        "duration_s": F.lit(None).cast("double"),
        "rms": F.lit(None).cast("double"),
        "zero_crossings": F.lit(None).cast("long"),
        "afp": F.lit(None).cast("long"),
        "error": F.lit(None).cast("string"),
    }
    cols = ["stage", "media_id"] + list(nul)

    def _stage(df, stage, **present):
        exprs = [F.lit(stage).alias("stage"), F.col("media_id")]
        for name, default in nul.items():
            exprs.append(
                present[name].alias(name) if name in present else
                default.alias(name)
            )
        return df.select(*exprs)

    # decode/fingerprint each corpus ONCE (localCheckpoint) and feed the
    # pair index from the feature tables directly — image_near_dups /
    # audio_near_dups would re-run the Arrow decode inside the same union
    # plan (review-caught double decode)
    ifeats = image_features(media).localCheckpoint(eager=False)
    afeats = audio_features(audio).localCheckpoint(eager=False)
    img = _stage(
        ifeats, "image",
        width=F.col("width"), height=F.col("height"),
        mean_luma=F.col("mean_luma"), std_luma=F.col("std_luma"),
        phash=F.col("phash"), error=F.col("error"),
    )
    ipairs = _stage(
        hash64_near_dups(
            ifeats.filter("error is null and phash is not null")
            .select("media_id", "phash"),
            key="media_id", hash_col="phash", max_hamming=3,
        ).withColumnRenamed("key_a", "media_id"),
        "img_pair", key_b=F.col("key_b"), hamming=F.col("hamming"),
    )
    aud = _stage(
        afeats, "audio",
        sample_rate=F.col("sample_rate"), n_samples=F.col("n_samples"),
        duration_s=F.col("duration_s"), rms=F.col("rms"),
        zero_crossings=F.col("zero_crossings"), afp=F.col("afp"),
        error=F.col("error"),
    )
    apairs = _stage(
        hash64_near_dups(
            afeats.filter("error is null and afp is not null")
            .select("media_id", "afp"),
            key="media_id", hash_col="afp", max_hamming=3,
        ).withColumnRenamed("key_a", "media_id"),
        "aud_pair", key_b=F.col("key_b"), hamming=F.col("hamming"),
    )
    # 'prep' = the REAL raster preprocessing cascade (CLAHE → NLM denoise →
    # Otsu → conditional bicubic upscale, pure numpy — extract/raster.py,
    # reference preprocess_image ocr.py:10-43) run over every image, the
    # processed page re-encoded as PNG (stdlib codec) and re-featured: the
    # stage row pins dims + luma stats + phash of the PROCESSED page, so any
    # drift in any kernel breaks the committed golden. target_height=64
    # keeps gate-time upscales proportionate to the 8-64 px fake corpus.
    prep = preprocess_images(media, target_height=64).localCheckpoint(
        eager=False
    )
    prep_media = prep.filter("error is null").select(
        "media_id", F.lit("image").alias("kind"), "content",
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("string").alias("meta"),
    )
    pstage = _stage(
        image_features(prep_media), "prep",
        width=F.col("width"), height=F.col("height"),
        mean_luma=F.col("mean_luma"), std_luma=F.col("std_luma"),
        phash=F.col("phash"), error=F.col("error"),
    )
    perr = _stage(
        prep.filter("error is not null"), "prep", error=F.col("error")
    )
    return (
        img.unionByName(ipairs).unionByName(aud).unionByName(apairs)
        .unionByName(pstage).unionByName(perr)
        .select(*cols)
        .orderBy("stage", "media_id", "key_b")
    )


def _q27_video_frames(spark, sf):
    """Multimodal UDTF shape: video → sampled frames (1 row → N rows)."""
    from final_ocr_spark.operators.multimodal import gen_fake_media, sample_video_frames

    media = gen_fake_media(spark, 200, seed=42)
    return sample_video_frames(media, every_n=5).select(
        "media_id", "frame_idx", "width", "height"
    ).orderBy("media_id", "frame_idx")


def _q28_invoice_roundtrip(spark, sf):
    """R7/G5/V1/A1 round-trip: render invoice-style documents from lineitem,
    parse them back through the declarative record parser (exploded lines →
    forward-fill window → positional number extraction → net repair →
    rollup), and the result must equal direct aggregation of the source —
    the oracle never sees the text at all."""
    from final_ocr_spark.operators.invoice_records import parse_invoice_documents

    li = _t(spark, sf, "lineitem")
    qty = (F.col("l_orderkey") % 5 + 1).cast("long")
    price = ((F.col("l_partkey") % 90 + 10) * 10).cast("long")  # ÷10-safe ints
    net = qty * price
    gross = net * 11 / 10  # integral because price % 10 == 0
    line = F.concat(
        F.col("l_linenumber").cast("string"), F.lit(". widget item "),
        qty.cast("string"), F.lit(" each "), price.cast("string"),
        F.lit(" "), net.cast("string"), F.lit(" 10% "), gross.cast("long").cast("string"),
    )
    docs = (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("l_linenumber", line.alias("line")))),
                    lambda s: s.getField("line"),
                ),
                "\n",
            ).alias("body")
        )
        .select(
            F.col("l_orderkey").alias("doc_id"),
            F.concat(
                F.lit("Invoice no: "),
                (F.col("l_orderkey") + 10000000).cast("string"),
                F.lit("\nITEMS\n"), F.col("body"), F.lit("\nSUMMARY\n"),
            ).alias("text"),
        )
    )
    items = parse_invoice_documents(docs)
    return items.groupBy("doc_key").agg(
        F.min("invoice_no").alias("inv_id"),
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("net_worth"), 2).alias("sum_net"),
        F.round(F.sum("gross_worth"), 2).alias("sum_gross"),
    )


def _q29_set_ops(spark, sf):
    """A8 — set operators: intersect/except between customer keys and order
    customer keys (absent in the reference; required at corpus scale)."""
    c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    n_with = c.intersect(o).count()
    n_without = c.subtract(o).count()  # SQL EXCEPT (distinct) semantics
    return spark.createDataFrame(
        [(c.count(), n_with, n_without)], ["n_customers", "n_with_orders", "n_without_orders"]
    )


def _q30_window_agg(spark, sf):
    """Tumbling-window aggregation on the event stream table (the batch form
    of the streaming windowed agg; SURVEY §2.8)."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value")
        .orderBy("hour_start", "event_type")
    )


def _q31_party_extract(spark, sf):
    """R4 — party (seller) extraction: name / address / tax id from a
    bounded section (parse_party_info ocr.py:202-257)."""
    from final_ocr_spark.functions.parsing import extract_party

    c = _t(spark, sf, "customer")
    text = F.concat(
        F.lit("Seller:\n"), F.col("c_name"),
        F.lit("\nStreet "), F.col("c_custkey").cast("string"), F.lit(" Cityville"),
        F.lit("\nTax Id: 9"), F.col("c_custkey").cast("string"), F.lit("-82"),
    )
    p = extract_party(text, "Seller")
    return c.select(
        "c_custkey",
        p["name"].alias("party_name"),
        p["address"].alias("party_address"),
        p["tax_id"].alias("party_tax_id"),
    )


def _q32_embedding_neardups(spark, sf):
    """Embedding-cosine near-dup pairs via hyperplane blocking + exact verify
    (training-data dedup). Planted dups are positively-scaled copies (cosine
    exactly 1, identical sign sketch ⇒ blocking recall is provably 100%, so
    the exhaustive SQL oracle matches)."""
    from final_ocr_spark.operators.similarity import embedding_near_dups

    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 500)
    scaled = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * 1.5)
        .alias("embedding"),
        F.col("label"),
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    ).unionByName(scaled)
    pairs = embedding_near_dups(corpus, threshold=0.99, dim=64)
    return pairs.select(
        "key_a", "key_b", F.round("cos_sim", 4).alias("cos_sim")
    ).orderBy("key_a", "key_b")


def _q33_sanity_rules(spark, sf):
    """V4/V5 — suspicious-magnitude flag (ocr.py:919-922) + quantity sanity
    cap (ocr.py:322). OCR-style corruptions are planted: every 9th order's
    quantity picked up an id digit-run (×100000), every 11th order's amount
    lost its decimal separator (×10000); the rules must neutralize exactly
    those. Integer aggregation only → engine-independent."""
    from final_ocr_spark.functions.validate import sane_quantity, suspicious_magnitude

    li = _t(spark, sf, "lineitem")
    qty_raw = F.when(
        F.col("l_orderkey") % 9 == 0, F.floor(F.col("l_quantity")) * 100000
    ).otherwise(F.floor(F.col("l_quantity"))).cast("double")
    amount = F.when(
        F.col("l_orderkey") % 11 == 0, F.col("l_extendedprice") * 10000
    ).otherwise(F.col("l_extendedprice"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(sane_quantity(qty_raw).cast("long")).alias("sum_sane_qty"),
            F.sum(F.when(qty_raw >= 1000, 1).otherwise(0)).alias("n_qty_capped"),
            F.sum(F.when(suspicious_magnitude(amount), 1).otherwise(0)).alias("n_suspicious"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def _q34_variant_fields(spark, sf):
    """R8 — variant-B field sniffing: party phone (ocr2.py:381-393) and
    per-item discount (ocr2.py:546-549), over synthesized party sections.
    The phone line must also be EXCLUDED from the address (ocr2.py:389)."""
    from final_ocr_spark.functions.numbers import normalize_number
    from final_ocr_spark.functions.parsing import extract_discount, extract_party

    c = _t(spark, sf, "customer")
    phone = F.concat(
        F.lit("+48 "), (F.col("c_custkey") % 900 + 100).cast("string"),
        F.lit("-"), (F.col("c_custkey") % 90 + 10).cast("string"),
        F.lit("-"), F.col("c_custkey").cast("string"),
    )
    text = F.concat(
        F.lit("Seller:\n"), F.col("c_name"),
        F.lit("\nPhone: "), phone,
        F.lit("\nStreet "), F.col("c_custkey").cast("string"), F.lit(" Cityville"),
        F.lit("\ndiscount $ "), (F.col("c_custkey") % 50).cast("string"), F.lit(".25"),
        F.lit("\nTax Id: 9"), F.col("c_custkey").cast("string"), F.lit("-82"),
    )
    p = extract_party(text, "Seller")
    return c.select(
        "c_custkey",
        p["phone"].alias("party_phone"),
        p["address"].alias("party_address"),
        normalize_number(extract_discount(text)).alias("discount_value"),
    )


def _q35_name_cleanup(spark, sf):
    """R9 — product-name cleanup (ocr2.py:553-565): strip number+unit tokens
    and the keyword tail (price/amount/total/... onward) from item lines."""
    from final_ocr_spark.functions.parsing import clean_product_name

    p = _t(spark, sf, "part")
    item = F.concat(
        F.col("p_name"), F.lit(" "),
        (F.col("p_partkey") % 5 + 1).cast("string"), F.lit(" pcs each "),
        (F.col("p_partkey") % 90 + 10).cast("string"),
        F.lit(".00 total $ "), (F.col("p_partkey") % 900 + 100).cast("string"),
        F.lit(".00 10% vat"),
    )
    return p.select("p_partkey", clean_product_name(item).alias("clean_name"))


# E4 canonicalization test matrix (pinned, feeds both engines — q36)
E4_CASES = [
    "Deil Laptop x1", "De11 Desktop Pro", "DeII Server", "plain Dell row",
    "pipe|char I|I here", "nbsp separated words",
    "  runs   of\t whitespace  ", "De11 then pipe | end",
]


def _q36_canonicalize(spark, sf):
    """E4 — OCR-error canonicalization over the pinned substitution matrix
    (clean_text ocr.py:100-117; table-driven, order-sensitive)."""
    from final_ocr_spark.functions.parsing import canonicalize_text

    df = spark.createDataFrame([(s,) for s in E4_CASES], ["raw"])
    return df.select("raw", canonicalize_text(F.col("raw")).alias("canon"))


def _q37_ann_ivf(spark, sf):
    """ANN scale path #2 — IVF (inverted-file) index: spherical-k-means
    lists, partition-pruned nprobe probe, exact re-rank. Same planted
    provable-recall oracle construction as q24 (scaled copies of the query
    normalize to the query's unit vector ⇒ identical list assignment, and
    nprobe>1 covers even a last-ulp argmax flip)."""
    from final_ocr_spark.operators.similarity import build_ivf_index, ivf_topk

    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    base = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = (
        emb.filter(F.col("vec_id") == 0)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(20))).alias("i"),
            F.col("embedding").cast("array<double>").alias("e"),
        )
        .select(
            (F.col("i") + 200000).cast("long").alias("vec_id"),
            F.transform(
                "e", lambda x: x * (F.lit(1.0) + F.col("i") * F.lit(0.1))
            ).alias("embedding"),
        )
    )
    corpus = base.unionByName(planted)
    idx_dir = f"/tmp/final_ocr_spark_ivfidx_{sf.strip('/').replace('/', '_')}"
    build_ivf_index(corpus, idx_dir, n_lists=32, seed=11)
    out = ivf_topk(spark, idx_dir, [float(x) for x in q], k=20, nprobe=4)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"), F.round("cos_sim", 4).alias("cos_sim")
    )


def _q38_dedup_clusters(spark, sf):
    """Near-dup CLUSTER formation (iterative connected components over the
    LSH+exact-verify pair graph) + representative selection — the full
    production dedup: pairs → components → keep min-key per component.
    Oracle: DuckDB recursive-CTE transitive closure over the brute-force
    exact-jaccard pair graph (same edges as q19's oracle). Runs the
    large-star/small-star algorithm — the huge/path-graph scale mode — so
    the scale path gets the hard driver signal; the pointer-jumping
    default is equivalence-pinned against it in tests/test_dedup.py."""
    from final_ocr_spark.operators.dedup import dedup_clusters

    from final_ocr_spark.operators.dedup import keep_cluster_representatives

    corpus = _mutated_corpus(spark, sf)
    pairs = _verified_near_dup_pairs(corpus).select("key_a", "key_b")
    clusters = dedup_clusters(pairs, algorithm="star")
    base = clusters.select(
        F.lit("cluster").alias("stage"),
        F.col("key").alias("doc_id"), "cluster_id",
        (F.col("key") == F.col("cluster_id")).alias("is_representative"),
    )
    # stage 'kept': the production keep-BEST rule — representative is the
    # highest-quality member (quality = text length, so the untruncated
    # original always beats its planted copy), losers left-anti'd off the
    # corpus; unclustered docs pass through untouched.
    kept = keep_cluster_representatives(
        corpus.withColumn("_q", F.length("text")), clusters,
        key="doc_id", quality_col="_q",
    ).select(
        F.lit("kept").alias("stage"), "doc_id",
        F.lit(None).cast("long").alias("cluster_id"),
        F.lit(None).cast("boolean").alias("is_representative"),
    )
    return base.unionByName(kept).orderBy("stage", "doc_id")


def _below_cores(df: DataFrame) -> bool:
    """True when ``df`` would run as fewer tasks than the session has
    cores (the local sf tables are single-row-group parquet files, which
    Spark reads as ONE task). Counts the partitions of the Dataset's own
    JVM RDD: one plan analysis, with no Python-side RDD conversion."""
    sc = df.sparkSession.sparkContext
    return df._jdf.rdd().getNumPartitions() < sc.defaultParallelism


def _spread(df: DataFrame) -> DataFrame:
    """Spread a scan whose parallelism is below the core count (the local
    sf tables are single-row-group parquet files, which Spark reads as ONE
    task) so CPU-heavy per-row work uses every core — guide §2.5's "input
    skew: one huge unsplittable file → repartition immediately after the
    read". Scale-adaptive, not a local[32] constant: at production scale
    the input is thousands of splits, the condition is false, and this is
    an exact no-op (no exchange added). Row-identical output either way."""
    if not _below_cores(df):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _rep_corpus(spark, sf):
    """Deterministic multi-line corpus for the repetition queries: inject
    newlines / blank lines at pinned word boundaries, and double every third
    document so line/paragraph duplication is actually present. Same
    construction in the DuckDB oracle."""
    d = _spread(_t(spark, sf, "documents")).select("doc_id", "text")
    body = F.replace(F.col("text"), F.lit(" data "), F.lit("\n"))
    body = F.replace(body, F.lit(" join "), F.lit("\n\n"))
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.concat(body, F.lit("\n"), body))
        .otherwise(body)
        .alias("text"),
    )


def _q39_gopher_repetition(spark, sf):
    """Gopher repetition signals (dup lines/paragraphs, top-n-gram and
    duplicated-n-gram character counts) + the composite keep flag — all
    integer arithmetic, zero data shuffle. The counts come from
    repetition_features_udf, the one repetition-count path: r6 replaced
    the Column folds, whose expression tree cost ~2 s of Catalyst planning
    per compile and ~100 core-ms/doc interpreted evaluation
    (OPTIMIZATION_r06.md §q39); those folds now live in tests/spec_forms.py
    as the differential oracle that pins the same integers. The keep flag
    reuses gopher_repetition_checks over the extracted fields, so the
    threshold rule has exactly one definition."""
    from final_ocr_spark.operators.repetition import (
        gopher_repetition_checks,
        repetition_features_udf,
    )

    d = _rep_corpus(spark, sf)
    d = d.withColumn(
        "_f", repetition_features_udf(top_ns=(2, 3, 4), dup_ns=(5, 10))(F.col("text"))
    )
    names = ["n_chars", "n_words", "n_lines", "n_distinct_lines",
             "dup_line_chars", "line_chars", "n_paras", "n_distinct_paras",
             "dup_para_chars", "para_chars", "top2gram_chars",
             "top3gram_chars", "top4gram_chars", "dup5gram_chars",
             "dup10gram_chars"]
    f = {k: F.col("_f")[k] for k in names}
    checks = gopher_repetition_checks(f)
    keep = F.lit(True)
    for c in checks.values():
        keep = keep & c
    cols = [F.col("doc_id")]
    cols += [f[k].alias(k) for k in names]
    cols.append(keep.alias("gopher_keep"))
    return d.select(*cols).orderBy("doc_id")


def _q40_c4_clean(spark, sf):
    """C4 line-level cleaning: per-document kept-line counts, md5 of the
    cleaned text (engine-independent fingerprint), and the doc-level keep
    decision."""
    from final_ocr_spark.operators.repetition import c4_features

    d = _rep_corpus(spark, sf)
    f = c4_features(F.col("text"))
    return d.select(
        "doc_id",
        f["n_lines"].alias("n_lines"),
        f["n_kept"].alias("n_kept"),
        F.md5(f["clean_text"].cast("binary")).alias("clean_md5"),
        f["has_lorem"].alias("has_lorem"),
        f["has_curly"].alias("has_curly"),
        f["doc_keep"].alias("doc_keep"),
    ).orderBy("doc_id")


def _q41_source_cap(spark, sf):
    """Two mixture-shaping passes as stage rows: ``cap`` = per-source
    document cap (C4/RefinedWeb per-domain cap) via the skew-safe two-phase
    salted window — output identical to the naive single-window plan,
    largest sort bounded by group/salts; ``temp`` = temperature mixture
    sampling (XLM/mT5 alpha-sampling, alpha=0.5 — exactly representable,
    IEEE sqrt is correctly rounded in both engines) reweighting languages
    by sqrt of their corpus share with the md5 keep rule."""
    from final_ocr_spark.operators.sampling import (
        stratified_cap,
        temperature_mixture,
    )

    d = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    capped = stratified_cap(
        d, "source", ["n_chars", "doc_id"], 7, salt_buckets=8, salt_key="doc_id"
    ).select(
        F.lit("cap").alias("stage"), "doc_id",
        F.col("source").alias("grp"), "n_chars",
    )
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    temp = temperature_mixture(
        docs, "lang", "doc_id", alpha=0.5, salt="t41"
    ).select(
        F.lit("temp").alias("stage"), "doc_id",
        F.col("lang").alias("grp"), "n_chars",
    )
    return capped.unionByName(temp).orderBy("stage", "doc_id")


def _q42_deterministic_sample(spark, sf):
    """Reproducible corpus sampling + train/val/test split + training-order
    shuffle key: every keep/assign decision is md5(salt||key) — a pure
    function of the key, identical across engines, reruns, and
    partitionings (unlike df.sample). The split is disjoint/exhaustive by
    construction and the shuffle key gives the standard reproducible
    pre-training global shuffle without RNG state."""
    from final_ocr_spark.operators.sampling import (
        deterministic_sample,
        deterministic_split,
        shuffle_order,
    )

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    s = deterministic_sample(d, "doc_id", 0.25, salt="s42")
    s = deterministic_split(
        s, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="s42s"
    )
    return s.select(
        "doc_id", "lang", "split",
        shuffle_order("doc_id", salt="s42o").alias("shuffle_key"),
    ).orderBy("doc_id")


def _q43_pii_redact(spark, sf):
    """PII detection + redaction (Dolma/RefinedWeb masking pass) over a
    corpus with deterministically injected emails/IPs/phones; counts per
    kind + md5 of the masked text (engine-independent fingerprint)."""
    from final_ocr_spark.operators.pii import pii_counts, redact_pii

    d = _t(spark, sf, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(i % 4 == 0,
               F.concat(F.lit(" mail user"), i.cast("string"), F.lit("@ex.org")))
        .otherwise(F.lit("")),
        F.when(i % 5 == 0,
               F.concat(F.lit(" ip 10.1."), (i % 250).cast("string"), F.lit(".7")))
        .otherwise(F.lit("")),
        F.when(i % 7 == 0,
               F.concat(F.lit(" call +44 20 7946 0"),
                        F.lpad((i % 1000).cast("string"), 3, "0")))
        .otherwise(F.lit("")),
    )
    d = d.select("doc_id", injected.alias("text"))
    counts = pii_counts(F.col("text"))
    return d.select(
        "doc_id",
        counts["n_email"].alias("n_email"),
        counts["n_ipv4"].alias("n_ipv4"),
        counts["n_phone"].alias("n_phone"),
        F.md5(redact_pii(F.col("text")).cast("binary")).alias("redacted_md5"),
    ).orderBy("doc_id")


def _q44_sequence_packing(spark, sf):
    """Training-chunk packing layout: global exclusive prefix sum of token
    counts via the two-pass range-partition form (no single global window),
    then integer chunk/position mapping at budget=512."""
    from final_ocr_spark.operators.packing import (
        chunk_taint,
        pack_chunks,
        pack_sequences,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    layout = (
        pack_sequences(
            d.select("doc_id", F.size(words).cast("long").alias("n_tokens")),
            "doc_id", "n_tokens", budget=512,
        )
        .select(
            F.lit("doc").alias("stage"), F.col("doc_id").alias("k"),
            "n_tokens", "offset", "chunk_id", "pos_in_chunk", "n_chunks",
            F.lit(None).cast("long").alias("n_docs"),
            F.lit(None).cast("string").alias("ids_md5"),
        )
    )
    # stage 'chunk': the MATERIALIZED layout — token-id arrays (word
    # lengths as deterministic ids + eos 0) packed into 256-token training
    # chunks with provenance spans; the md5 of the comma-joined ids checks
    # every token id and its position against the oracle's replication
    docs_ids = d.select(
        "doc_id", F.transform(words, lambda w: F.length(w)).alias("input_ids")
    )
    chunks = pack_chunks(
        docs_ids, "doc_id", "input_ids", budget=256, eos_id=0,
        provenance=True,
    )
    chunk_rows = chunks.select(
        F.lit("chunk").alias("stage"), F.col("chunk_id").alias("k"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.lit(None).cast("long").alias("offset"),
        F.lit(None).cast("long").alias("chunk_id"),
        F.lit(None).cast("long").alias("pos_in_chunk"),
        F.lit(None).cast("long").alias("n_chunks"),
        "n_docs",
        F.md5(
            F.array_join(
                F.transform("input_ids", lambda x: x.cast("string")), ","
            ).cast("binary")
        ).alias("ids_md5"),
    )
    # stage 'taint': the takedown audit — chunks containing >=1 token from
    # the opt-out keys, found from provenance without re-packing
    keys = d.select("doc_id").filter(F.col("doc_id") % 97 == 0)
    taint_rows = chunk_taint(chunks, keys).select(
        F.lit("taint").alias("stage"), F.col("chunk_id").alias("k"),
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("long").alias("offset"),
        F.lit(None).cast("long").alias("chunk_id"),
        F.lit(None).cast("long").alias("pos_in_chunk"),
        F.lit(None).cast("long").alias("n_chunks"),
        F.lit(None).cast("long").alias("n_docs"),
        F.lit(None).cast("string").alias("ids_md5"),
    )
    return (
        layout.unionByName(chunk_rows).unionByName(taint_rows)
        .orderBy("stage", "k")
    )


def _q45_decontaminate(spark, sf):
    """Benchmark decontamination (GPT-3/Llama 13-gram collision rule): the
    benchmark is a planted 20-word verbatim span from every 50th document;
    every doc sharing a 13-gram with it is flagged with its hit count."""
    from final_ocr_spark.operators.decontaminate import (
        contaminated_keys,
        contamination_report,
    )
    from final_ocr_spark.operators.dedup import sketch_words

    d = _t(spark, sf, "documents").select("doc_id", "text")
    words = sketch_words("text")
    base = (
        d.withColumn("_ws", words)
        .filter((F.col("doc_id") % 50 == 0) & (F.size("_ws") >= 29))
    )
    bench = base.select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.array_join(F.slice("_ws", 10, 20), " ").alias("text"),
    )
    # contamination-free control docs: same shape, every word zz-prefixed
    # (no corpus word starts with 'zz'), so the per-bench-doc report has
    # both hit_ratio=1.0 and hit_ratio=0.0 rows to discriminate
    clean = base.select(
        (F.col("doc_id") + 600000).alias("doc_id"),
        F.array_join(
            F.transform(
                F.slice("_ws", 10, 20), lambda w: F.concat(F.lit("zz"), w)
            ),
            " ",
        ).alias("text"),
    )
    bench_all = bench.unionByName(clean)
    flagged = contaminated_keys(d, bench_all, n=13).select(
        F.lit("doc").alias("stage"), "doc_id", "n_hits",
        F.lit(None).cast("long").alias("n_grams"),
        F.lit(None).cast("long").alias("n_grams_hit"),
        F.lit(None).cast("long").alias("n_corpus_docs"),
        F.lit(None).cast("double").alias("hit_ratio"),
    )
    report = contamination_report(d, bench_all, n=13).select(
        F.lit("bench").alias("stage"), "doc_id",
        F.lit(None).cast("long").alias("n_hits"),
        "n_grams", "n_grams_hit", "n_corpus_docs", "hit_ratio",
    )
    return flagged.unionByName(report).orderBy("stage", "doc_id")


def _q46_vocab_stats(spark, sf):
    """Corpus vocabulary statistics: top-5 terms per language by term
    frequency (ties → lexicographic), with document frequency — the
    explode → two-level aggregation shape of corpus-level token stats."""
    from final_ocr_spark.operators.dedup import sketch_words

    d = _t(spark, sf, "documents").select("doc_id", "lang", "text")
    ex = d.select("doc_id", "lang", F.explode(sketch_words("text")).alias("word"))
    counts = ex.groupBy("lang", "word").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct("doc_id").alias("doc_freq"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("tf").desc(), F.col("word"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("lang", "rank")
    )


def _q47_url_canonicalize(spark, sf):
    """URL canonicalization (crawl dedup key): scheme/host case, www, default
    ports, fragments, tracking params, trailing slashes — plus the
    registrable-domain heuristic; over deterministically synthesized messy
    URLs."""
    from final_ocr_spark.functions.urls import normalize_url, registered_domain

    d = _t(spark, sf, "documents").select("doc_id")
    i = F.col("doc_id")
    base = F.concat(
        F.lit("HTTP://WWW.Site"), (i % 20).cast("string"), F.lit(".Example.COM")
    )
    v = i % 5
    url = (
        F.when(v == 0, F.concat(base, F.lit(":80/path/")))
        .when(v == 1, F.concat(base, F.lit("/path?utm_source=x&b=2&a=1")))
        .when(v == 2, F.concat(base, F.lit("/Path#frag")))
        .when(v == 3, F.concat(base, F.lit(":8080/path")))
        .otherwise(F.concat(base, F.lit("/")))
    )
    norm = normalize_url(url)
    host = F.regexp_extract(norm, r"^[a-z0-9+.-]+://([^/:?#]+)", 1)
    return d.select(
        "doc_id",
        url.alias("url_raw"),
        norm.alias("url_norm"),
        registered_domain(host).alias("domain"),
    ).orderBy("doc_id")


def _q48_asof_join(spark, sf):
    """Point-in-time as-of join: every click matched to the user's latest
    preceding (<=) purchase — union + window last(ignorenulls), ONE
    exchange, never a range-exploded join. Oracle: DuckDB's native ASOF
    LEFT JOIN."""
    from final_ocr_spark.operators.events import asof_join

    e = _t(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("purchase_value")
    )
    return (
        asof_join(
            clicks, purchases, on="user_id", left_ts="ts", right_ts="pts",
            right_cols=["purchase_value"],
        )
        .select("event_id", "user_id", "ts", "purchase_value")
        .orderBy("event_id")
    )


def _q49_sessionize(spark, sf):
    """Gap-based sessionization (1-hour inactivity gap) + per-session
    rollup — run through the SKEW-GUARDED two-phase chunked mode
    (per-(key, day) local windows + O(#chunks) summary pass) so the scale
    path gets the hard driver signal; the single-window form is
    equivalence-pinned against it in tests/test_events.py."""
    from final_ocr_spark.operators.events import session_stats

    e = _t(spark, sf, "events").select("user_id", "ts")
    return session_stats(
        e, "user_id", "ts", gap_seconds=3600, chunk_seconds=86400
    ).orderBy("user_id", "session_id")


def _q50_count_min(spark, sf):
    """Count-min sketch term-frequency estimates (md5-bucketed, engine-
    independent): sketch built over corpus words in one bounded aggregation
    (≤ depth×256 rows regardless of corpus size), probed for pinned terms;
    exact counts alongside prove the one-sided error bound."""
    from final_ocr_spark.operators.dedup import sketch_words
    from final_ocr_spark.operators.sketches import cms_build, cms_lookup

    d = _t(spark, sf, "documents")
    toks = d.select(F.explode(sketch_words("text")).alias("tok"))
    cms = cms_build(toks, "tok", depth=4)
    terms = spark.createDataFrame(
        [(t,) for t in ["data", "join", "spark", "window", "zzz_absent"]],
        ["term"],
    )
    est = cms_lookup(cms, terms, "term", depth=4)
    exact = toks.groupBy(F.col("tok").alias("term")).agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    return (
        est.join(exact, "term", "left")
        .select(
            "term",
            "est_count",
            F.coalesce("exact_count", F.lit(0).cast("long")).alias("exact_count"),
        )
        .orderBy("term")
    )


def _incremental_near_dup_pairs(spark, sf):
    """Incremental near-dup detection: a new batch (fresh docs + planted
    truncated copies of historical ones) checked against the EXISTING
    corpus via its precomputed signature table — the historical corpus is
    never re-sketched. Exact 5-gram verify on the candidates makes
    brute-force new×hist SQL a valid oracle (LSH recall ≈ 1 at J≥0.85).
    Surfaced to the driver as q19's stage='incr' rows (formerly q51, which
    sat past the driver's 50-query cap and never got a correctness row)."""
    from final_ocr_spark.operators.dedup import (
        incremental_near_dups,
        minhash_sigs,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    hist = d.filter(F.col("doc_id") < 400)
    planted = (
        hist.filter((F.col("doc_id") % 25 == 0) & (F.length("text") > 200))
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.expr("substring(text, 1, length(text) - 12)").alias("text"),
        )
    )
    new = d.filter(F.col("doc_id") >= 400).unionByName(planted)
    hist_sigs = minhash_sigs(hist, num_hashes=32)
    cand = incremental_near_dups(
        new, hist_sigs, num_hashes=32, bands=8, jaccard_threshold=0.5
    ).select(F.col("new_key").alias("key_a"), F.col("hist_key").alias("key_b"))
    union = d.unionByName(planted)
    return (
        ngram_jaccard_pairs(union, cand, key="doc_id", text_col="text", n=5)
        .filter(F.col("jaccard") >= 0.85)
        .select("key_a", "key_b", "jaccard")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_rollup": _q1_rollup,
        "q2_parent_child": _q2_parent_child,
        "q3_dedup_latest": _q3_dedup_latest,
        "q4_topk": _q4_topk,
        "q5_best_of_k": _q5_best_of_k,
        "q6_date_normalize": _q6_date_normalize,
        "q7_number_normalize": _q7_number_normalize,
        "q8_id_cascade": _q8_id_cascade,
        "q9_total_cascade": _q9_total_cascade,
        "q10_section_extract": _q10_section_extract,
        "q11_completeness": _q11_completeness,
        "q12_net_repair": _q12_net_repair,
        "q13_vat_additivity": _q13_vat_additivity,
        "q14_exact_dedup": _q14_exact_dedup,
        "q15_token_quality": _q15_token_quality,
        "q16_lang_rollup": _q16_lang_rollup,
        "q17_cosine_topk": _q17_cosine_topk,
        "q18_word_jaccard": _q18_word_jaccard,
        "q19_minhash_pairs": _q19_minhash_pairs,
        "q20_simhash_pairs": _q20_simhash_pairs,
        "q21_extract_pages": _q21_extract_pages,
        "q22_doc_fingerprint": _q22_doc_fingerprint,
        "q23_quality_profile": _q23_quality_profile,
        "q24_ann_lsh": _q24_ann_lsh,
        "q25_batch_topk": _q25_batch_topk,
        "q26_image_features": _q26_image_features,
        "q27_video_frames": _q27_video_frames,
        "q28_invoice_roundtrip": _q28_invoice_roundtrip,
        "q29_set_ops": _q29_set_ops,
        "q30_window_agg": _q30_window_agg,
        "q31_party_extract": _q31_party_extract,
        "q32_embedding_neardups": _q32_embedding_neardups,
        "q33_sanity_rules": _q33_sanity_rules,
        "q34_variant_fields": _q34_variant_fields,
        "q35_name_cleanup": _q35_name_cleanup,
        "q36_canonicalize": _q36_canonicalize,
        "q37_ann_ivf": _q37_ann_ivf,
        "q38_dedup_clusters": _q38_dedup_clusters,
        "q39_gopher_repetition": _q39_gopher_repetition,
        "q40_c4_clean": _q40_c4_clean,
        "q41_source_cap": _q41_source_cap,
        "q42_deterministic_sample": _q42_deterministic_sample,
        "q43_pii_redact": _q43_pii_redact,
        "q44_sequence_packing": _q44_sequence_packing,
        "q45_decontaminate": _q45_decontaminate,
        "q46_vocab_stats": _q46_vocab_stats,
        "q47_url_canonicalize": _q47_url_canonicalize,
        "q48_asof_join": _q48_asof_join,
        "q49_sessionize": _q49_sessionize,
        "q50_count_min": _q50_count_min,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL; tables pre-registered as views)

_DUCK_TYPES = {"string": "VARCHAR", "int": "INTEGER", "bigint": "BIGINT",
               "double": "DOUBLE"}


def _values_oracle(name: str) -> str | None:
    """Render a committed golden row set (tests/golden/oracle_values.json,
    regenerated deliberately via `python -m tests.make_oracle_goldens`) as a
    DuckDB VALUES table.

    The extraction/multimodal queries run over fully deterministic seeded
    synthetic inputs, so their outputs are pure functions of the code — the
    committed golden IS the correctness contract (HTML parsing / fake-codec
    decode aren't SQL-expressible, but their pinned outputs are).
    """
    import json
    import pathlib

    p = pathlib.Path(__file__).parent / "tests" / "golden" / "oracle_values.json"
    if not p.exists():
        return None
    data = json.loads(p.read_text(encoding="utf-8")).get(name)
    if not data:
        return None

    def lit(v, t: str) -> str:
        if v is None:
            return "NULL"
        if t == "string":
            return "'" + str(v).replace("'", "''") + "'"
        if t == "double":
            return repr(float(v))
        return str(int(v))

    types = data["types"]
    rows_sql = ",\n".join(
        "(" + ", ".join(lit(v, t) for v, t in zip(row, types)) + ")"
        for row in data["rows"]
    )
    casts = ", ".join(
        f"CAST({c} AS {_DUCK_TYPES.get(t, 'VARCHAR')}) AS {c}"
        for c, t in zip(data["columns"], types)
    )
    collist = ", ".join(data["columns"])
    return f"SELECT {casts} FROM (VALUES\n{rows_sql}\n) AS t({collist})"


def oracle_sql() -> dict[str, str]:
    from final_ocr_spark.functions.numbers import normalize_number_sql
    from final_ocr_spark.functions.parsing import CANON_SUBSTITUTIONS

    r5_values = ", ".join(f"('{s}')" for s in R5_CASES)
    norm_raw = normalize_number_sql("raw")
    norm_amt = normalize_number_sql("amt")

    # E4: the oracle's replace chain is GENERATED from the pinned table so
    # the two sides can never drift
    e4_values = ", ".join("('" + s.replace("'", "''") + "')" for s in E4_CASES)
    canon_expr = "raw"
    for old, new in CANON_SUBSTITUTIONS:
        canon_expr = f"replace({canon_expr}, '{old}', '{new}')"
    canon_expr = f"regexp_replace(trim({canon_expr}), '[ \\t]+', ' ', 'g')"

    # golden-VALUES oracles for deterministic non-SQL-expressible queries
    # (q20's golden additionally pins the sf0.01 tables, which is the sf the
    # driver contract fixes for the correctness gate)
    goldens = {
        name: sql
        for name in ("q20_simhash_pairs", "q21_extract_pages",
                     "q26_image_features", "q27_video_frames")
        if (sql := _values_oracle(name)) is not None
    }

    return goldens | {
        "q1_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS cnt
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q2_parent_child": """
            SELECT o_orderkey, o_orderstatus,
                   count(*) AS n_items,
                   round(sum(l_extendedprice), 2) AS sum_ext
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderkey, o_orderstatus
        """,
        "q3_dedup_latest": """
            SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
            WHERE rn = 1
        """,
        "q4_topk": """
            SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
            FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 10
        """,
        "q5_best_of_k": """
            SELECT user_id, event_type AS best_type, round(value, 2) AS best_value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY value DESC, event_id) AS rn FROM events)
            WHERE rn = 1
        """,
        "q6_date_normalize": """
            SELECT event_id,
                   CAST(coalesce(
                     try_strptime(ds_dayfirst, '%d/%m/%Y'),
                     try_strptime(ds_dayfirst, '%d-%m-%Y'),
                     try_strptime(ds_dayfirst, '%m/%d/%Y'),
                     try_strptime(ds_dayfirst, '%m-%d-%Y'),
                     try_strptime(ds_dayfirst, '%Y-%m-%d')) AS DATE) AS parsed_dayfirst,
                   CAST(coalesce(
                     try_strptime(ds_usdash, '%d/%m/%Y'),
                     try_strptime(ds_usdash, '%d-%m-%Y'),
                     try_strptime(ds_usdash, '%m/%d/%Y'),
                     try_strptime(ds_usdash, '%m-%d-%Y'),
                     try_strptime(ds_usdash, '%Y-%m-%d')) AS DATE) AS parsed_usdash
            FROM (SELECT event_id,
                         strftime(ts, '%d/%m/%Y') AS ds_dayfirst,
                         strftime(ts, '%m-%d-%Y') AS ds_usdash
                  FROM events)
        """,
        "q7_number_normalize": f"""
            SELECT raw, {norm_raw} AS norm_value
            FROM (VALUES {r5_values}) AS t(raw)
        """,
        "q8_id_cascade": """
            SELECT o_orderkey,
                   coalesce(
                     nullif(regexp_extract(s, 'Invoice\\s+no[.:]?\\s*([0-9]{6,})', 1), ''),
                     nullif(regexp_extract(s, '\\b([0-9]{8,})\\b', 1), ''),
                     nullif(regexp_extract(s, '\\b([0-9]{2,4}-[0-9]{2,4}-[0-9]{2,4})\\b', 1), '')
                   ) AS inv_id
            FROM (SELECT o_orderkey,
                         CASE WHEN o_orderkey % 7 = 0 THEN 'no identifier in this row'
                              ELSE 'Invoice no: ' || CAST(o_orderkey + 10000000 AS VARCHAR)
                         END AS s
                  FROM orders)
        """,
        "q9_total_cascade": f"""
            SELECT o_orderkey, {norm_amt} AS total_value
            FROM (SELECT o_orderkey,
                         coalesce(
                           nullif(regexp_extract(s, '[Gg]rand\\s+[Tt]otal[:\\s]*\\$?\\s*([0-9][0-9.,]*)', 1), ''),
                           nullif(regexp_extract(s, '[Tt]otal\\s+[Aa]mount[:\\s]*\\$?\\s*([0-9][0-9.,]*)', 1), ''),
                           nullif(regexp_extract(s, '[Aa]mount\\s+[Dd]ue[:\\s]*\\$?\\s*([0-9][0-9.,]*)', 1), ''),
                           nullif(regexp_extract(s, '[Tt]otal[:\\s]*\\$?\\s*([0-9][0-9.,]*)', 1), '')
                         ) AS amt
                  FROM (SELECT o_orderkey,
                               'Grand total: $ ' || format('{{:,}}', o_orderkey) AS s
                        FROM orders))
        """,
        "q10_section_extract": """
            SELECT doc_id, trim(nullif(regexp_extract(text, 'spark(.*?)join', 1), '')) AS section
            FROM documents
        """,
        "q11_completeness": """
            SELECT doc_id,
                   round((
                     (CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END) +
                     (CASE WHEN text LIKE '%join%' THEN 1 ELSE 0 END) +
                     (CASE WHEN text LIKE '%data%' THEN 1 ELSE 0 END) +
                     (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                   ) * 100.0 / 4.0, 1) AS score
            FROM documents
        """,
        "q12_net_repair": """
            SELECT l_returnflag,
                   -- CAST: DuckDB sum() over integers widens to HUGEINT (int128);
                   -- Spark emits BIGINT.  Values are identical; only the declared
                   -- type diverged, which the driver's type-sensitive hash catches.
                   CAST(sum(CASE WHEN abs(claimed_c - computed_c) > 10
                            THEN computed_c ELSE claimed_c END) AS BIGINT) AS sum_net_repaired_cents,
                   CAST(sum(CASE WHEN claimed_c != (CASE WHEN abs(claimed_c - computed_c) > 10
                                                    THEN computed_c ELSE claimed_c END)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_repaired
            FROM (SELECT l_returnflag,
                         CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
                         CAST(floor(l_quantity) AS BIGINT) AS qty,
                         CAST(floor(l_extendedprice * 100) AS BIGINT) -
                           (CAST(floor(l_extendedprice * 100) AS BIGINT) %
                            CAST(floor(l_quantity) AS BIGINT)) AS computed_c,
                         CASE WHEN l_orderkey % 10 = 0
                              THEN CAST(floor(l_extendedprice * 100) AS BIGINT) + 500
                              ELSE CAST(floor(l_extendedprice * 100) AS BIGINT) END AS claimed_c
                  FROM lineitem)
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "q13_vat_additivity": """
            SELECT CAST(sum(CASE WHEN abs(gross_c - (net_c + vat_c)) < 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_ok,  -- BIGINT: DuckDB integer sum() is HUGEINT
                   count(*) AS n_total
            FROM (SELECT net_c, vat_c,
                         net_c + vat_c +
                           (CASE WHEN l_orderkey % 13 = 0 THEN 3 ELSE 0 END) AS gross_c
                  FROM (SELECT l_orderkey, net_c, (net_c * tax_p) // 100 AS vat_c
                        FROM (SELECT l_orderkey,
                                     CAST(floor(l_extendedprice * 100) AS BIGINT) AS net_c,
                                     CAST(floor(l_tax * 100) AS BIGINT) AS tax_p
                              FROM lineitem)))
        """,
        "q14_exact_dedup": """
            SELECT 'exact' AS stage, count(*) AS n_total,
                   count(DISTINCT lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS n_distinct
            FROM documents
            UNION ALL
            -- catalog read(where=...): manifest file skipping is advisory,
            -- results must equal a plain filtered scan
            SELECT 'catalog', count(*),
                   count(DISTINCT lower(regexp_replace(text, '\\s+', ' ', 'g')))
            FROM documents WHERE n_chars >= 700 AND lang = 'en'
            UNION ALL
            -- bucketed co-located join == plain join on the same keys
            SELECT 'bucketed', count(*),
                   count(DISTINCT lower(regexp_replace(text, '\\s+', ' ', 'g')))
            FROM documents WHERE doc_id % 3 = 0
            ORDER BY stage
        """,
        "q15_token_quality": """
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_tok), 4) AS avg_tokens,
                   round(avg(n_stop * 1.0 / greatest(n_tok, 1)), 6) AS avg_stopword_ratio
            FROM (SELECT lang,
                         len(string_split_regex(trim(text), '\\s+')) AS n_tok,
                         len(list_filter(string_split_regex(trim(text), '\\s+'),
                                         t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop
                  FROM documents)
            GROUP BY lang ORDER BY lang
        """,
        "q16_lang_rollup": """
            SELECT lang, source, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang, source ORDER BY lang, source
        """,
        "q17_cosine_topk": """
            SELECT e.vec_id,
                   round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
                         (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                          sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim
            FROM embeddings e,
                 (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id != 0
            ORDER BY cos_sim DESC, e.vec_id LIMIT 20
        """,
        "q18_word_jaccard": """
            SELECT id_a, id_b,
                   round(len(list_intersect(wa, wb)) * 1.0 /
                         len(list_distinct(list_concat(wa, wb))), 6) AS jaccard
            FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                         list_distinct(string_split_regex(lower(trim(a.text)), '\\s+')) AS wa,
                         list_distinct(string_split_regex(lower(trim(b.text)), '\\s+')) AS wb
                  FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id
                  WHERE a.doc_id % 2 = 0)
        """,
        "q19_minhash_pairs": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id,
                       substring(text, 1, length(text) - 15) AS text
                FROM documents WHERE doc_id % 40 = 0 AND length(text) > 200
            ),
            toks AS (
                SELECT doc_id,
                       list_filter(
                         string_split_regex(
                           lower(regexp_replace(text, '[^\\w\\s]+', ' ', 'g')),
                           '\\s+'),
                         w -> w != '') AS ws
                FROM corpus
            ),
            grams AS (
                SELECT doc_id,
                       list_distinct([array_to_string(ws[i:i+4], ' ')
                                      FOR i IN range(1, greatest(len(ws) - 3, 1))]) AS g
                FROM toks WHERE len(ws) >= 5
            )
            SELECT 'full' AS stage, key_a, key_b, jaccard
            FROM (SELECT a.doc_id AS key_a, b.doc_id AS key_b,
                         len(list_intersect(a.g, b.g)) * 1.0 /
                           greatest(len(list_distinct(list_concat(a.g, b.g))), 1) AS jaccard
                  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
            WHERE jaccard >= 0.85
            UNION ALL
            -- incremental mode: new batch vs historical corpus only (formerly q51)
            SELECT 'incr' AS stage, n.doc_id AS key_a, h.doc_id AS key_b,
                   len(list_intersect(n.g, h.g)) * 1.0 /
                     greatest(len(list_distinct(list_concat(n.g, h.g))), 1) AS jaccard
            FROM (SELECT doc_id,
                         list_distinct([array_to_string(ws[i:i+4], ' ')
                           FOR i IN range(1, greatest(len(ws) - 3, 1))]) AS g
                  FROM (SELECT doc_id,
                               list_filter(string_split_regex(
                                 lower(regexp_replace(text, '[^\\w\\s]+', ' ', 'g')),
                                 '\\s+'), w -> w != '') AS ws
                        FROM (SELECT doc_id, text FROM documents WHERE doc_id >= 400
                              UNION ALL
                              SELECT doc_id + 2000000 AS doc_id,
                                     substring(text, 1, length(text) - 12) AS text
                              FROM documents
                              WHERE doc_id < 400 AND doc_id % 25 = 0
                                AND length(text) > 200))
                  WHERE len(ws) >= 5) n
            CROSS JOIN
                 (SELECT doc_id,
                         list_distinct([array_to_string(ws[i:i+4], ' ')
                           FOR i IN range(1, greatest(len(ws) - 3, 1))]) AS g
                  FROM (SELECT doc_id,
                               list_filter(string_split_regex(
                                 lower(regexp_replace(text, '[^\\w\\s]+', ' ', 'g')),
                                 '\\s+'), w -> w != '') AS ws
                        FROM documents WHERE doc_id < 400)
                  WHERE len(ws) >= 5) h
            WHERE len(list_intersect(n.g, h.g)) * 1.0 /
                  greatest(len(list_distinct(list_concat(n.g, h.g))), 1) >= 0.85
        """,
        "q22_doc_fingerprint": """
            -- bpe_rt_md5: BPE decode(encode(text)) == the canonical
            -- pre-tokenized view — lowercase, digit/punct runs spaced out,
            -- whitespace collapsed to single spaces (bpe.py round-trip
            -- contract), rebuilt here with pure string SQL
            SELECT doc_id, md5(norm) AS fingerprint, length(norm) // 100 AS len_bucket,
                   md5(trim(regexp_replace(
                         regexp_replace(
                           lower(regexp_replace(text, '[^\\x00-\\x7f]', ' ', 'g')),
                           '([0-9]+|[^\\w\\s]+)', ' \\1 ', 'g'),
                         '\\s+', ' ', 'g'))) AS bpe_rt_md5
            FROM (SELECT doc_id, text,
                         lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
                  FROM documents)
        """,
        "q24_ann_lsh": """
            WITH corpus AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id != 0
                UNION ALL
                SELECT 100000 + i AS vec_id,
                       list_transform(CAST(e.embedding AS DOUBLE[]),
                                      x -> x * (1 + i * 0.1)) AS v
                FROM embeddings e, generate_series(1, 20) t(i)
                WHERE e.vec_id = 0
            ),
            q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, round(cos, 4) AS cos_sim
            FROM (SELECT c.vec_id,
                         list_dot_product(c.v, q.qv) /
                           (sqrt(list_dot_product(c.v, c.v)) *
                            sqrt(list_dot_product(q.qv, q.qv))) AS cos
                  FROM corpus c, q)
            ORDER BY cos DESC, vec_id LIMIT 20
        """,
        "q23_quality_profile": """
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_tok), 4) AS avg_tokens,
                   round(avg(n_stop * 1.0 / greatest(n_tok, 1)), 6) AS avg_stopword_ratio,
                   round(avg((n_chars - n_tok + 1) * 1.0 / greatest(n_tok, 1)), 6) AS avg_word_len
            FROM (SELECT lang, length(text) AS n_chars,
                         len(list_filter(string_split_regex(trim(text), '\\s+'),
                                         t -> t != '')) AS n_tok,
                         len(list_filter(string_split_regex(trim(text), '\\s+'),
                                         t -> lower(t) IN ('the','a','an','of','and','to','in','is',
                                                           'that','it','for','on','with','as','at','by')))
                           AS n_stop
                  FROM documents)
            GROUP BY lang ORDER BY lang
        """,
        "q25_batch_topk": """
            SELECT query_id, vec_id, round(cos, 4) AS cos_sim
            FROM (SELECT q.vec_id AS query_id, e.vec_id,
                         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) /
                           (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                            sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) AS cos,
                         row_number() OVER (PARTITION BY q.vec_id
                                            ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) /
                                                     (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                                                      sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) DESC,
                                            e.vec_id) AS rn
                  FROM embeddings e
                  JOIN embeddings q ON q.vec_id IN (0, 17)
                  WHERE e.vec_id NOT IN (0, 17))
            WHERE rn <= 10
        """,
        "q28_invoice_roundtrip": """
            SELECT l_orderkey AS doc_key,
                   CAST(l_orderkey + 10000000 AS VARCHAR) AS inv_id,
                   count(*) AS n_items,
                   CAST(round(sum(qty * price * 1.0), 2) AS DOUBLE) AS sum_net,
                   CAST(round(sum((qty * price * 11) // 10 * 1.0), 2) AS DOUBLE) AS sum_gross
            FROM (SELECT l_orderkey,
                         (l_orderkey % 5 + 1) AS qty,
                         ((l_partkey % 90 + 10) * 10) AS price
                  FROM lineitem)
            GROUP BY l_orderkey
        """,
        "q29_set_ops": """
            SELECT (SELECT count(*) FROM customer) AS n_customers,
                   (SELECT count(*) FROM
                      (SELECT c_custkey FROM customer
                       INTERSECT SELECT o_custkey FROM orders)) AS n_with_orders,
                   (SELECT count(*) FROM
                      (SELECT c_custkey FROM customer
                       EXCEPT SELECT o_custkey FROM orders)) AS n_without_orders
        """,
        "q30_window_agg": """
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q31_party_extract": """
            SELECT c_custkey,
                   c_name AS party_name,
                   'Street ' || CAST(c_custkey AS VARCHAR) || ' Cityville' AS party_address,
                   '9' || CAST(c_custkey AS VARCHAR) || '-82' AS party_tax_id
            FROM customer
        """,
        "q32_embedding_neardups": """
            WITH corpus AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id < 500
                UNION ALL
                SELECT vec_id + 100000 AS vec_id,
                       list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5) AS v
                FROM embeddings WHERE vec_id < 500 AND vec_id % 25 = 0
            )
            SELECT a.vec_id AS key_a, b.vec_id AS key_b,
                   round(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
                     AS cos_sim
            FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.99
            ORDER BY key_a, key_b
        """,
        "q33_sanity_rules": """
            SELECT l_returnflag,
                   -- CAST: DuckDB integer sum() widens to HUGEINT; Spark emits BIGINT
                   CAST(sum(CASE WHEN qty_raw < 1000 THEN CAST(qty_raw AS BIGINT)
                            ELSE 1 END) AS BIGINT) AS sum_sane_qty,
                   CAST(sum(CASE WHEN qty_raw >= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_qty_capped,
                   CAST(sum(CASE WHEN amount > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspicious,
                   count(*) AS n_rows
            FROM (SELECT l_returnflag,
                         CASE WHEN l_orderkey % 9 = 0
                              THEN floor(l_quantity) * 100000
                              ELSE floor(l_quantity) END AS qty_raw,
                         CASE WHEN l_orderkey % 11 = 0
                              THEN l_extendedprice * 10000
                              ELSE l_extendedprice END AS amount
                  FROM lineitem)
            GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "q34_variant_fields": """
            SELECT c_custkey,
                   '+48 ' || CAST(c_custkey % 900 + 100 AS VARCHAR) || '-' ||
                     CAST(c_custkey % 90 + 10 AS VARCHAR) || '-' ||
                     CAST(c_custkey AS VARCHAR) AS party_phone,
                   'Street ' || CAST(c_custkey AS VARCHAR) || ' Cityville' ||
                     ' discount $ ' || CAST(c_custkey % 50 AS VARCHAR) || '.25'
                     AS party_address,
                   CAST((c_custkey % 50) + 0.25 AS DOUBLE) AS discount_value
            FROM customer
        """,
        "q35_name_cleanup": """
            SELECT p_partkey,
                   trim(regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(item,
                           '[0-9]+[.,]?[0-9]*\\s*(?:each|pc|pcs|units?|€|\\$|%)', '', 'g'),
                         '(?i)(?:price|amount|total|worth|vat|tax|discount).*', '', 'g'),
                       '(?i)\\s+(?:each|pc|pcs|unit|units)\\s*$', '', 'g'),
                     '\\s+', ' ', 'g')) AS clean_name
            FROM (SELECT p_partkey,
                         p_name || ' ' || CAST(p_partkey % 5 + 1 AS VARCHAR) ||
                         ' pcs each ' || CAST(p_partkey % 90 + 10 AS VARCHAR) ||
                         '.00 total $ ' || CAST(p_partkey % 900 + 100 AS VARCHAR) ||
                         '.00 10% vat' AS item
                  FROM part)
        """,
        "q36_canonicalize": f"""
            SELECT raw, {canon_expr} AS canon
            FROM (VALUES {e4_values}) AS t(raw)
        """,
        "q38_dedup_clusters": """
            WITH RECURSIVE
            corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id,
                       substring(text, 1, length(text) - 15) AS text
                FROM documents WHERE doc_id % 40 = 0 AND length(text) > 200
            ),
            toks AS (
                SELECT doc_id,
                       list_filter(
                         string_split_regex(
                           lower(regexp_replace(text, '[^\\w\\s]+', ' ', 'g')),
                           '\\s+'),
                         w -> w != '') AS ws
                FROM corpus
            ),
            grams AS (
                SELECT doc_id,
                       list_distinct([array_to_string(ws[i:i+4], ' ')
                                      FOR i IN range(1, greatest(len(ws) - 3, 1))]) AS g
                FROM toks WHERE len(ws) >= 5
            ),
            pairs AS (
                SELECT a.doc_id AS key_a, b.doc_id AS key_b
                FROM grams a JOIN grams b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.g, b.g)) * 1.0 /
                      greatest(len(list_distinct(list_concat(a.g, b.g))), 1) >= 0.85
            ),
            edges AS (
                SELECT key_a AS a, key_b AS b FROM pairs
                UNION SELECT key_b, key_a FROM pairs
            ),
            reach(n, r) AS (
                SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                UNION
                SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.n
            )
            SELECT stage, doc_id, cluster_id, is_representative FROM (
                WITH comp AS (
                    SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n
                ),
                members AS (
                    SELECT c.doc_id, c.cluster_id, length(t.text) AS q
                    FROM comp c JOIN corpus t USING (doc_id)
                ),
                losers AS (
                    SELECT doc_id FROM (
                        SELECT doc_id, row_number() OVER (
                            PARTITION BY cluster_id
                            ORDER BY q DESC NULLS LAST, doc_id) AS rn
                        FROM members) WHERE rn > 1
                )
                SELECT 'cluster' AS stage, doc_id, cluster_id,
                       (doc_id = cluster_id) AS is_representative
                FROM comp
                UNION ALL
                SELECT 'kept' AS stage, doc_id,
                       CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN)
                FROM corpus
                WHERE doc_id NOT IN (SELECT doc_id FROM losers)
            ) ORDER BY stage, doc_id
        """,
        "q50_count_min": """
            WITH toks AS (
                SELECT unnest(list_filter(string_split_regex(
                         lower(regexp_replace(text, '[^\\w\\s]+', ' ', 'g')),
                         '\\s+'), w -> w != '')) AS tok
                FROM documents
            ),
            terms(term) AS (
                VALUES ('data'), ('join'), ('spark'), ('window'), ('zzz_absent')
            ),
            buckets AS (
                SELECT d,
                       substr(md5('cms:' || CAST(d AS VARCHAR) || tok), 1, 2) AS bucket,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM toks, range(4) r(d)
                GROUP BY 1, 2
            ),
            lookups AS (
                SELECT t.term, r.d,
                       substr(md5('cms:' || CAST(r.d AS VARCHAR) || t.term), 1, 2) AS bucket
                FROM terms t, range(4) r(d)
            ),
            est AS (
                SELECT term, CAST(min(coalesce(b.cnt, 0)) AS BIGINT) AS est_count
                FROM lookups l LEFT JOIN buckets b USING (d, bucket)
                GROUP BY term
            ),
            exact AS (
                SELECT tok AS term, CAST(count(*) AS BIGINT) AS exact_count
                FROM toks GROUP BY 1
            )
            SELECT term, est_count, coalesce(e.exact_count, 0) AS exact_count
            FROM est LEFT JOIN exact e USING (term)
            ORDER BY term
        """,
        "q48_asof_join": """
            SELECT l.event_id, l.user_id, l.ts, r.value AS purchase_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
            ORDER BY l.event_id
        """,
        "q49_sessionize": """
            WITH e AS (
                SELECT user_id, ts,
                       CAST(floor(epoch(ts)) AS BIGINT) AS es
                FROM events
            ),
            flags AS (
                SELECT user_id, ts, es,
                       CASE WHEN lag(es) OVER w IS NULL
                                 OR es - lag(es) OVER w > 3600
                            THEN 1 ELSE 0 END AS ns
                FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
                SELECT user_id, ts, es,
                       SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
                FROM flags
            )
            SELECT user_id,
                   CAST(sid AS BIGINT) AS session_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   CAST(max(es) - min(es) AS BIGINT) AS duration_sec
            FROM sess
            GROUP BY user_id, sid
            ORDER BY user_id, session_id
        """,
        "q47_url_canonicalize": """
            WITH urls AS (
                SELECT doc_id,
                       'HTTP://WWW.Site' || CAST(doc_id % 20 AS VARCHAR) || '.Example.COM' ||
                       CASE doc_id % 5
                         WHEN 0 THEN ':80/path/'
                         WHEN 1 THEN '/path?utm_source=x&b=2&a=1'
                         WHEN 2 THEN '/Path#frag'
                         WHEN 3 THEN ':8080/path'
                         ELSE '/' END AS url_raw
                FROM documents
            ),
            parts AS (
                SELECT doc_id, url_raw,
                       lower(regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$', 1)) AS scheme,
                       regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$', 2) AS auth,
                       regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$', 3) AS path0,
                       regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$', 4) AS query0
                FROM urls
            ),
            norm AS (
                SELECT doc_id, url_raw, scheme,
                       regexp_replace(lower(regexp_extract(auth, '^([^:]*)', 1)), '^www\\.', '') AS host,
                       regexp_extract(auth, ':([0-9]+)$', 1) AS port,
                       CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
                            ELSE regexp_replace(path0, '/+$', '') END AS path,
                       coalesce(array_to_string(list_sort(list_filter(
                         string_split(query0, '&'),
                         kv -> kv != '' AND NOT regexp_matches(kv, '^(?:utm_[^=]*|gclid|fbclid|ref)='))), '&'), '') AS qs
                FROM parts
            )
            SELECT doc_id, url_raw,
                   scheme || '://' || host ||
                   CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                             OR (scheme = 'https' AND port = '443') THEN ''
                        ELSE ':' || port END ||
                   path ||
                   CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS url_norm,
                   CASE WHEN len(hp) <= 1 THEN host
                        WHEN len(hp) >= 3 AND hp[-2] IN ('co','com','net','org','gov','ac','edu')
                          THEN hp[-3] || '.' || hp[-2] || '.' || hp[-1]
                        ELSE hp[-2] || '.' || hp[-1] END AS domain
            FROM (SELECT *, string_split(host, '.') AS hp FROM norm)
            ORDER BY doc_id
        """,
        "q45_decontaminate": """
            -- stage 'doc': per-training-doc 13-gram hit counts (removal
            -- flags); stage 'bench': per-benchmark-doc contamination
            -- report (planted docs hit 100%, zz-prefixed controls 0%).
            WITH words AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                         lower(regexp_replace(text, '[^\\w\\s]+', ' ', 'g')),
                         '\\s+'), w -> w != '') AS ws
                FROM documents
            ),
            bench AS (
                SELECT doc_id + 500000 AS bk, ws[10:29] AS bw
                FROM words WHERE doc_id % 50 = 0 AND len(ws) >= 29
                UNION ALL
                SELECT doc_id + 600000 AS bk,
                       list_transform(ws[10:29], w -> 'zz' || w) AS bw
                FROM words WHERE doc_id % 50 = 0 AND len(ws) >= 29
            ),
            bgd AS (
                SELECT DISTINCT bk, g FROM (
                    SELECT bk,
                           unnest([array_to_string(bw[i:i+12], ' ')
                                   FOR i IN range(1, greatest(len(bw) - 11, 1))]) AS g
                    FROM bench)
            ),
            bgrams AS (SELECT DISTINCT g FROM bgd),
            dg AS (
                SELECT doc_id,
                       unnest([array_to_string(ws[i:i+12], ' ')
                               FOR i IN range(1, greatest(len(ws) - 11, 1))]) AS g
                FROM words
            ),
            cg AS (SELECT DISTINCT doc_id AS ck, g FROM dg),
            totals AS (
                SELECT bk, CAST(count(*) AS BIGINT) AS n_grams
                FROM bgd GROUP BY bk
            ),
            hits AS (
                SELECT b.bk,
                       CAST(count(DISTINCT b.g) AS BIGINT) AS n_grams_hit,
                       CAST(count(DISTINCT c.ck) AS BIGINT) AS n_corpus_docs
                FROM bgd b JOIN cg c USING (g) GROUP BY b.bk
            )
            SELECT 'doc' AS stage, doc_id,
                   CAST(count(*) AS BIGINT) AS n_hits,
                   CAST(NULL AS BIGINT) AS n_grams,
                   CAST(NULL AS BIGINT) AS n_grams_hit,
                   CAST(NULL AS BIGINT) AS n_corpus_docs,
                   CAST(NULL AS DOUBLE) AS hit_ratio
            FROM dg JOIN bgrams USING (g)
            GROUP BY doc_id
            UNION ALL
            SELECT 'bench' AS stage, t.bk AS doc_id,
                   CAST(NULL AS BIGINT) AS n_hits,
                   t.n_grams,
                   coalesce(h.n_grams_hit, 0) AS n_grams_hit,
                   coalesce(h.n_corpus_docs, 0) AS n_corpus_docs,
                   coalesce(h.n_grams_hit, 0) * 1.0 / greatest(t.n_grams, 1)
                     AS hit_ratio
            FROM totals t LEFT JOIN hits h USING (bk)
            ORDER BY stage, doc_id
        """,
        "q46_vocab_stats": """
            WITH ex AS (
                SELECT doc_id, lang,
                       unnest(list_filter(string_split_regex(
                         lower(regexp_replace(text, '[^\\w\\s]+', ' ', 'g')),
                         '\\s+'), w -> w != '')) AS word
                FROM documents
            ),
            counts AS (
                SELECT lang, word,
                       CAST(count(*) AS BIGINT) AS tf,
                       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
                FROM ex GROUP BY lang, word
            )
            SELECT lang, word, tf, doc_freq,
                   CAST(row_number() OVER (
                       PARTITION BY lang ORDER BY tf DESC, word) AS INT) AS rank
            FROM counts
            QUALIFY rank <= 5
            ORDER BY lang, rank
        """,
        "q44_sequence_packing": """
            -- stage 'doc': the packing LAYOUT (prefix-sum offsets at
            -- budget 512); stage 'chunk': the MATERIALIZED 256-token
            -- chunks (ids = word lengths + eos 0, md5 over the joined id
            -- string pins every token and position); stage 'taint': chunks
            -- touching any doc_id % 97 == 0 document.
            WITH wsx AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'),
                                   w -> w != '') AS ws
                FROM documents
            ),
            toks AS (
                SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM wsx
            ),
            offs AS (
                SELECT doc_id, n_tokens,
                       CAST(coalesce(sum(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS BIGINT) AS "offset"
                FROM toks
            ),
            ids AS (
                SELECT doc_id, [length(w) FOR w IN ws] || [0] AS v
                FROM wsx WHERE len(ws) > 0
            ),
            o2 AS (
                SELECT doc_id, v, CAST(len(v) AS BIGINT) AS nt,
                       CAST(coalesce(sum(len(v)) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS BIGINT) AS off
                FROM ids
            ),
            segpre AS (
                SELECT doc_id, v, off, nt,
                       unnest(range(off // 256, (off + nt - 1) // 256 + 1))
                         AS cid
                FROM o2
            ),
            seg AS (
                SELECT doc_id, cid,
                       greatest(off, cid * 256) AS sg,
                       v[(greatest(off, cid * 256) - off + 1)
                         :(least(off + nt, (cid + 1) * 256) - off)] AS segl
                FROM segpre
            ),
            chunks AS (
                SELECT cid, flatten(list(segl ORDER BY sg)) AS flat,
                       CAST(count(*) AS BIGINT) AS n_docs
                FROM seg GROUP BY cid
            ),
            fullc AS (
                SELECT cid, flat, n_docs FROM chunks WHERE len(flat) = 256
            ),
            taint AS (
                SELECT DISTINCT s.cid
                FROM seg s JOIN fullc f USING (cid)
                WHERE s.doc_id % 97 = 0
            )
            SELECT 'doc' AS stage, doc_id AS k, n_tokens, "offset",
                   "offset" // 512 AS chunk_id,
                   "offset" % 512 AS pos_in_chunk,
                   (greatest("offset" + n_tokens - 1, "offset") // 512)
                     - ("offset" // 512) + 1 AS n_chunks,
                   CAST(NULL AS BIGINT) AS n_docs,
                   CAST(NULL AS VARCHAR) AS ids_md5
            FROM offs
            UNION ALL
            SELECT 'chunk', cid, 256, NULL, NULL, NULL, NULL, n_docs,
                   md5(array_to_string(flat, ','))
            FROM fullc
            UNION ALL
            SELECT 'taint', cid, NULL, NULL, NULL, NULL, NULL, NULL, NULL
            FROM taint
            ORDER BY stage, k
        """,
        "q43_pii_redact": """
            WITH corpus AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 4 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@ex.org' ELSE '' END
                       || CASE WHEN doc_id % 5 = 0 THEN ' ip 10.1.' || CAST(doc_id % 250 AS VARCHAR) || '.7' ELSE '' END
                       || CASE WHEN doc_id % 7 = 0 THEN ' call +44 20 7946 0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ELSE '' END
                       AS text
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text, '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text, '\\+[0-9][0-9 ().-]{7,}[0-9]')) AS BIGINT) AS n_phone,
                   md5(regexp_replace(
                         regexp_replace(
                           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                           '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
                         '\\+[0-9][0-9 ().-]{7,}[0-9]', '<PHONE>', 'g')) AS redacted_md5
            FROM corpus
            ORDER BY doc_id
        """,
        "q41_source_cap": """
            -- stage 'cap': per-source top-7; stage 'temp': alpha=0.5
            -- temperature sampling — share_g = sqrt(n_g)/T, budget =
            -- min_g(n_g/share_g), keep-rate threshold compared against the
            -- md5 hex bucket. Bit-exact mirror of the Spark side: T is a
            -- LEFT FOLD over name-sorted groups (list_reduce over an
            -- ordered list — the engine normalizes driver-free with the
            -- same sorted fold, and sqrt is correctly rounded in IEEE),
            -- and the threshold rounds HALF_EVEN like F.bround (DuckDB
            -- round() is half-away-from-zero and would diverge on an
            -- exact .5 tie of 1/65536).
            WITH n AS (
                SELECT lang, CAST(count(*) AS DOUBLE) AS a
                FROM documents WHERE lang IS NOT NULL GROUP BY lang
            ),
            tot AS (
                SELECT list_reduce(list(sqrt(a) ORDER BY lang),
                                   (x, y) -> x + y) AS t
                FROM n
            ),
            bud AS (SELECT min(a / (sqrt(a) / t)) AS b FROM n, tot),
            thr AS (
                SELECT lang,
                       CAST(CASE WHEN r - floor(r) > 0.5 THEN floor(r) + 1
                                 WHEN r - floor(r) < 0.5 THEN floor(r)
                                 ELSE floor(r) + CAST(floor(r) AS BIGINT) % 2
                            END AS INTEGER) AS th
                FROM (SELECT lang,
                             least(1.0, (sqrt(a) / t) * b / a) * 65536 AS r
                      FROM n, tot, bud)
            )
            SELECT 'cap' AS stage, doc_id, source AS grp, n_chars
            FROM documents
            QUALIFY row_number() OVER (
                PARTITION BY source ORDER BY n_chars, doc_id) <= 7
            UNION ALL
            SELECT 'temp' AS stage, doc_id, lang AS grp, n_chars
            FROM documents d JOIN thr USING (lang)
            WHERE th >= 65536
               OR substr(md5('t41' || CAST(doc_id AS VARCHAR)), 1, 4)
                  < printf('%04x', th)
            ORDER BY stage, doc_id
        """,
        "q42_deterministic_sample": """
            -- split bounds: sorted names (test, train, val); cumulative
            -- fractions 0.1/0.9/1.0 at 1/65536 resolution -> hex
            -- thresholds 0x199a / 0xe666 / keep-all. 4-char lowercase hex
            -- compares lexicographically == numerically.
            SELECT doc_id, lang,
                   CASE WHEN substr(md5('s42s' || CAST(doc_id AS VARCHAR)), 1, 4)
                             < '199a' THEN 'test'
                        WHEN substr(md5('s42s' || CAST(doc_id AS VARCHAR)), 1, 4)
                             < 'e666' THEN 'train'
                        ELSE 'val' END AS split,
                   substr(md5('s42o' || CAST(doc_id AS VARCHAR)), 1, 16)
                     AS shuffle_key
            FROM documents
            WHERE substr(md5('s42' || CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
            ORDER BY doc_id
        """,
        "q39_gopher_repetition": """
            WITH corpus AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN b || chr(10) || b
                            ELSE b END AS text
                FROM (SELECT doc_id,
                             replace(replace(text, ' data ', chr(10)),
                                     ' join ', chr(10) || chr(10)) AS b
                      FROM documents)
            ),
            lines AS (
                SELECT doc_id,
                       list_filter(
                         list_transform(string_split_regex(text, '\\r?\\n'),
                           l -> regexp_replace(l, '^\\s+|\\s+$', '', 'g')),
                         l -> l != '') AS xs
                FROM corpus
            ),
            paras AS (
                SELECT doc_id,
                       list_filter(
                         list_transform(string_split_regex(text, '\\n\\s*\\n'),
                           p -> regexp_replace(
                                  regexp_replace(p, '\\s+', ' ', 'g'),
                                  '^ | $', '', 'g')),
                         p -> p != '') AS xs
                FROM corpus
            ),
            words AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'),
                                   w -> w != '') AS ws
                FROM corpus
            ),
            line_counts AS (
                SELECT doc_id, v, count(*) AS c
                FROM (SELECT doc_id, unnest(xs) AS v FROM lines) GROUP BY 1, 2
            ),
            line_agg AS (
                SELECT doc_id,
                       CAST(sum(c) AS BIGINT) AS n_lines,
                       CAST(count(*) AS BIGINT) AS n_distinct_lines,
                       CAST(sum(CASE WHEN c >= 2 THEN c * length(v) ELSE 0 END) AS BIGINT) AS dup_line_chars,
                       CAST(sum(c * length(v)) AS BIGINT) AS line_chars
                FROM line_counts GROUP BY 1
            ),
            para_counts AS (
                SELECT doc_id, v, count(*) AS c
                FROM (SELECT doc_id, unnest(xs) AS v FROM paras) GROUP BY 1, 2
            ),
            para_agg AS (
                SELECT doc_id,
                       CAST(sum(c) AS BIGINT) AS n_paras,
                       CAST(count(*) AS BIGINT) AS n_distinct_paras,
                       CAST(sum(CASE WHEN c >= 2 THEN c * length(v) ELSE 0 END) AS BIGINT) AS dup_para_chars,
                       CAST(sum(c * length(v)) AS BIGINT) AS para_chars
                FROM para_counts GROUP BY 1
            ),
            g2c AS (SELECT doc_id, v, count(*) AS c FROM (
                      SELECT doc_id, unnest([array_to_string(ws[i:i+1], ' ')
                        FOR i IN range(1, greatest(len(ws), 1))]) AS v
                      FROM words) GROUP BY 1, 2),
            g3c AS (SELECT doc_id, v, count(*) AS c FROM (
                      SELECT doc_id, unnest([array_to_string(ws[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(ws) - 1, 1))]) AS v
                      FROM words) GROUP BY 1, 2),
            g4c AS (SELECT doc_id, v, count(*) AS c FROM (
                      SELECT doc_id, unnest([array_to_string(ws[i:i+3], ' ')
                        FOR i IN range(1, greatest(len(ws) - 2, 1))]) AS v
                      FROM words) GROUP BY 1, 2),
            g5c AS (SELECT doc_id, v, count(*) AS c FROM (
                      SELECT doc_id, unnest([array_to_string(ws[i:i+4], ' ')
                        FOR i IN range(1, greatest(len(ws) - 3, 1))]) AS v
                      FROM words) GROUP BY 1, 2),
            g10c AS (SELECT doc_id, v, count(*) AS c FROM (
                      SELECT doc_id, unnest([array_to_string(ws[i:i+9], ' ')
                        FOR i IN range(1, greatest(len(ws) - 8, 1))]) AS v
                      FROM words) GROUP BY 1, 2),
            top2 AS (SELECT doc_id, CAST(CASE WHEN c >= 2 THEN c * length(v) ELSE 0 END AS BIGINT) AS chars FROM g2c
                     QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, v ASC) = 1),
            top3 AS (SELECT doc_id, CAST(CASE WHEN c >= 2 THEN c * length(v) ELSE 0 END AS BIGINT) AS chars FROM g3c
                     QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, v ASC) = 1),
            top4 AS (SELECT doc_id, CAST(CASE WHEN c >= 2 THEN c * length(v) ELSE 0 END AS BIGINT) AS chars FROM g4c
                     QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, v ASC) = 1),
            dup5 AS (SELECT doc_id, CAST(sum(CASE WHEN c >= 2 THEN c * length(v) ELSE 0 END) AS BIGINT) AS chars
                     FROM g5c GROUP BY 1),
            dup10 AS (SELECT doc_id, CAST(sum(CASE WHEN c >= 2 THEN c * length(v) ELSE 0 END) AS BIGINT) AS chars
                      FROM g10c GROUP BY 1)
            SELECT c.doc_id,
                   CAST(length(c.text) AS BIGINT) AS n_chars,
                   CAST(len(w.ws) AS BIGINT) AS n_words,
                   coalesce(la.n_lines, 0) AS n_lines,
                   coalesce(la.n_distinct_lines, 0) AS n_distinct_lines,
                   coalesce(la.dup_line_chars, 0) AS dup_line_chars,
                   coalesce(la.line_chars, 0) AS line_chars,
                   coalesce(pa.n_paras, 0) AS n_paras,
                   coalesce(pa.n_distinct_paras, 0) AS n_distinct_paras,
                   coalesce(pa.dup_para_chars, 0) AS dup_para_chars,
                   coalesce(pa.para_chars, 0) AS para_chars,
                   coalesce(t2.chars, 0) AS top2gram_chars,
                   coalesce(t3.chars, 0) AS top3gram_chars,
                   coalesce(t4.chars, 0) AS top4gram_chars,
                   coalesce(d5.chars, 0) AS dup5gram_chars,
                   coalesce(d10.chars, 0) AS dup10gram_chars,
                   ((n_lines <= 0 OR (n_lines - n_distinct_lines) * 100 <= n_lines * 30)
                    AND (n_paras <= 0 OR (n_paras - n_distinct_paras) * 100 <= n_paras * 30)
                    AND (line_chars <= 0 OR dup_line_chars * 100 <= line_chars * 20)
                    AND (para_chars <= 0 OR dup_para_chars * 100 <= para_chars * 20)
                    AND (n_chars <= 0 OR top2gram_chars * 100 <= n_chars * 20)
                    AND (n_chars <= 0 OR top3gram_chars * 100 <= n_chars * 18)
                    AND (n_chars <= 0 OR top4gram_chars * 100 <= n_chars * 16)
                    AND (n_chars <= 0 OR dup5gram_chars * 100 <= n_chars * 15)
                    AND (n_chars <= 0 OR dup10gram_chars * 100 <= n_chars * 10)) AS gopher_keep
            FROM corpus c
            JOIN words w USING (doc_id)
            LEFT JOIN line_agg la USING (doc_id)
            LEFT JOIN para_agg pa USING (doc_id)
            LEFT JOIN top2 t2 USING (doc_id)
            LEFT JOIN top3 t3 USING (doc_id)
            LEFT JOIN top4 t4 USING (doc_id)
            LEFT JOIN dup5 d5 USING (doc_id)
            LEFT JOIN dup10 d10 USING (doc_id)
            ORDER BY c.doc_id
        """,
        "q40_c4_clean": """
            WITH corpus AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN b || chr(10) || b
                            ELSE b END AS text
                FROM (SELECT doc_id,
                             replace(replace(text, ' data ', chr(10)),
                                     ' join ', chr(10) || chr(10)) AS b
                      FROM documents)
            ),
            lines AS (
                SELECT doc_id,
                       list_filter(
                         list_transform(string_split_regex(text, '\\r?\\n'),
                           l -> regexp_replace(l, '^\\s+|\\s+$', '', 'g')),
                         l -> l != '') AS xs
                FROM corpus
            ),
            kept AS (
                SELECT doc_id,
                       list_filter(xs, l ->
                         right(l, 1) IN ('.', '!', '?', '"')
                         AND len(list_filter(string_split_regex(l, '\\s+'),
                                             w -> w != '')) >= 5
                         AND NOT contains(lower(l), 'javascript')) AS ks
                FROM lines
            )
            SELECT c.doc_id,
                   CAST(len(l.xs) AS BIGINT) AS n_lines,
                   CAST(len(k.ks) AS BIGINT) AS n_kept,
                   md5(coalesce(array_to_string(k.ks, chr(10)), '')) AS clean_md5,
                   contains(lower(c.text), 'lorem ipsum') AS has_lorem,
                   contains(c.text, '{') AS has_curly,
                   (len(k.ks) >= 3
                    AND NOT contains(lower(c.text), 'lorem ipsum')
                    AND NOT contains(c.text, '{')) AS doc_keep
            FROM corpus c
            JOIN lines l USING (doc_id)
            JOIN kept k USING (doc_id)
            ORDER BY c.doc_id
        """,
        "q37_ann_ivf": """
            WITH corpus AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id != 0
                UNION ALL
                SELECT 200000 + i AS vec_id,
                       list_transform(CAST(e.embedding AS DOUBLE[]),
                                      x -> x * (1 + i * 0.1)) AS v
                FROM embeddings e, generate_series(1, 20) t(i)
                WHERE e.vec_id = 0
            ),
            q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, round(cos, 4) AS cos_sim
            FROM (SELECT c.vec_id,
                         list_dot_product(c.v, q.qv) /
                           (sqrt(list_dot_product(c.v, c.v)) *
                            sqrt(list_dot_product(q.qv, q.qv))) AS cos
                  FROM corpus c, q)
            ORDER BY cos DESC, vec_id LIMIT 20
        """,
        # q20/q21/q26/q27 are covered by the committed golden-VALUES oracles
        # merged in above (non-SQL-expressible internals, deterministic
        # pinned outputs) — every query is oracle-checked.
    }
