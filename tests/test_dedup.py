"""Dedup operator tests: planted near-duplicates must be found."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the data pipeline "
        "shuffles partitions across the cluster and aggregates windows into "
        "batches of streaming records for every downstream consumer in order"
    )
    rows = [
        (1, base),
        (2, base + " extra tail words"),          # near-dup of 1
        (3, base.replace("quick", "slow")),        # near-dup of 1
        (4, "completely different content about cooking pasta with tomatoes "
            "and basil in a large pot of salted boiling water until al dente "
            "then draining and serving with grated cheese on top tonight"),
        (5, base),                                  # exact dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_finds_planted_pairs(spark, corpus):
    from final_ocr_spark.operators.dedup import minhash_near_dups

    pairs = {
        (r["key_a"], r["key_b"])
        for r in minhash_near_dups(corpus, jaccard_threshold=0.5).collect()
    }
    assert (1, 5) in pairs        # exact dup
    assert (1, 2) in pairs or (2, 5) in pairs
    assert all(4 not in p for p in pairs)  # unrelated doc never pairs


def test_simhash_finds_planted_pairs(spark, corpus):
    from final_ocr_spark.operators.dedup import simhash_near_dups

    pairs = {
        (r["key_a"], r["key_b"])
        for r in simhash_near_dups(corpus, max_hamming=6).collect()
    }
    assert (1, 5) in pairs
    assert all(4 not in p for p in pairs)


def test_exact_dedup(spark, corpus):
    from final_ocr_spark.operators.dedup import dedup_exact

    kept = dedup_exact(corpus, text_col="text", keep_col="doc_id").collect()
    ids = sorted(r["doc_id"] for r in kept)
    assert ids == [1, 2, 3, 4]  # doc 5 (exact dup of 1) dropped, min-key wins


def test_ngram_jaccard_verify_stage(spark, corpus):
    from final_ocr_spark.operators.dedup import ngram_jaccard_pairs

    cand = spark.createDataFrame([(1, 5), (1, 4)], ["key_a", "key_b"])
    got = {
        (r["key_a"], r["key_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus, cand, n=3).collect()
    }
    assert got[(1, 5)] == 1.0
    assert got[(1, 4)] < 0.05


def test_sketches_under_default_ansi_mode(spark, corpus):
    """The driver's oracle harness runs a default Spark 4 session — ANSI ON —
    so every sketch must be overflow-proof regardless of session config
    (round-1 q19/q20 hard-failed with ARITHMETIC_OVERFLOW under that session).
    """
    from final_ocr_spark.operators.dedup import (
        minhash_near_dups,
        simhash_near_dups,
    )

    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        mh = {
            (r["key_a"], r["key_b"])
            for r in minhash_near_dups(corpus, jaccard_threshold=0.5).collect()
        }
        assert (1, 5) in mh
        sh = {
            (r["key_a"], r["key_b"])
            for r in simhash_near_dups(corpus, max_hamming=6).collect()
        }
        assert (1, 5) in sh
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_dedup_latest(spark):
    from final_ocr_spark.operators.dedup import dedup_latest

    rows = [("u", "2024-01-01", "old"), ("u", "2024-01-02", "new"), ("v", "2024-01-01", "only")]
    df = spark.createDataFrame(rows, ["k", "ts", "val"]).withColumn("ts", F.to_timestamp("ts"))
    got = {r["k"]: r["val"] for r in dedup_latest(df, key="k", order_col="ts").collect()}
    assert got == {"u": "new", "v": "only"}


def test_dedup_clusters_and_representatives(spark):
    from final_ocr_spark.operators.dedup import (
        dedup_clusters, keep_cluster_representatives)

    # two components: {1,2,3} via transitive chain (1-2, 2-3; 1-3 never
    # emitted) and {7,9}; 5 is unclustered
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], ["key_a", "key_b"])
    got = {r["key"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in (1, 2, 3, 5, 7, 9)], ["doc_id", "text"])
    kept = sorted(r["doc_id"] for r in
                  keep_cluster_representatives(docs, dedup_clusters(pairs)).collect())
    assert kept == [1, 5, 7]  # one per cluster + the unclustered doc


def test_dedup_clusters_path_graph_converges(spark):
    from final_ocr_spark.operators.dedup import dedup_clusters

    # worst-case shape: a pure path 0-1-2-...-9 (diameter 9)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["key_a", "key_b"])
    got = {r["key"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(10)}


def test_simhash_sigs_equals_fold_form(spark):
    """The codegen-aggregation simhash must be BIT-IDENTICAL to the
    interpreted fold form (same vote rule: bit set iff 2*popcount > n)."""
    from final_ocr_spark.operators.dedup import (
        simhash_sigs, shingle_hashes_from, word_hashes)
    from tests.spec_forms import simhash_from_hashes

    docs = [(i, f"alpha beta gamma delta {i} epsilon zeta eta theta " * 3)
            for i in range(40)] + [(100, "too short")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    fold = (
        df.select(F.col("doc_id").alias("k"), word_hashes("text").alias("wh"))
        .select("k", shingle_hashes_from(F.col("wh"), 3).alias("h"))
        .select("k", simhash_from_hashes(F.col("h")).alias("sh"))
        .filter(F.col("sh").isNotNull())
    )
    agg = simhash_sigs(df, key="doc_id", text_col="text", shingle_k=3)
    a = {r["k"]: r["sh"] for r in fold.collect()}
    b = {r["k"]: r["sh"] for r in agg.collect()}
    assert a == b
    assert len(a) == 40  # "too short" (2 words) yields no 3-shingles → excluded


def test_shingle_rows_match_array_form(spark):
    """explode+lag shingle rows must produce the EXACT multiset of hashes
    the array-HOF chain produces (rotation alignment pinned here)."""
    from collections import Counter

    from final_ocr_spark.operators.dedup import (
        shingle_hash_rows, shingle_hashes_from, word_hashes)

    docs = [(1, "Alpha, beta GAMMA delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four"),  # 4 words -> 0 5-shingles
            (3, "a b c d e a b c d e a b c d e")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    arr = (df.select(F.col("doc_id").alias("k"), word_hashes("text").alias("wh"))
             .select("k", F.explode(shingle_hashes_from(F.col("wh"), 5)).alias("h")))
    rows = shingle_hash_rows(df, shingle_k=5)
    a = Counter((r["k"], r["h"]) for r in arr.collect())
    b = Counter((r["k"], r["h"]) for r in rows.collect())
    assert a == b and not any(k == 2 for k, _ in b)


def test_dedup_clusters_long_path_pointer_jumping(spark):
    """A 200-node path (diameter 199) must converge well inside 12 rounds —
    possible only because each round compresses label chains (pointer
    jumping), not just propagates one hop."""
    from final_ocr_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], ["key_a", "key_b"])
    got = {r["key"]: r["cluster_id"]
           for r in dedup_clusters(pairs, max_iters=12).collect()}
    assert got == {i: 0 for i in range(200)}


def test_dedup_clusters_random_graph_fuzz(spark):
    """300 random edges over 150 nodes vs a pure-Python union-find."""
    import random

    from final_ocr_spark.operators.dedup import dedup_clusters

    rng = random.Random(77)
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(300)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(150))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    want = {x: find(x) for x in touched}

    pairs = spark.createDataFrame(edges, ["key_a", "key_b"])
    got = {r["key"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == want

    # star mode: identical output on the same random graph
    star = {r["key"]: r["cluster_id"]
            for r in dedup_clusters(pairs, algorithm="star").collect()}
    assert star == want


@pytest.mark.parametrize("algorithm", ["jump", "star"])
def test_dedup_clusters_evaluates_each_pair_once(spark, algorithm):
    """The pairs fed to dedup_clusters are usually the unmaterialized
    exact-Jaccard verify, so each pair row must be evaluated ONCE: a Union
    of two projections of the pairs ran jump's verify twice and star's
    three times. A pass-through Python UDF counts the evaluations. The
    self-pair (4, 4) stays a singleton cluster in both algorithms."""
    from final_ocr_spark.operators.dedup import dedup_clusters

    calls = spark.sparkContext.accumulator(0)

    def seen(k):
        calls.add(1)
        return k

    rows = [(1, 2), (2, 3), (7, 9), (4, 4)]
    pairs = spark.createDataFrame(rows, ["key_a", "key_b"]).select(
        F.udf(seen, "long")("key_a").alias("key_a"), "key_b")
    got = {r["key"]: r["cluster_id"]
           for r in dedup_clusters(pairs, algorithm=algorithm).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 7: 7, 9: 7}
    assert calls.value == len(rows)


def test_dedup_clusters_star_basic(spark):
    from final_ocr_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], ["key_a", "key_b"])
    got = {r["key"]: r["cluster_id"]
           for r in dedup_clusters(pairs, algorithm="star").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_dedup_clusters_star_long_path(spark):
    """Large-star/small-star must converge on a 200-node path (diameter 199)
    in FEWER rounds than pointer jumping — the path-shaped-graph scale mode
    VERDICT r2 asked to be built rather than footnoted."""
    from final_ocr_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], ["key_a", "key_b"])

    jump_stats, star_stats = {}, {}
    jump = {r["key"]: r["cluster_id"]
            for r in dedup_clusters(pairs, max_iters=12,
                                    _stats=jump_stats).collect()}
    star = {r["key"]: r["cluster_id"]
            for r in dedup_clusters(pairs, max_iters=12, algorithm="star",
                                    _stats=star_stats).collect()}
    want = {i: 0 for i in range(200)}
    assert jump == want and star == want
    assert star_stats["rounds"] < jump_stats["rounds"], (
        f"star {star_stats['rounds']} rounds vs jump {jump_stats['rounds']}")


def test_dedup_clusters_star_nonconvergence_is_loud(spark):
    from final_ocr_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["key_a", "key_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iters=1, algorithm="star").collect()


def test_minhash_sigs_equals_fold_form(spark):
    """Codegen-aggregate minhash must be BIT-IDENTICAL to the classic
    permutation fold (same Mersenne family, same seed stream)."""
    from final_ocr_spark.operators.dedup import (
        minhash_sigs, shingle_hashes_from, word_hashes)
    from tests.spec_forms import minhash_from_hashes

    docs = [(i, f"alpha beta gamma delta {i} epsilon zeta eta theta iota " * 2)
            for i in range(25)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    fold = (
        df.select(F.col("doc_id").alias("k"), word_hashes("text").alias("wh"))
        .select("k", shingle_hashes_from(F.col("wh"), 5).alias("h"))
        .select("k", minhash_from_hashes(F.col("h"), 32).alias("sig"))
        .filter(F.col("sig").isNotNull())
    )
    agg = minhash_sigs(df, num_hashes=32, shingle_k=5)
    a = {r["k"]: r["sig"] for r in fold.collect()}
    b = {r["k"]: r["sig"] for r in agg.collect()}
    assert a == b and len(a) == 25


def test_minhash_short_docs_no_densification_bias(spark):
    """Regression (round-2 review): two 6-word docs sharing their minimum
    shingle but with true 5-gram Jaccard 1/3 must NOT pair at threshold
    0.7 — the OPH densification fill inflated their est_jaccard to ~0.98."""
    from final_ocr_spark.operators.dedup import minhash_near_dups

    df = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo xray"),
         (2, "alpha bravo charlie delta echo quebec")],
        ["doc_id", "text"])
    pairs = minhash_near_dups(df, num_hashes=64, jaccard_threshold=0.7).collect()
    assert pairs == []
    # the estimator itself must sit near the true 1/3, not ~1.0: fraction
    # of equal signature positions (LSH banding at J=0.33 is legitimately
    # low-recall, so check the signatures directly)
    from final_ocr_spark.operators.dedup import minhash_sigs

    sigs = {r["k"]: r["sig"] for r in minhash_sigs(df, num_hashes=64).collect()}
    frac = sum(a == b for a, b in zip(sigs[1], sigs[2])) / 64
    assert 0.1 < frac < 0.6, frac


def test_lsh_bands_must_divide_num_hashes(spark, corpus, tmp_path):
    """More bands than hashes slices every band empty (all docs share one
    bucket per band); a remainder sketches hashes no band reads. Every entry
    point refuses such a banding before any Spark job runs — ``ingest_batch``
    also before it repairs or creates its store."""
    from final_ocr_spark.operators.dedup import (
        incremental_near_dups, minhash_near_dups)
    from final_ocr_spark.streaming.incremental_corpus import ingest_batch

    store = tmp_path / "store"
    sc = spark.sparkContext
    sc.setJobGroup("lsh-band-check", "band validation")
    try:
        for n, b in [(8, 16), (32, 0), (32, 5)]:
            with pytest.raises(ValueError, match="bands="):
                minhash_near_dups(corpus, num_hashes=n, bands=b)
            with pytest.raises(ValueError, match="bands="):
                incremental_near_dups(corpus, corpus, num_hashes=n, bands=b)
            with pytest.raises(ValueError, match="bands="):
                ingest_batch(corpus, 0, str(store / "corpus"),
                             str(store / "sigs"), key="doc_id",
                             text_col="text", num_hashes=n, bands=b)
        assert sc.statusTracker().getJobIdsForGroup("lsh-band-check") == []
    finally:
        sc.setJobGroup(None, None)
    assert not store.exists()


def test_incremental_near_dups(spark, corpus):
    """New-batch-vs-historical dedup: the historical side is a precomputed
    signature table; a new doc near-duplicating a historical one must pair,
    a fresh doc must not."""
    from final_ocr_spark.operators.dedup import incremental_near_dups, minhash_sigs

    hist_sigs = minhash_sigs(corpus)  # docs 1-5
    new = spark.createDataFrame(
        [(100, corpus.filter("doc_id = 1").collect()[0]["text"] + " tiny tail"),
         (101, "genuinely new content about astronomy and the slow drift of "
               "stars across the northern sky during long winter nights")],
        ["doc_id", "text"])
    pairs = incremental_near_dups(new, hist_sigs, jaccard_threshold=0.5)
    got = {(r["new_key"], r["hist_key"]) for r in pairs.collect()}
    assert (100, 1) in got
    assert all(nk != 101 for nk, _ in got)


def test_keep_cluster_representatives_quality_keep_best(spark):
    """quality_col keeps the highest-quality member per cluster (ties →
    smallest key), not the min-key one; unclustered docs pass through;
    members missing from the corpus neither win nor lose; NULL quality
    ranks last."""
    from final_ocr_spark.operators.dedup import (
        dedup_clusters, keep_cluster_representatives)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (20, 21)], ["key_a", "key_b"])
    clusters = dedup_clusters(pairs)
    docs = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (3, "c", 99.0), (5, "u", 1.0),
         (7, "d", None), (9, "e", 2.0), (21, "f", 3.0)],
        "doc_id int, text string, q double")
    # cluster {1,2,3}: best q=99 tie between 2 and 3 → 2; cluster {7,9}:
    # NULL q loses → 9; cluster {20,21}: 20 absent from docs → 21 wins;
    # 5 unclustered
    kept = sorted(r["doc_id"] for r in keep_cluster_representatives(
        docs, clusters, key="doc_id", quality_col="q").collect())
    assert kept == [2, 5, 9, 21]
    # default rule unchanged: min-key member survives — including dropping
    # 21 whose min-key representative 20 isn't even in the corpus
    kept_min = sorted(r["doc_id"] for r in keep_cluster_representatives(
        docs, clusters, key="doc_id").collect())
    assert kept_min == [1, 5, 7]


def test_keep_cluster_representatives_quality_duplicate_key_rows(spark):
    """A corpus with duplicate rows for the winning key (recrawl not yet
    key-deduped) must still keep that cluster's representative: without the
    per-key max-quality pre-aggregate, the winner's duplicate row ranks
    _rn=2, lands its own key in the loser set, and the left-anti deletes
    the whole cluster."""
    from final_ocr_spark.operators.dedup import (
        dedup_clusters, keep_cluster_representatives)

    clusters = dedup_clusters(
        spark.createDataFrame([(1, 2), (2, 3)], ["key_a", "key_b"]))
    docs = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (2, "b-recrawl", 50.0),
         (3, "c", 20.0)],
        "doc_id int, text string, q double")
    kept = sorted((r["doc_id"], r["text"]) for r in
                  keep_cluster_representatives(
                      docs, clusters, key="doc_id", quality_col="q"
                  ).collect())
    # key 2 wins on its best row's quality; BOTH of its rows survive
    # (same contract as the min-key path: filtering is by key)
    assert kept == [(2, "b"), (2, "b-recrawl")]


def test_hash64_near_dups_pigeonhole_guarantee(spark):
    """hash64_near_dups must find EVERY pair within the radius (recall 1.0
    by pigeonhole), across all three block widths, and must refuse radii
    past 7."""
    import itertools

    import pytest
    from pyspark.sql import functions as F

    from final_ocr_spark.operators.dedup import hash64_near_dups

    base = 0x0123_4567_89AB_CDEF
    # neighbors at hamming d: flip the d lowest set positions of a spread
    # bit pattern (positions chosen across different blocks to stress the
    # pigeonhole, including adjacent-bit clumps inside one block)
    flips = [0, 1, 63, 17, 16, 33, 48, 5]
    vals = {100: base}
    for d in range(1, 8):
        v = base
        for p in flips[:d]:
            v ^= 1 << p
        vals[100 + d] = v
    sigs = spark.createDataFrame(
        [(k, v - (1 << 64) if v >= (1 << 63) else v) for k, v in vals.items()],
        "k long, sh long",
    )
    for radius in (1, 3, 7):
        got = {
            (r["key_a"], r["key_b"]): r["hamming"]
            for r in hash64_near_dups(sigs, max_hamming=radius).collect()
        }
        # brute-force truth
        exp = {}
        for (ka, va), (kb, vb) in itertools.combinations(sorted(vals.items()), 2):
            hd = bin((va ^ vb) & (2**64 - 1)).count("1")
            if hd <= radius:
                exp[(ka, kb)] = hd
        assert got == exp, radius
    with pytest.raises(ValueError, match="max_hamming"):
        hash64_near_dups(sigs, max_hamming=8)


def test_hash64_near_dups_bucket_cap_is_opt_in(spark):
    """Default (bucket_cap=None) keeps the recall-1.0 guarantee even when a
    (block, value) bucket exceeds any cap; an explicit cap bounds the work
    and provably drops the tail pairs — the documented trade."""
    from final_ocr_spark.operators.dedup import hash64_near_dups

    # 250 identical hashes (one degenerate bucket per block) plus one
    # 1-bit neighbor of the group
    n = 250
    rows = [(k, 0x0F0F_0F0F) for k in range(n)] + [(9000, 0x0F0F_0F0E)]
    sigs = spark.createDataFrame(rows, "k long, sh long")

    full = hash64_near_dups(sigs, max_hamming=1).count()
    assert full == n * (n - 1) // 2 + n  # all identical pairs + neighbor

    capped = hash64_near_dups(sigs, max_hamming=1, bucket_cap=50).count()
    assert capped < full  # the cap demonstrably trades recall for bounds
