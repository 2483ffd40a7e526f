"""End-to-end corpus pipeline on a corpus with planted dups, near-dups,
spam, PII, and a hot host."""

from datetime import datetime

from pyspark.sql import functions as F

from final_ocr_spark.pipeline import corpus_pipeline
from final_ocr_spark.schema import PAGES_SCHEMA

TS = datetime(2024, 5, 1, 12, 0, 0)

GOOD = ("the quick brown fox jumps over the lazy dog and then it runs far "
        "away into the green hills where a small river flows past the old "
        "stone bridge near the quiet village every single morning")


def _pages(spark, rows):
    data = [(url, TS, None, text, "en") for url, text in rows]
    return spark.createDataFrame(data, PAGES_SCHEMA)


def test_corpus_pipeline_end_to_end(spark):
    rows = [
        ("https://a.example.com/1", GOOD),
        ("https://a.example.com/1-copy", GOOD),                  # exact dup
        ("https://b.example.com/2", GOOD + " extra"),            # near-dup of GOOD
        ("https://c.example.com/3",
         "it was the best of times it was the worst of times it was the age "
         "of wisdom it was the age of foolishness it was the epoch of belief"),
        ("https://d.example.com/4",
         "contact me at john.doe@example.com for all of the details about "
         "the meeting that we planned for the next week in the main office "
         "on the second floor of the building near the station"),
        ("https://spam.example.com/5", "buy now " * 60),         # gopher kill
        ("https://hot.example.com/h1",
         "a first unique document about cats and the many ways that they "
         "sleep through the long warm afternoon on the windowsill in the sun"),
        ("https://hot.example.com/h2",
         "a second unique document about dogs and the many ways that they "
         "play through the long warm afternoon in the garden by the fence"),
        ("https://hot.example.com/h3",
         "a third unique document about birds and the many ways that they "
         "sing through the long warm afternoon in the old oak tree branches"),
    ]
    out = corpus_pipeline(
        _pages(spark, rows), host_cap=2, extract_partitions=4
    ).collect()
    urls = sorted(r["url"] for r in out)

    # exact dup: only min url survives
    assert "https://a.example.com/1" in urls
    assert "https://a.example.com/1-copy" not in urls
    # near-dup of GOOD clustered and dropped (a.example.com/1 is min)
    assert "https://b.example.com/2" not in urls
    # spam killed by the gopher repetition gate
    assert all("spam" not in u for u in urls)
    # hot host capped at 2
    assert sum("hot.example.com" in u for u in urls) == 2
    # PII masked in the surviving text
    d4 = [r for r in out if r["url"].startswith("https://d.")][0]
    assert "<EMAIL>" in d4["text"] and "john.doe@example.com" not in d4["text"]
    # survivors carry the documented schema
    assert {"url", "warc_ts", "text", "lang", "host", "quality_score"} <= set(out[0].asDict())


def test_corpus_pipeline_sample_and_toggles(spark):
    rows = [(f"https://s{i}.example.com/p", GOOD + f" tail{i} " + " ".join(
        f"w{i}x{j}" for j in range(30))) for i in range(12)]
    base = corpus_pipeline(
        _pages(spark, rows), near_dup=False, gopher=False, redact=False
    )
    n_base = base.count()
    assert n_base == 12
    sampled = corpus_pipeline(
        _pages(spark, rows), near_dup=False, gopher=False, redact=False,
        sample_rate=0.5, sample_salt="t",
    )
    n_s = sampled.count()
    assert 0 < n_s < 12
    # deterministic: same salt → same sample
    again = corpus_pipeline(
        _pages(spark, rows), near_dup=False, gopher=False, redact=False,
        sample_rate=0.5, sample_salt="t",
    )
    assert sorted(r["url"] for r in sampled.collect()) == sorted(
        r["url"] for r in again.collect())


def test_corpus_pipeline_decontamination(spark):
    rows = [
        ("https://a.example.com/1", GOOD),
        ("https://c.example.com/3",
         "it was the best of times it was the worst of times it was the age "
         "of wisdom it was the age of foolishness it was the epoch of belief"),
    ]
    bench = spark.createDataFrame(
        [(1, "it was the best of times it was the worst of times it was the age")],
        ["qid", "text"])
    out = corpus_pipeline(
        _pages(spark, rows), near_dup=False, gopher=False, redact=False,
        benchmark=bench,
    ).collect()
    urls = [r["url"] for r in out]
    assert urls == ["https://a.example.com/1"]  # contaminated doc dropped


def test_corpus_pipeline_star_clusters_match_jump(spark):
    """cluster_algorithm='star' must keep/drop exactly the same documents as
    the default pointer-jumping clustering on a planted near-dup corpus."""
    rows = [
        ("https://a.example.com/1", GOOD),
        ("https://b.example.com/2", GOOD + " extra"),
        ("https://c.example.com/3", GOOD + " extra words"),
        ("https://d.example.com/4",
         "a wholly unrelated document about gardens and the quiet ways the "
         "seasons change the colors of the leaves across the long year"),
    ]
    jump = sorted(r["url"] for r in corpus_pipeline(
        _pages(spark, rows), gopher=False, redact=False).collect())
    star = sorted(r["url"] for r in corpus_pipeline(
        _pages(spark, rows), gopher=False, redact=False,
        cluster_algorithm="star").collect())
    assert star == jump
    assert "https://a.example.com/1" in star  # min-url representative kept
    assert "https://b.example.com/2" not in star


def test_normalization_precedes_pii_redaction(spark):
    """NFKC folds fullwidth '＠' and fullwidth digits into ASCII; if
    normalization ran AFTER redaction that fold would UNMASK PII the
    patterns missed. Pinned: with both stages on, fullwidth PII in the
    page is redacted in the output."""
    page_text = ("contact person writes from user＠example.com about the "
                 "meeting that we planned for next week in the main office "
                 "on the second floor of the building near the old station")
    rows = [("https://n.example.com/1", GOOD),
            ("https://n.example.com/2", page_text)]
    out = corpus_pipeline(_pages(spark, rows), gopher=False, near_dup=False,
                          redact=True, normalize_form="NFKC",
                          min_quality=0.0).collect()
    t2 = [r["text"] for r in out if r["url"].endswith("/2")][0]
    assert "example.com" not in t2.replace("<EMAIL>", "")
    assert "<EMAIL>" in t2


def test_corpus_pipeline_url_gate_and_paragraph_dedup(spark):
    boiler = ("this website uses cookies to improve your experience and by "
              "continuing you agree to the cookie policy of this site")
    own = ("a completely different second document body about the seaside "
           "town where the fishing boats come home at dusk each day")

    def page(u, paras):
        body = "".join(f"<p>{p}</p>" for p in paras)
        return (u, TS, f"<html><body>{body}</body></html>".encode(), None, "en")

    # html pages: extraction joins kept <p> blocks with '\n', which is the
    # paragraph boundary paragraph_dedup splits on
    pages = spark.createDataFrame(
        [
            page("https://a.example.com/1", [boiler, GOOD]),
            page("https://b.example.com/2", [boiler, own]),
            page("https://blocked.example.net/x", [GOOD + " blocked content"]),
        ],
        PAGES_SCHEMA,
    )
    out = corpus_pipeline(
        pages,
        min_quality=0.0,
        gopher=False,
        redact=False,
        near_dup=False,
        blocked_domains=["example.net"],
        paragraph_dedup_min_chars=30,
    ).collect()
    texts = {r["url"]: r["text"] for r in out}

    # stage 0: the blocked domain never reaches extraction
    assert "https://blocked.example.net/x" not in texts
    # stage 4b: first occurrence (min url) keeps the boilerplate paragraph,
    # the later doc loses it but keeps its own body
    assert boiler in texts["https://a.example.com/1"]
    assert boiler not in texts["https://b.example.com/2"]
    assert "seaside town" in texts["https://b.example.com/2"]
    assert texts["https://b.example.com/2"] == own


def test_corpus_pipeline_containment_and_classifier_gates(spark):
    import random

    rng = random.Random(5)
    vocab = [f"word{i}" for i in range(400)]

    def prose(n):
        out = []
        for i in range(n):
            out.append("the" if i % 6 == 5 else rng.choice(vocab))
        return " ".join(out)

    container = prose(150)
    contained = " ".join(container.split()[50:95])  # 45-word quoted span
    rows = [
        ("https://big.example.com/article", container),
        ("https://quote.example.com/excerpt", contained),
        ("https://other.example.com/page", prose(120)),
    ]
    out = corpus_pipeline(
        _pages(spark, rows),
        near_dup=True,
        containment_threshold=0.6,
        extract_partitions=4,
    )
    urls = sorted(r["url"] for r in out.collect())
    # the quoted excerpt is contained -> dropped; both full docs survive
    # (their mutual jaccard is far below the near-dup threshold)
    assert "https://quote.example.com/excerpt" not in urls
    assert "https://big.example.com/article" in urls
    assert "https://other.example.com/page" in urls

    # classifier gate: train spam-vs-prose weights, spammy doc filtered
    from final_ocr_spark.operators.classify import train_ngram_nb

    spam = " ".join(
        ("buy" if i % 3 == 0 else rng.choice(["cheap", "pills", "casino", "the"]))
        for i in range(60)
    )
    labeled = spark.createDataFrame(
        [("t0", spam, 0), ("t1", prose(60), 1), ("t2", spam + " now", 0),
         ("t3", prose(80), 1)],
        "doc_id string, text string, label int",
    )
    weights = train_ngram_nb(labeled, n_features=1 << 12).localCheckpoint()
    rows2 = [
        ("https://ham.example.com/a", prose(100)),
        ("https://spamish.example.com/b", spam),
    ]
    out2 = corpus_pipeline(
        _pages(spark, rows2),
        near_dup=False,
        gopher=False,
        classifier_weights=weights,
        classifier_n_features=1 << 12,
        extract_partitions=4,
    )
    urls2 = [r["url"] for r in out2.collect()]
    assert urls2 == ["https://ham.example.com/a"]
    assert "model_score" in out2.columns


def test_corpus_pipeline_lm_perplexity_gate(spark):
    import random

    rng = random.Random(9)
    vocab = [f"word{i}" for i in range(50)]

    def prose(n, rg):
        return " ".join(
            "the" if i % 5 == 4 else rg.choice(vocab) for i in range(n)
        )

    ref = spark.createDataFrame(
        [(f"r{i}", prose(80, rng)) for i in range(5)],
        "doc_id string, text string",
    )
    from final_ocr_spark.operators.lm import train_bigram_lm

    lm = train_bigram_lm(ref).localCheckpoint()

    gib_rng = random.Random(77)
    gibberish = " ".join(
        "the" if i % 5 == 4 else f"zzq{gib_rng.randrange(10**6)}"
        for i in range(60)
    )
    rows = [
        ("https://good.example.com/a", prose(60, random.Random(1))),
        ("https://gib.example.com/b", gibberish),
    ]
    # pick the threshold between the two scores so the gate, not the corpus,
    # decides — scored through the same operator the pipeline uses
    from final_ocr_spark.operators.lm import score_bigram_lm

    probe = spark.createDataFrame(rows, "url string, text string")
    ppl = {r.url: r.lm_ppl for r in score_bigram_lm(probe, lm, key="url").collect()}
    assert ppl["https://good.example.com/a"] < ppl["https://gib.example.com/b"]
    thr = (ppl["https://good.example.com/a"] + ppl["https://gib.example.com/b"]) / 2

    out = corpus_pipeline(
        _pages(spark, rows),
        near_dup=False,
        gopher=False,
        min_quality=0.0,
        lm_table=lm,
        lm_max_ppl=thr,
        extract_partitions=4,
    )
    urls = [r["url"] for r in out.collect()]
    assert urls == ["https://good.example.com/a"]
    assert "lm_ppl" in out.columns


def test_corpus_pipeline_metadata_gate(spark):
    def page(body_extra="", head=""):
        return (
            f"<html><head>{head}</head><body><p>{GOOD}{body_extra}</p>"
            "</body></html>"
        ).encode()

    rows = [
        ("https://ok.example.com/a", TS, page(" about alpha topics"), None, "en"),
        ("https://noidx.example.com/b", TS,
         page(" about beta topics",
              '<meta name="robots" content="noindex">'), None, "en"),
        ("https://dup.example.com/c", TS,
         page(" about gamma topics",
              '<link rel="canonical" href="https://ok.example.com/a">'),
         None, "en"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)

    base = dict(min_quality=0.0, gopher=False, near_dup=False, redact=False)
    # without the gate all three pass the pipeline
    urls = {r.url for r in corpus_pipeline(pages, **base).collect()}
    assert len(urls) == 3

    # noindex gate drops only the robots-flagged page
    urls = {r.url for r in corpus_pipeline(pages, drop_noindex=True, **base).collect()}
    assert urls == {"https://ok.example.com/a", "https://dup.example.com/c"}

    # canonical gate additionally drops the declared duplicate
    urls = {
        r.url
        for r in corpus_pipeline(
            pages, drop_noindex=True, respect_canonical=True, **base
        ).collect()
    }
    assert urls == {"https://ok.example.com/a"}


def test_corpus_pipeline_robots_gate(spark):
    def page(extra):
        return (f"<html><body><p>{GOOD} {extra}</p></body></html>").encode()

    rows = [
        ("https://a.com/public/1", TS, page("about alpha"), None, "en"),
        ("https://a.com/private/1", TS, page("about beta"), None, "en"),
        ("https://open.com/anything", TS, page("about gamma"), None, "en"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string",
    )
    base = dict(min_quality=0.0, gopher=False, near_dup=False, redact=False)
    urls = {r.url for r in corpus_pipeline(pages, robots=robots, **base).collect()}
    assert urls == {"https://a.com/public/1", "https://open.com/anything"}


def test_corpus_pipeline_span_dedup(spark):
    # a 12-token passage syndicated into an otherwise-unique document, NOT
    # on a paragraph boundary — exactly what stage 4c exists to catch
    span = ("breaking news the harbour bridge reopened to traffic this "
            "morning after repairs")
    rows = [
        ("https://a.example.com/1", f"{span} reported by the city desk "
                                    "with further details to follow soon"),
        ("https://b.example.com/2", f"our morning roundup begins {span} "
                                    "and in other stories the market rose"),
    ]
    out = {
        r["url"]: r["text"]
        for r in corpus_pipeline(
            _pages(spark, rows),
            min_quality=0.0, gopher=False, redact=False, near_dup=False,
            span_dedup_gram_n=12,
        ).collect()
    }
    # first occurrence (min url) keeps the span verbatim
    assert span in out["https://a.example.com/1"]
    # the later doc loses exactly the duplicated span, keeps its own words
    assert out["https://b.example.com/2"] == (
        "our morning roundup begins and in other stories the market rose"
    )


def test_corpus_pipeline_host_boilerplate(spark):
    nav = "Site Menu | Home | Archive | Subscribe | Contact Page"

    def page(u, paras):
        body = "".join(f"<p>{p}</p>" for p in paras)
        return (u, TS, f"<html><body>{body}</body></html>".encode(), None, "en")

    # html pages: extraction joins kept <p> blocks with '\n', which is the
    # line boundary host_boilerplate_dedup splits on
    rows = [
        page(f"https://news.example.com/{i}", [nav, f"{GOOD} article number {i}"])
        for i in range(5)
    ]
    # another host with one page quoting the same line: per-host ratio
    # never fires there
    rows.append(page("https://other.example.org/1", [nav, f"{GOOD} elsewhere"]))
    out = {
        r["url"]: r["text"]
        for r in corpus_pipeline(
            spark.createDataFrame(rows, PAGES_SCHEMA),
            min_quality=0.0, gopher=False, redact=False, near_dup=False,
            host_boilerplate_ratio=0.8, host_boilerplate_min_pages=5,
        ).collect()
    }
    for i in range(5):
        assert nav not in out[f"https://news.example.com/{i}"]
        assert f"article number {i}" in out[f"https://news.example.com/{i}"]
    assert nav in out["https://other.example.org/1"]


def test_all_round3_stages_compose(spark):
    """MIME gate + mojibake repair + paragraph + sentence dedup enabled
    together: each stage's effect lands, none clobbers another."""
    import datetime

    from final_ocr_spark.pipeline import corpus_pipeline

    ts = datetime.datetime(2026, 1, 1)
    lede = ("Officials confirmed the merger will proceed exactly as "
            "planned for the remainder of this quarter period.")

    def page(url, body_html):
        return (url, ts, body_html.encode(), None, None)

    # only sequences whose misdecoded view has no whitespace-like
    # chars (the NBSP view of 0xA0 dies in extraction whitespace
    # collapse — pinned in test_mojibake): é ö ’ €
    moji = "rÃ©sumÃ© KÃ¶ln donâ€™t â‚¬99"
    rows = [
        page("http://a.com/1",
             f"<html><body><p>{lede}</p><p>{moji} plus original first "
             "document prose with plenty of unique english filler words "
             "to pass the quality gates comfortably today.</p></body></html>"),
        page("http://b.com/2",
             f"<html><body><p>{lede}</p><p>A different second document "
             "middle section with its own unique english filler words to "
             "pass the quality gates comfortably today.</p></body></html>"),
    ]
    # one media payload the MIME gate must shed
    rows.append(("http://c.com/img", ts,
                 bytes.fromhex("89504E470D0A1A0A") + b"img", None, None))
    pages = spark.createDataFrame(
        [(u, t, bytearray(b), x, l) for u, t, b, x, l in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = {r["url"]: r["text"] for r in corpus_pipeline(
        pages, min_quality=0.0, gopher=False, redact=False, near_dup=False,
        mime_gate=True, fix_mojibake=True,
        paragraph_dedup_min_chars=30, sentence_dedup_min_chars=40,
    ).collect()}
    assert "http://c.com/img" not in out            # MIME gate
    assert "résumé Köln don’t €99" in out["http://a.com/1"]  # repaired
    assert lede in out["http://a.com/1"]            # first owner keeps
    assert lede not in out["http://b.com/2"]        # dedup dropped copy
    assert "different second document" in out["http://b.com/2"]


def test_corpus_pipeline_semantic_dedup_stage(spark):
    """Stage 5c: a word-order-permuted paraphrase shares its unigram
    multiset with the original (hashed-projection cosine ≈ the unigram
    mass fraction) but almost no 5-gram shingles — lexical near-dup at
    0.85 keeps it, the semantic stage collapses it to the min-url member.
    An unrelated doc (cosine ≈ 0) must survive the same threshold."""
    base_words = (
        "the committee approved the new harbor dredging budget after a "
        "long public session where residents raised concerns about noise "
        "schedules and the seasonal closure of the east boat ramp before "
        "the final vote passed with a clear majority of the members"
    ).split()
    # fixed deterministic permutation (reverse) — same unigrams, new order
    shuffled = " ".join(reversed(base_words))
    rows = [
        ("https://a.example.com/base", " ".join(base_words)),
        ("https://b.example.com/reordered", shuffled),
        ("https://c.example.com/other",
         "quarterly snowfall totals across the northern observation ridge "
         "exceeded the historical median while wind crusting limited the "
         "usable depth reported by the avalanche survey teams this winter"),
    ]
    # without the stage: the reordered paraphrase survives lexical dedup
    plain = {r["url"] for r in corpus_pipeline(
        _pages(spark, rows), gopher=False, redact=False,
        extract_partitions=2,
    ).collect()}
    assert plain == {u for u, _ in rows}
    # with the stage: it collapses to the min-url member; unrelated stays
    sem = {r["url"] for r in corpus_pipeline(
        _pages(spark, rows), gopher=False, redact=False,
        extract_partitions=2, semantic_threshold=0.4, semantic_bits=2,
    ).collect()}
    assert sem == {"https://a.example.com/base", "https://c.example.com/other"}


def test_corpus_pipeline_kmeans_semantic_and_prototype_prune(spark):
    """Stages 5c (semantic_method='kmeans') + 5d: the reordered paraphrase
    collapses under the paper-faithful k-means SemDeDup, and prototype
    pruning then drops a bounded fraction of the survivors (never the
    whole corpus, never more than frac)."""
    base_words = (
        "the committee approved the new harbor dredging budget after a "
        "long public session where residents raised concerns about noise "
        "schedules and the seasonal closure of the east boat ramp before "
        "the final vote passed with a clear majority of the members"
    ).split()
    rows = [
        ("https://a.example.com/base", " ".join(base_words)),
        ("https://b.example.com/reordered", " ".join(reversed(base_words))),
        ("https://c.example.com/other",
         "quarterly snowfall totals across the northern observation ridge "
         "exceeded the historical median while wind crusting limited the "
         "usable depth reported by the avalanche survey teams this winter"),
        ("https://d.example.com/third",
         "orchard workers finished the early apple harvest under clear "
         "skies stacking crates along the farm road while cider presses "
         "ran in the barn and wasps gathered near the windfalls"),
    ]
    sem = {r["url"] for r in corpus_pipeline(
        _pages(spark, rows), gopher=False, redact=False,
        extract_partitions=2, semantic_threshold=0.4,
        semantic_method="kmeans", semantic_k=2,
    ).collect()}
    # one of the paraphrase pair died; the kmeans variant keeps the
    # LEAST-prototypical member (which of a/b that is depends on the
    # cluster's third member), the two unrelated docs survive
    assert len(sem) == 3
    assert len(sem & {"https://a.example.com/base",
                      "https://b.example.com/reordered"}) == 1
    assert {"https://c.example.com/other",
            "https://d.example.com/third"} <= sem

    pruned = {r["url"] for r in corpus_pipeline(
        _pages(spark, rows), gopher=False, redact=False,
        extract_partitions=2, semantic_threshold=0.4,
        semantic_method="kmeans", semantic_k=2,
        prototype_prune_frac=0.4, prototype_k=2,
    ).collect()}
    assert pruned <= sem and len(pruned) >= 2  # drops bounded by frac

    import pytest as _pytest
    with _pytest.raises(ValueError, match="semantic_method"):
        corpus_pipeline(
            _pages(spark, rows), gopher=False, redact=False,
            semantic_threshold=0.4, semantic_method="centroid",
        ).collect()


def test_lang_detect_standalone_overwrites_lang(spark):
    """lang_detect=True with NO lang_allow must still re-detect and
    overwrite the declared lang column (review-caught: the detection used
    to live inside the lang_allow block, so --lang-detect alone was
    silently ignored)."""
    rows = [
        ("https://a.example.com/en",
         "the house stands near the river and the children walk to the "
         "school along the old road every morning with their friends"),
    ]
    data = [(url, TS, None, text, "zz") for url, text in rows]  # wrong label
    pages = spark.createDataFrame(data, PAGES_SCHEMA)
    out = corpus_pipeline(
        pages, min_quality=0.0, gopher=False, redact=False, near_dup=False,
        lang_detect=True,
    ).collect()
    assert len(out) == 1
    assert out[0]["lang"] == "en"  # re-detected, declared 'zz' overwritten


def test_corpus_pipeline_temperature_stage_flattens_langs(spark):
    """temperature_alpha runs as the final stage over lang: the small
    language binds the uniform budget and keeps everything, the big one
    thins toward its size. (A NULL lang can't reach stage 8 from the
    extraction path — extraction detects one — so the coalesce-to-'und'
    guard is belt-and-braces for pre-extracted inputs; the operator-level
    NULL contract is pinned in test_sampling.)"""
    from final_ocr_spark.schema import PAGES_SCHEMA

    data = [(f"https://en{i}.example.com/p", TS, None,
             GOOD + f" en tail {i} " + " ".join(f"w{i}x{j}" for j in range(30)),
             "en") for i in range(40)]
    data += [(f"https://de{i}.example.com/p", TS, None,
              GOOD + f" de tail {i} " + " ".join(f"v{i}y{j}" for j in range(30)),
              "de") for i in range(5)]
    pages = spark.createDataFrame(data, PAGES_SCHEMA)
    base = dict(near_dup=False, gopher=False, redact=False, min_quality=0.0)
    out = corpus_pipeline(pages, temperature_alpha=0.0, **base)
    rows_out = out.collect()
    counts: dict = {}
    for r in rows_out:
        counts[r["lang"]] = counts.get(r["lang"], 0) + 1
    # uniform target, budget = min(40/0.5, 5/0.5) = 10: de (rate 1) keeps
    # all 5, en thins at rate 0.125
    assert counts.get("de", 0) == 5
    assert 0 < counts.get("en", 0) < 40
    # _tgroup never leaks into the output schema
    assert "_tgroup" not in out.columns


def test_corpus_pipeline_sample_and_temperature_salts_independent(spark):
    """sample_rate and temperature_alpha together: the temperature stage
    must hash with a salt DERIVED from sample_salt (salt + '|temperature'),
    not sample_salt itself — sharing the salt correlates the two md5 keep
    rules perfectly (every stage-7 survivor has bucket < thr7), so the
    alpha shares would silently never be achieved. Pinned with an exact
    Python twin of both stages."""
    import hashlib

    from final_ocr_spark.schema import PAGES_SCHEMA

    urls = [f"https://en{i}.example.com/p" for i in range(200)]
    urls += [f"https://de{i}.example.com/p" for i in range(25)]
    data = [(u, TS, None,
             GOOD + " tail " + " ".join(f"{u[8:10]}{i}w{j}" for j in range(30)),
             u[8:10]) for i, u in enumerate(urls)]
    pages = spark.createDataFrame(data, PAGES_SCHEMA)
    out = corpus_pipeline(
        pages, near_dup=False, gopher=False, redact=False, min_quality=0.0,
        sample_rate=0.5, sample_salt="s4", temperature_alpha=0.0,
    )
    got = sorted(r["url"] for r in out.collect())

    def bucket(salt, key):
        return int(hashlib.md5((salt + key).encode()).hexdigest()[:4], 16)

    # stage 7 twin: md5('s4' ‖ url) < round(0.5 * 65536)
    surv = [u for u in urls if bucket("s4", u) < 32768]
    actual = {"en": sum(u.startswith("https://en") for u in surv),
              "de": sum(u.startswith("https://de") for u in surv)}
    # stage 8 twin at alpha=0: uniform shares, budget = 2 * min group
    budget = min(actual[g] / 0.5 for g in actual)
    want = []
    for u in surv:
        g = "en" if u.startswith("https://en") else "de"
        thr = round(min(1.0, 0.5 * budget / actual[g]) * 65536)
        if thr >= 65536 or bucket("s4|temperature", u) < thr:
            want.append(u)
    assert got == sorted(want)
    # and the mixture actually lands near-uniform (the correlated-salt bug
    # made the big group keep ~2x its target)
    kept = {"en": sum(u.startswith("https://en") for u in got),
            "de": sum(u.startswith("https://de") for u in got)}
    assert kept["de"] == actual["de"]  # binding group keeps everything
    assert kept["en"] <= round(1.35 * kept["de"])


# the gate layer's corpus_pipeline kwargs (stages 1c-2)
_GATE_KW = ("lang_detect", "lang_allow", "c4_line_clean", "c4_min_lines",
            "min_quality", "gopher")
_LINES = [
    "The harbor committee approved the dredging budget after a long session.",
    "Residents raised several concerns about the noise schedule at the hearing.",
    "A clear majority of the members passed the final proposal that evening!",
    "short line.",
    "no terminal punctuation in this line at all",
    "Please enable JavaScript in the browser to see the page.",
]


def _gate_corpus():
    """Docs that fail at every gate of the cascade, and docs that pass."""
    import random

    rng = random.Random(11)
    texts = [
        "\n".join(_LINES[:3]),
        "\n".join(_LINES),
        _LINES[0],
        "Der Ausschuss hat das Budget nach einer langen Sitzung genehmigt "
        "und die Mitglieder sind mit dem Ergebnis sehr zufrieden.",
        "buy now " * 60,
        "\n".join([_LINES[0]] * 6),
        "\n".join(_LINES[:3]) + "\nLorem ipsum dolor sit amet, consectetur.",
        "\n".join(_LINES[:3]) + "\nconfig {a: 1}",
        GOOD,
        "",
        None,
    ]
    for _ in range(60):
        texts.append("\n".join(
            rng.choice(_LINES + [GOOD, "buy now buy now buy now."])
            for _ in range(rng.randint(1, 6))
        ))
    langs = ["en", "en", None, "de"] + ["en"] * (len(texts) - 4)
    return [
        (f"https://h{i % 3}.example.com/{i}", TS, t, lang, f"h{i % 3}.example.com")
        for i, (t, lang) in enumerate(zip(texts, langs))
    ]


def _staged_chain(docs, *, lang_detect, lang_allow, c4_line_clean,
                  c4_min_lines, min_quality, gopher):
    """Stages 1c-2 as a chain of the Arrow UDF twins and Column filters in
    gate order: the reference the one-pass cascade is pinned to."""
    from final_ocr_spark.operators.repetition import (
        c4_features, gopher_repetition_keep_udf,
    )
    from final_ocr_spark.operators.text_stats import (
        detect_lang_udf, quality_score_udf,
    )

    if lang_detect:
        docs = docs.withColumn("lang", detect_lang_udf()(F.col("text")))
    if lang_allow is not None:
        docs = docs.filter(F.col("lang").isin(*sorted(set(lang_allow))))
    if c4_line_clean:
        feats = c4_features(F.col("text"), min_lines=c4_min_lines)
        docs = (
            docs.withColumns(
                {"_c4_keep": feats["doc_keep"], "text": feats["clean_text"]}
            )
            .filter(F.col("_c4_keep"))
            .drop("_c4_keep")
        )
    docs = docs.withColumn("quality_score", quality_score_udf()(F.col("text")))
    docs = docs.filter(F.col("quality_score") >= F.lit(min_quality))
    if gopher:
        docs = docs.filter(gopher_repetition_keep_udf()(F.col("text")))
    return docs


def test_gate_cascade_equals_staged_chain(spark):
    """The one-pass cascade must return exactly what the staged chain of
    Arrow-twin UDFs and Column filters returns — rows, values, column
    order and types — under the pipeline defaults and the fineweb, c4 and
    gopher presets' gate settings."""
    import inspect

    from final_ocr_spark.operators.gates import gate_cascade
    from final_ocr_spark.presets import preset_kwargs

    docs = spark.createDataFrame(
        _gate_corpus(),
        "url string, warc_ts timestamp, text string, lang string, host string",
    )
    defaults = {k: p.default for k, p in
                inspect.signature(corpus_pipeline).parameters.items()
                if k in _GATE_KW}
    for preset in (None, "fineweb", "c4", "gopher"):
        kw = dict(defaults)
        if preset:
            kw.update({k: v for k, v in preset_kwargs(preset).items()
                       if k in _GATE_KW})
        got = gate_cascade(docs, **kw)
        want = _staged_chain(docs, **kw)
        assert got.schema == want.schema, preset
        got_rows, want_rows = sorted(got.collect()), sorted(want.collect())
        assert got_rows == want_rows, preset
        assert 0 < len(got_rows) < docs.count(), preset


def test_bare_string_lang_allow_is_refused(spark):
    """A bare string is not an allow-list: iterating "en" would allow the
    languages "e" and "n" and silently drop every doc, so the gate layer
    refuses it — directly, through a preset override, and in the gate
    funnel that reports on it."""
    import pytest

    from final_ocr_spark.operators.gates import gate_cascade
    from final_ocr_spark.plans.funnel import gate_funnel
    from final_ocr_spark.presets import preset_kwargs

    docs = spark.createDataFrame(
        _gate_corpus(),
        "url string, warc_ts timestamp, text string, lang string, host string",
    )
    with pytest.raises(ValueError, match="lang_allow"):
        gate_cascade(docs, lang_allow="en")
    with pytest.raises(ValueError, match="lang_allow"):
        corpus_pipeline(_pages(spark, [("https://a.example.com/1", GOOD)]),
                        **preset_kwargs("fineweb", lang_allow="de"))
    with pytest.raises(ValueError, match="lang_allow"):
        gate_funnel(docs, lang_allow="en")


def test_gate_cascade_runs_each_kernel_once_per_doc_reaching_it():
    """Driven with counting kernels, the cascade's batch function calls
    each gate kernel exactly once per doc that reaches that gate, and
    never for a doc an earlier gate dropped."""
    from collections import Counter

    import pyarrow as pa

    from final_ocr_spark.operators.gates import KERNELS, cascade_batches

    names = ("detect_lang", "c4_clean", "quality", "gopher_keep")
    calls: Counter = Counter()

    def counting(name, fn):
        def wrapped(*args):
            calls[name] += 1
            return fn(*args)
        return wrapped

    kernels = tuple(counting(n, f) for n, f in zip(names, KERNELS))
    texts = [t for _, _, t, _, _ in _gate_corpus() if t is not None]
    batch = pa.RecordBatch.from_pydict(
        {"url": [str(i) for i in range(len(texts))], "text": texts,
         "lang": ["xx"] * len(texts)}
    )
    out = pa.Table.from_batches(list(cascade_batches(
        [batch.slice(0, 7), batch.slice(7)], lang_detect=True,
        allow=frozenset({"en"}), c4_min_lines=1, min_quality=90.0,
        gopher=True, kernels=kernels,
    )))

    detect, c4, quality, keep = KERNELS
    reach: Counter = Counter()
    survivors = []
    for t in texts:
        reach["detect_lang"] += 1
        if detect(t) != "en":
            continue
        reach["c4_clean"] += 1
        ok, clean = c4(t, 1)
        if not ok:
            continue
        reach["quality"] += 1
        if quality(clean) < 90.0:  # a one-line doc scores 87.5
            continue
        reach["gopher_keep"] += 1
        if keep(clean):
            survivors.append(clean)
    assert calls == reach
    # every gate drops something, so each count is a real short-circuit
    counts = [reach[n] for n in names] + [len(survivors)]
    assert counts == sorted(counts, reverse=True) and len(set(counts)) == 5
    assert out.column("text").to_pylist() == survivors
    assert set(out.column("lang").to_pylist()) == {"en"}
    assert out.schema.names == ["url", "text", "lang", "quality_score"]
