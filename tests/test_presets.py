"""Named published-recipe presets (C4/Gopher/CCNet/RefinedWeb/FineWeb/
Dolma/D4): kwarg validity against the live corpus_pipeline signature,
override semantics, and each recipe's signature behavior on planted docs."""

import inspect
from datetime import datetime

import pytest

from final_ocr_spark.pipeline import corpus_pipeline
from final_ocr_spark.presets import (
    PRESETS,
    corpus_pipeline_preset,
    list_presets,
    preset_kwargs,
)
from final_ocr_spark.schema import PAGES_SCHEMA

TS = datetime(2024, 5, 1, 12, 0, 0)

# >=5 words per line, terminal punctuation, english stopwords — passes the
# C4 line rules AND langid AND the default quality gate
SENT = [
    "The harbor committee approved the dredging budget after a long public session.",
    "Residents raised several concerns about the noise schedule during the hearing.",
    "The seasonal closure of the east boat ramp was discussed before the vote.",
    "A clear majority of the members passed the final proposal in the evening.",
]


def _pages(spark, rows, lang="en"):
    data = [
        (url, TS, None, text, lang if isinstance(lang, str) else lang[i])
        for i, (url, text) in enumerate(rows)
    ]
    return spark.createDataFrame(data, PAGES_SCHEMA)


def _html_pages(spark, rows):
    """(url, [block, ...]) → html pages; the extractor emits one line per
    kept block, which is what the C4 line rules and paragraph dedup key on
    (text-passthrough rows collapse newlines — pinned extractor behavior)."""

    def page(url, blocks):
        body = "".join(f"<p>{b}</p>" for b in blocks)
        return (url, TS, f"<html><body>{body}</body></html>".encode(), None, "en")

    return spark.createDataFrame(
        [page(u, b) for u, b in rows], PAGES_SCHEMA
    )


def test_presets_match_pipeline_signature():
    params = set(inspect.signature(corpus_pipeline).parameters) - {"pages"}
    for name, spec in PRESETS.items():
        assert spec["cite"] and spec["notes"], name
        extra = set(spec["kwargs"]) - params
        assert not extra, f"{name}: {extra} not corpus_pipeline params"


def test_preset_kwargs_merge_and_errors():
    base = preset_kwargs("c4")
    assert base["c4_line_clean"] is True and base["near_dup"] is False
    over = preset_kwargs("c4", near_dup=True, jaccard_threshold=0.9)
    assert over["near_dup"] is True and over["jaccard_threshold"] == 0.9
    assert preset_kwargs("c4") == base  # merge never mutates the preset
    with pytest.raises(ValueError, match="unknown preset"):
        preset_kwargs("c5")
    with pytest.raises(TypeError, match="not corpus_pipeline"):
        preset_kwargs("c4", jacard_threshold=0.9)  # typo caught at merge
    assert set(list_presets()) == set(PRESETS)


def test_c4_preset_line_rules_doc_gates_lang_and_dedup(spark):
    rows = [
        # junk lines (no terminal punct / <5 words / javascript) stripped,
        # doc survives on its 4 clean sentences
        ("https://a.example.com/1",
         [SENT[0], "click here now", SENT[1],
          "Please enable javascript to view this page today.",
          SENT[2], SENT[3]]),
        ("https://a.example.com/1-copy", list(SENT)),
        # lorem-ipsum doc gate
        ("https://b.example.com/lorem",
         ["This template is filled with lorem ipsum placeholder content today."]
         + SENT[:3]),
        # under 3 kept lines
        ("https://c.example.com/short", SENT[:2]),
        # non-english (french stopwords) — langid gate drops it
        ("https://d.example.com/fr",
         ["Le conseil du port a approuvé le budget de dragage pour la saison.",
          "Les habitants ont exprimé des inquiétudes sur le bruit des travaux.",
          "La fermeture de la rampe est du port a été discutée avant le vote."]),
    ]
    out = {r["url"]: r["text"] for r in
           corpus_pipeline_preset(_html_pages(spark, rows), "c4").collect()}
    # exact dedup collapsed the pair (both clean to identical text, min url
    # wins); junk lines are gone from the survivor
    assert set(out) == {"https://a.example.com/1"}
    assert out["https://a.example.com/1"] == "\n".join(SENT)
    assert "javascript" not in out["https://a.example.com/1"]


def test_gopher_preset_repetition_and_neardup(spark):
    rows = [
        ("https://a.example.com/1", " ".join(SENT)),
        ("https://b.example.com/near", " ".join(SENT) + " One extra closing sentence was appended here."),
        ("https://spam.example.com/2", "buy this now " * 60),
        ("https://c.example.com/3",
         "Quarterly snowfall totals across the northern ridge exceeded the "
         "historical median while wind crusting limited the usable depth "
         "reported by the avalanche survey teams over this long winter."),
    ]
    out = {r["url"] for r in
           corpus_pipeline_preset(_pages(spark, rows), "gopher").collect()}
    assert "https://spam.example.com/2" not in out       # repetition gate
    assert "https://b.example.com/near" not in out       # 0.8-jaccard dedup
    assert {"https://a.example.com/1", "https://c.example.com/3"} <= out


def test_ccnet_preset_is_multilingual_and_paragraph_dedups(spark):
    boiler = "Subscribe to the newsletter for weekly updates from our editors."
    rows = [
        ("https://a.example.com/1", [SENT[0], boiler]),
        ("https://b.example.com/2", [SENT[1], boiler]),
        ("https://d.example.com/fr",
         ["Le conseil du port a approuvé le budget de dragage pour la saison."]),
    ]
    out = {
        r["url"]: r["text"]
        for r in corpus_pipeline_preset(_html_pages(spark, rows), "ccnet").collect()
    }
    # no language gate: the french doc survives
    assert "https://d.example.com/fr" in out
    # the shared paragraph keeps its first occurrence only
    n_boiler = sum(boiler in t for t in out.values())
    assert n_boiler == 1 and boiler in out["https://a.example.com/1"]


def test_fineweb_preset_with_wordlist_override(spark):
    flagged = "zorblax"
    rows = [
        ("https://a.example.com/1", list(SENT)),
        ("https://b.example.com/flagged",
         [s[:-1] + f" {flagged} {flagged} {flagged}." for s in SENT]),
    ]
    out = {r["url"] for r in corpus_pipeline_preset(
        _html_pages(spark, rows), "fineweb",
        flagged_wordlist=[flagged], flagged_max_ratio=0.05,
    ).collect()}
    assert out == {"https://a.example.com/1"}


def test_fineweb_preset_rerun_compiles_no_class(spark):
    """One fineweb pass generates more Java classes than Spark's default
    codegen cache holds (``spark.sql.codegen.cache.maxEntries``, 100, LRU),
    so at that default every rerun in the session recompiles all of them
    (about 350 compilations here). ``get_spark`` sizes the cache above the
    pass: a second run of the same plan compiles nothing. The planted
    near-dup cluster makes the connected-components rounds run.

    AQE is off for this test only: AQE re-plans joins from whichever stage
    statistics arrive first, so with it on a rerun now and then meets a
    plan variant (a few classes) that no earlier run compiled. The static
    plan makes "compiles nothing" exact."""
    from final_ocr_spark.session import CODEGEN_CACHE_ENTRIES

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES)
    more = [
        "The port authority published the revised tide tables for the autumn months.",
        "Local fishermen welcomed the longer hours at the fuel dock near the pier.",
        "The ferry operator added two evening crossings for the busy summer weekends.",
    ]
    rows = [(f"https://n{i}.example.com/near", [f"{w} {SENT[0]}"] + SENT[1:] + more)
            for i, w in enumerate(["Today", "Yesterday", "Again"])]
    rows.append(("https://o.example.com/other", [
        "Quarterly snowfall totals across the northern ridge exceeded the usual median.",
        "Wind crusting limited the usable depth reported by the survey teams this week.",
        "The avalanche center raised its warning level for the upper slopes on Friday.",
        "Ski patrol closed the north bowl until the new snow had settled properly.",
    ]))
    pages = _html_pages(spark, rows)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def run():
        before = compiles.getCount()
        out = {r["url"] for r in
               corpus_pipeline_preset(pages, "fineweb").collect()}
        return out, compiles.getCount() - before

    aqe = "spark.sql.adaptive.enabled"
    was = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try:
        first, _ = run()
        again, n_compiled = run()
    finally:
        spark.conf.set(aqe, was)
    assert first == {"https://n0.example.com/near", "https://o.example.com/other"}
    assert again == first
    assert n_compiled == 0


def test_d4_preset_composes_kmeans_dedup_and_prune(spark):
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
    # hashed-unigram embeddings put the word-permuted paraphrase near its
    # base (threshold overridden down from the paper's 0.9 for the tiny
    # synthetic vectors); frac=0.4 bounds the prototype drops
    out = {r["url"] for r in corpus_pipeline_preset(
        _pages(spark, rows), "d4",
        semantic_threshold=0.4, semantic_k=2,
        prototype_prune_frac=0.4, prototype_k=2,
    ).collect()}
    assert len(out & {"https://a.example.com/base",
                      "https://b.example.com/reordered"}) <= 1
    assert 2 <= len(out) <= 3  # prune drops some but never the corpus


def test_lang_gate_on_declared_column_without_detection(spark):
    rows = [("https://a.example.com/1", " ".join(SENT)),
            ("https://b.example.com/2", " ".join(SENT) + " More words here.")]
    df = _pages(spark, rows, lang=["en", "fr"])
    out = {r["url"] for r in corpus_pipeline(
        df, lang_allow=("en",), gopher=False, redact=False, near_dup=False,
    ).collect()}
    assert out == {"https://a.example.com/1"}
    with pytest.raises(ValueError, match="lang_allow"):
        corpus_pipeline(df, lang_allow=())
