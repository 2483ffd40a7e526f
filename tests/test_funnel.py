"""Gate-funnel report (plans/funnel.py): planted corpus with one known
failure per gate; attribution (first-fail) vs overlap (any-fail) counts,
cumulative remaining math, null-text handling, plan shape (one aggregate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from final_ocr_spark.plans.funnel import gate_funnel

GOOD = ("the quick brown fox jumps over the lazy dog and then it runs far "
        "away into the green hills where a small river flows past the old "
        "stone bridge near the quiet village every single morning")


def _corpus(spark):
    rows = [
        ("g1", "en", GOOD),
        ("g2", "en", GOOD + " and the evening too with many other words"),
        ("lang1", "de", GOOD),                      # fails lang only
        ("spam1", "en", "buy now " * 80),           # gopher + compression
        ("word1", "en", GOOD + " badword"),         # wordlist only
        ("null1", "en", None),                      # fails quality/gopher/
        # compression; PASSES wordlist (ratio 0.0 — the pipeline's own
        # convention, which the funnel mirrors exactly)
    ]
    return spark.createDataFrame(rows, ["k", "lang", "text"])


def _funnel_dict(df):
    return {r["gate"]: r for r in df.collect()}


def test_funnel_attribution_and_overlap(spark):
    f = _funnel_dict(gate_funnel(
        _corpus(spark),
        lang_allow=("en",),
        min_quality=50.0,
        gopher=True,
        flagged_wordlist=["badword"],
        compression_band=(0.25, 0.95),
    ))
    # overlap view: each gate judged independently
    assert f["lang"]["n_failed_any"] == 1
    assert f["gopher"]["n_failed_any"] == 2          # spam1 + null1
    assert f["wordlist"]["n_failed_any"] == 1        # word1 (null passes:
    # flagged_token_ratio(NULL) is 0.0 in the pipeline's wordlist_gate too)
    assert f["compression"]["n_failed_any"] == 2     # spam1 + null1
    # attribution view: first failing gate in pipeline order
    assert f["lang"]["n_failed_first"] == 1          # lang1
    assert f["quality"]["n_failed_first"] == 1       # null1 (first text gate)
    assert f["gopher"]["n_failed_first"] == 1        # spam1
    assert f["wordlist"]["n_failed_first"] == 1      # word1
    assert f["compression"]["n_failed_first"] == 0   # its victims died earlier
    # cumulative remaining: first-fails sum to total - kept
    assert f["kept"]["remaining"] == 2
    firsts = sum(r["n_failed_first"] for r in f.values())
    assert firsts == 6 - f["kept"]["remaining"]


def test_funnel_compression_overlap_includes_good_short_docs(spark):
    """The count asserted loosely above, pinned: which docs fail the band
    independently (spam over-compresses; null has no signal; GOOD-length
    prose sits inside the band)."""
    df = _corpus(spark).withColumn(
        "r",
        F.lit(None).cast("double"),
    )
    f = _funnel_dict(gate_funnel(
        _corpus(spark), lang_allow=None, min_quality=None, gopher=False,
        compression_band=(0.25, 0.95),
    ))
    assert f["compression"]["n_failed_any"] == f["compression"]["n_failed_first"]
    assert f["kept"]["remaining"] == 6 - f["compression"]["n_failed_first"]


def test_funnel_extra_gates_and_order(spark):
    f = gate_funnel(
        _corpus(spark), lang_allow=None, min_quality=None, gopher=False,
        extra_gates={"has_k": F.col("k").isNotNull(),
                     "short": F.length("text") < 10**6},
    )
    gates = [r["gate"] for r in f.collect()]
    assert gates == ["has_k", "short", "kept"]


def test_funnel_matches_pipeline_gate_semantics(spark):
    """The funnel reports on corpus_pipeline's gates, so its predicates must
    be the pipeline's EXACTLY — empty-string text passes the gopher checks
    vacuously and scores 62.5 on quality (both above the default bar), so
    a funnel that fails empty text on those gates would mis-attribute
    drops relative to the pipeline it claims to describe."""
    docs = spark.createDataFrame(
        [("e1", "en", ""), ("g1", "en", GOOD), ("n1", "en", None)],
        ["k", "lang", "text"],
    )
    f = _funnel_dict(gate_funnel(docs, min_quality=50.0, gopher=True))
    # empty text survives both gates (like the pipeline's filters); only
    # the NULL doc drops (quality 12.5, first text gate in order)
    assert f["quality"]["n_failed_any"] == 1
    assert f["gopher"]["n_failed_any"] == 1          # NULL verdict = fail
    assert f["quality"]["n_failed_first"] == 1
    assert f["kept"]["remaining"] == 2

    # differential vs the pipeline's own gate layer: the funnel keeps what
    # the cascade keeps, here and on the cascade tests' corpus (docs that
    # fail each gate, an undeclared lang, empty and NULL text)
    from final_ocr_spark.operators.gates import gate_cascade
    from tests.test_pipeline import _gate_corpus

    gate_corpus = spark.createDataFrame(
        _gate_corpus(),
        "url string, warc_ts timestamp, text string, lang string, host string",
    )
    for corpus, kw in (
        (docs, dict(lang_allow=None, min_quality=50.0, gopher=True)),
        (gate_corpus, dict(lang_allow=("en",), min_quality=50.0, gopher=True)),
        (gate_corpus, dict(lang_allow=("en", "de"), min_quality=80.0,
                           gopher=False)),
    ):
        kept = _funnel_dict(gate_funnel(corpus, **kw))["kept"]["remaining"]
        assert kept == gate_cascade(corpus, **kw).count(), kw


def test_funnel_extra_gate_names_with_metacharacters(spark):
    """extra_gates names are caller-supplied strings, not column references:
    a dotted name must not be parsed as a nested-field reference anywhere in
    the two-stage aggregation (regression: the partial-agg refactor briefly
    aliased partials by gate name and re-referenced them with F.sum(str),
    which raised UNRESOLVED_COLUMN `_any_my`.`gate` for name='my.gate')."""
    f = _funnel_dict(gate_funnel(
        _corpus(spark), lang_allow=None, min_quality=None, gopher=False,
        extra_gates={
            "my.gate": F.col("text").isNotNull(),
            "weird`name": F.length("text") < 10**6,
        },
    ))
    assert f["my.gate"]["n_failed_any"] == 1           # null1
    # overlap view judges gates independently: length(NULL) is NULL, and a
    # NULL keep-verdict counts as failed, so null1 fails this gate too —
    # but attribution charges it to my.gate, which comes first
    assert f["weird`name"]["n_failed_any"] == 1
    assert f["weird`name"]["n_failed_first"] == 0
    assert f["kept"]["remaining"] == 5


def test_funnel_requires_a_gate(spark):
    with pytest.raises(ValueError, match="no gates"):
        gate_funnel(_corpus(spark), lang_allow=None, min_quality=None,
                    gopher=False)


def test_funnel_is_one_pass_no_shuffle(spark):
    """Plan shape of the REAL funnel aggregation (_funnel_agg): no join, no
    window, no data shuffle — only the SinglePartition exchange carrying
    one partial row per partition — and the heavy gate expressions stay in
    a projection SEPARATE from the aggregate, evaluated once per row
    (Catalyst would otherwise re-inline them into every first-fail term;
    measured 17× slower warm)."""
    from final_ocr_spark.operators.repetition import gopher_repetition_checks
    from final_ocr_spark.operators.text_stats import quality_score
    from final_ocr_spark.plans.funnel import _funnel_agg
    from tests.spec_forms import repetition_features

    docs = _corpus(spark)
    gopher_spec = F.lit(True)
    for check in gopher_repetition_checks(
        repetition_features(F.col("text"))
    ).values():
        gopher_spec = gopher_spec & check
    gates = [
        ("quality", quality_score(F.col("text")) >= 50.0),
        ("gopher", gopher_spec),
    ]
    agg = _funnel_agg(docs, gates)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Window" not in plan
    # two exchanges, both carrying O(#partitions) partial-agg rows (pid
    # hash + SinglePartition) — never corpus data
    assert plan.count("Exchange") <= 2 and "SinglePartition" in plan
    # the heavy gate folds (zip_with/aggregate HOFs) live ONLY below the
    # last exchange — in the once-per-row flag projection, never
    # re-inlined into the upper aggregate stages
    upper = plan.rsplit("Exchange", 1)[0]
    assert "zip_with" not in upper and "transform(" not in upper
    # and the numbers agree with the straightforward slow form
    row = agg.collect()[0]
    slow_any = docs.filter(
        ~F.coalesce(gates[1][1], F.lit(False))
    ).count()
    assert row["_any_gopher"] == slow_any

    # empty corpus: zero rows aggregate to zeros, not NULLs
    empty = _funnel_agg(docs.limit(0), gates).collect()[0]
    assert (empty["_total"], empty["_any_quality"]) == (0, 0)
