"""Text-analysis operators for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting. All Column-expression
(JVM/codegen) except language ID, which wraps the pure-Python n-gram heuristic
in an Arrow-batched pandas UDF.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# pinned quality lexicon (deterministic; English function words)
_STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "that", "it",
              "for", "on", "with", "as", "at", "by")


def tokens(text_col) -> Column:
    """Whitespace tokens (array<string>)."""
    arr = F.split(F.trim(text_col), r"\s+")
    return F.filter(arr, lambda t: t != "")


def token_count(text_col) -> Column:
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col) -> Column:
    """Sub-word-ish token count: splits on whitespace AND punctuation AND
    letter/digit boundaries — a cheap deterministic proxy for BPE token
    counts (≈1.3× whitespace tokens on English prose)."""
    pieces = F.split(
        F.regexp_replace(text_col, r"([0-9]+|[^\w\s]+)", r" $1 "), r"\s+"
    )
    return F.size(F.filter(pieces, lambda t: t != ""))


def quality_features(text_col) -> dict[str, Column]:
    """Deterministic quality signals (generalizes the reference's
    completeness scoring V9): length, punctuation ratio, stopword ratio,
    mean word length, uppercase ratio, digit ratio."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*_STOPWORDS)))
    n_punct = F.length(F.regexp_replace(text_col, r"[^!-/:-@\[-`{-~]", ""))
    n_upper = F.length(F.regexp_replace(text_col, r"[^A-Z]", ""))
    n_digit = F.length(F.regexp_replace(text_col, r"[^0-9]", ""))
    safe_tok = F.greatest(n_tok, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "stopword_ratio": n_stop / safe_tok,
        "punct_ratio": n_punct / safe_chars,
        "upper_ratio": n_upper / safe_chars,
        "digit_ratio": n_digit / safe_chars,
        "mean_word_len": (n_chars - n_tok + 1) / safe_tok,
    }


def quality_score(text_col) -> Column:
    """Composite [0,100] quality score — each signal gated into a pass/fail
    band (Gopher-style heuristics, deterministic thresholds)."""
    f = quality_features(text_col)
    checks = [
        f["n_tokens"] >= 20,
        f["n_tokens"] <= 100000,
        f["mean_word_len"] >= 2.0,
        f["mean_word_len"] <= 12.0,
        f["stopword_ratio"] >= 0.01,
        f["punct_ratio"] <= 0.30,
        f["upper_ratio"] <= 0.30,
        f["digit_ratio"] <= 0.30,
    ]
    total = None
    for c in checks:
        t = F.when(c, 1).otherwise(0)
        total = t if total is None else total + t
    return F.round(total * F.lit(100.0 / len(checks)), 1)


_JS_WS_RUN = re.compile("[ \t\n\x0b\x0c\r]+")  # Java \s
# char-class counts via C-level str.translate deletion (one pass per class)
# instead of a per-character Python loop — the three classes are disjoint,
# so delete-and-diff equals an elif chain
_DEL_PUNCT = str.maketrans("", "", "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~")
_DEL_UPPER = str.maketrans("", "", "ABCDEFGHIJKLMNOPQRSTUVWXYZ")
_DEL_DIGIT = str.maketrans("", "", "0123456789")
_STOPSET = frozenset(_STOPWORDS)


def quality_score_py(t) -> float:
    """:func:`quality_score` of one document in plain Python — the kernel
    that :func:`quality_score_udf` and the corpus gate cascade
    (operators/gates.py) both call.

    Semantics notes that make the kernel EXACT, not approximate:

    * ``F.trim`` strips SPACE (U+0020) only; Java ``\\s`` is the ASCII set
      ``[ \\t\\n\\x0b\\f\\r]`` (NBSP et al. are token characters in both
      forms) — both spelled out here;
    * the char-class counts are ASCII-exact: punctuation is the three
      ranges ``!-/ :-@ [-` {-~``, upper is ``A-Z``, digit is ``0-9`` —
      Unicode uppercase/digits do NOT count, same as the Column form;
    * ``F.length`` counts code points, as Python ``len`` does;
    * a NULL text scores 12.5 in the Column form — ``size(null)`` is -1,
      so exactly one check (``n_tokens <= 100000``) passes while every
      null-propagating comparison falls to its ``otherwise(0)`` — and the
      kernel pins that artifact rather than inventing a prettier answer;
    * the score grid is multiples of 12.5 (exactly representable), so the
      trailing round(·, 1) can never tie-break differently."""
    if not isinstance(t, str):
        return 12.5  # the Column form's size(null) = -1 artifact
    toks = [w for w in _JS_WS_RUN.split(t.strip(" ")) if w]
    n_tok, n_chars = len(toks), len(t)
    n_stop = sum(1 for w in toks if w.lower() in _STOPSET)
    n_punct = n_chars - len(t.translate(_DEL_PUNCT))
    n_upper = n_chars - len(t.translate(_DEL_UPPER))
    n_digit = n_chars - len(t.translate(_DEL_DIGIT))
    st = max(n_tok, 1)
    sc = max(n_chars, 1)
    mean_wl = (n_chars - n_tok + 1) / st
    checks = (
        n_tok >= 20,
        n_tok <= 100000,
        mean_wl >= 2.0,
        mean_wl <= 12.0,
        n_stop / st >= 0.01,
        n_punct / sc <= 0.30,
        n_upper / sc <= 0.30,
        n_digit / sc <= 0.30,
    )
    return round(sum(checks) * 12.5, 1)


def quality_score_udf():
    """Arrow-batched twin of :func:`quality_score` — same verdict, computed
    by :func:`quality_score_py` per batch instead of four full-text regex
    passes plus a per-token interpreted ``isin`` fold (the gopher-gate
    playbook applied to the second-densest scan-local gate; measured ~7× on
    the bench corpus). Bit-equality is pinned by a differential test over
    adversarial whitespace/unicode corpora (tests/test_text_stats.py).

    Deferred factory (module-level ``@pandas_udf`` needs a session)."""

    @pandas_udf("double")
    def score(texts: pd.Series) -> pd.Series:
        return texts.map(quality_score_py)

    return score


def detect_lang_udf():
    """Arrow-batched language ID wrapping the pure-Python heuristic
    (final_ocr_spark.extract.langid). Deferred factory — a module-level
    ``@pandas_udf`` resolves its return-type string at import, which
    requires an active SparkSession."""

    @pandas_udf("string")
    def detect(texts: pd.Series) -> pd.Series:
        from final_ocr_spark.extract.langid import detect_lang

        return texts.map(lambda t: detect_lang(t) if isinstance(t, str) else "und")

    return detect


def fingerprint64(text_col) -> Column:
    """64-bit whole-document fingerprint of normalized text (exact-dup key)."""
    return F.xxhash64(F.lower(F.regexp_replace(text_col, r"\s+", " ")))


def profile_documents(df: DataFrame, text_col: str = "text", lang_col: str | None = None) -> DataFrame:
    """One-pass document profile: every quality feature + score + token
    counts + fingerprint (+ detected language when no lang column exists)."""
    feats = quality_features(F.col(text_col))
    cols = [df["*"]]
    for name, c in feats.items():
        cols.append(F.round(c, 6).alias(name))
    cols.append(quality_score(F.col(text_col)).alias("quality_score"))
    cols.append(bpe_ish_token_count(F.col(text_col)).alias("n_subword_tokens"))
    cols.append(fingerprint64(F.col(text_col)).alias("fingerprint"))
    cols.append(
        F.round(flesch_reading_ease(F.col(text_col)), 2).alias("flesch")
    )
    from final_ocr_spark.operators.script import dominant_script

    cols.append(dominant_script(F.col(text_col)).alias("script"))
    if lang_col is None:
        cols.append(detect_lang_udf()(F.col(text_col)).alias("lang_detected"))
    return df.select(*cols)


def tf_idf_top_terms(
    df: DataFrame, key: str, text_col: str = "text", k: int = 5,
    min_doc_freq: int = 1,
) -> DataFrame:
    """Per-document top-k terms by TF-IDF → (key, term, tf, doc_freq,
    tf_idf, rank).

    Plan shape (codegen splits + explode, two small shuffles plus one
    1-row count at ANY corpus size, fully lazy): term counts come from
    explode → partial/final hash aggregation keyed by (doc, term);
    document frequencies aggregate the SAME rows a second time keyed by
    term only (map-side combine keeps both shuffles at distinct-key
    cardinality, never token cardinality); the corpus document count
    enters as a 1-row aggregate cross-joined in (broadcast, no driver
    action — the input plan is never executed twice); idf joins back on
    term — a dimension-sized side Spark broadcasts under AQE. Top-k is a
    per-doc window over ≤|vocab ∩ doc| rows.

    Scoring (pinned, engine-independent): tf = count in doc;
    idf = ln((N + 1) / (doc_freq + 1)) + 1 (the smoothed form —
    never divides by zero, never goes negative); tf_idf = tf · idf.
    Tokenization is ``dedup.sketch_words`` — THE single canonical
    definition shared with gram hashes, decontamination, and the vocab
    query, so tf-idf terms join those tables without desync (lowercase,
    punctuation runs → space; Unicode letters survive).
    Deterministic tie-break: (tf_idf DESC, term ASC).
    """
    from pyspark.sql import Window

    from final_ocr_spark.operators.dedup import sketch_words

    reserved = {"term", "tf", "doc_freq", "tf_idf", "rank"}
    if key in reserved:
        raise ValueError(f"key column name collides with an output column: {key!r}")

    terms = df.select(
        F.col(key).alias("_k"),
        F.explode(sketch_words(F.col(text_col))).alias("term"),
    )
    tf = terms.groupBy("_k", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.countDistinct(key).alias("_n"))
    dfreq = (
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_doc_freq)
    )
    idf = F.log((F.col("_n") + 1.0) / (F.col("doc_freq") + 1.0)) + 1.0
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n_docs)).select(
        "_k", "term", "tf", "doc_freq",
        (F.col("tf") * idf).alias("tf_idf"),
    )
    w = Window.partitionBy("_k").orderBy(F.col("tf_idf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_k").alias(key), "term", "tf", "doc_freq",
                F.round("tf_idf", 9).alias("tf_idf"), "rank")
    )


def syllable_count(word_col) -> Column:
    """Column: estimated syllables in ONE word — vowel-group counting with
    the standard silent-'e' adjustment (the heuristic every readability
    library uses; exact syllabification needs a dictionary). Minimum 1 for
    any word containing a letter."""
    col = word_col if isinstance(word_col, Column) else F.col(word_col)
    w = F.lower(col)
    groups = F.size(
        F.filter(F.split(w, r"[^aeiouy]+"), lambda s: s != "")
    )
    silent_e = (
        w.rlike(r"[^aeiouy]e$") & ~w.rlike(r"(le|re)$")
    ).cast("int")
    has_letter = w.rlike(r"[a-z]")
    return F.when(
        has_letter, F.greatest(groups - silent_e, F.lit(1))
    ).otherwise(F.lit(0))


def flesch_reading_ease(text_col, sample_chars: int = 8192) -> Column:
    """Column: Flesch Reading Ease — 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words). Higher = easier; English prose lands ~30-80,
    word salad and SEO keyword stuffing land far outside. Composes the
    engine's own sentence splitter and tokenizer; everything is Column
    arithmetic (the aggregate-over-array syllable sum is an interpreted
    HOF on an already-materialized array — no re-evaluation blowup).
    Computed over the first ``sample_chars`` characters: the per-token
    syllable fold is interpreted, so cost must stay flat per row (the
    same head-sample bound the script detector uses); readability is a
    ratio statistic and stabilizes within a couple of KB of prose.
    Null/empty text → null."""
    from final_ocr_spark.operators.sentences import sentence_count

    col = text_col if isinstance(text_col, Column) else F.col(text_col)
    text_col = F.substring(col, 1, sample_chars)
    toks = tokens(text_col)
    n_words = F.size(F.filter(toks, lambda t: t.rlike(r"[A-Za-z]")))
    n_sents = F.greatest(sentence_count(text_col), F.lit(1))
    n_syll = F.aggregate(
        toks, F.lit(0),
        lambda acc, t: acc + syllable_count(t),
    )
    return F.when(
        n_words > 0,
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sents)
        - F.lit(84.6) * (n_syll / n_words),
    ).otherwise(F.lit(None).cast("double"))


def flagged_token_ratio(text_col, wordlist: list[str]) -> Column:
    """Column: fraction of tokens whose lowercase form is in ``wordlist`` —
    the classic blocklist signal (UT1-style adult/toxicity lists, spam
    vocabularies; the list is caller-supplied policy, never baked in).
    Small lists inline as an `isin` literal set (codegen); use
    ``wordlist_gate`` for the operator form with thresholds."""
    if not wordlist:
        raise ValueError("wordlist must be non-empty")
    wl = sorted({w.lower() for w in wordlist})
    toks = tokens(text_col)
    n = F.size(toks)
    # strip leading/trailing punctuation before comparing: clause-final
    # occurrences ('word.', 'word,') must match, or the gate systematically
    # undercounts (review-caught). (?U): curly quotes etc. are \W only
    # under Unicode classes.
    flagged = F.size(F.filter(
        toks,
        lambda t: F.lower(
            F.regexp_replace(t, r"(?U)^\W+|\W+$", "")
        ).isin(*wl),
    ))
    return F.when(n > 0, flagged / n).otherwise(F.lit(0.0))


def wordlist_gate(
    docs,
    wordlist: list[str],
    text_col: str = "text",
    max_ratio: float = 0.01,
    ratio_col: str | None = None,
):
    """Filter docs whose flagged-token ratio exceeds ``max_ratio`` (keep
    rows at or under). Scan-local Column work, composes anywhere in the
    pipeline; pass ``ratio_col`` to also keep the signal as a column for
    audit instead of silently dropping."""
    r = flagged_token_ratio(F.col(text_col), wordlist)
    if ratio_col is not None:
        docs = docs.withColumn(ratio_col, r)
        return docs.filter(F.col(ratio_col) <= F.lit(float(max_ratio)))
    return docs.filter(r <= F.lit(float(max_ratio)))


def compression_ratio_udf(level: int = 6, sample_bytes: int = 65536):
    """Arrow-batched zlib compression ratio — compressed size / raw UTF-8
    size of the first ``sample_bytes`` bytes. The Gopher/RefinedWeb
    "natural-language-ness" signal the Column-side features can't express:
    template spam and boilerplate compress far below prose (ratio → 0.1),
    English prose lands ~0.3-0.6, and random/encoded noise barely
    compresses at all (→ 1.0). Both tails are quality failures, so
    consumers gate on a BAND (see :func:`compression_band_gate`), not a
    single threshold.

    Deferred factory like :func:`detect_lang_udf` (a module-level
    ``@pandas_udf`` needs an active session at import).

    Scale shape: one Arrow batch stage, no shuffle, composes into the
    extraction scan's projection. Cost is bounded per row by
    ``sample_bytes`` (zlib is O(n) but 100-TB corpora contain multi-MB
    outliers; the ratio statistic stabilizes within a few KB, the same
    head-sample argument flesch_reading_ease documents). DEFLATE output
    for a fixed level is deterministic for a given zlib build, and the
    gate thresholds are coarse (±0.02 slack vs any zlib version ever
    shipped), so results are stable across clusters in practice; the
    pure-Python twin in the tests pins the UDF plumbing bit-for-bit."""

    @pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if not isinstance(t, str) or not t:
                return None
            b = t.encode("utf-8")[:sample_bytes]
            if not b:
                return None
            return len(zlib.compress(b, level)) / len(b)

        return texts.map(one)

    return ratio


def compression_band_gate(
    docs,
    text_col: str = "text",
    lo: float = 0.20,
    hi: float = 0.95,
    ratio_col: str | None = None,
    level: int = 6,
):
    """Keep docs whose compression ratio lies in [``lo``, ``hi``] — drops
    the repetitive/template tail (below ``lo``) AND the noise/encoded tail
    (above ``hi``) in one pass. Null/empty text fails the gate (no signal
    ≠ clean). ``ratio_col`` keeps the signal as an audit column, the
    wordlist_gate convention."""
    if not 0.0 <= lo <= hi <= 2.0:
        raise ValueError(f"need 0 <= lo <= hi, got lo={lo} hi={hi}")
    r = compression_ratio_udf(level=level)(F.col(text_col))
    if ratio_col is not None:
        docs = docs.withColumn(ratio_col, r)
        r = F.col(ratio_col)
        return docs.filter(r.isNotNull() & (r >= lo) & (r <= hi))
    docs = docs.withColumn("_cr", r)
    return (
        docs.filter(
            F.col("_cr").isNotNull() & (F.col("_cr") >= lo) & (F.col("_cr") <= hi)
        ).drop("_cr")
    )
