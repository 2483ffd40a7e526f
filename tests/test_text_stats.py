"""Text-analysis operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_token_counts(spark):
    from final_ocr_spark.operators.text_stats import bpe_ish_token_count, token_count

    df = spark.createDataFrame([("the cat sat, on 42 mats!",), ("",)], ["t"])
    got = df.select(
        token_count(F.col("t")).alias("ws"),
        bpe_ish_token_count(F.col("t")).alias("sub"),
    ).collect()
    assert got[0]["ws"] == 6
    assert got[0]["sub"] > got[0]["ws"]  # punctuation/digit splits add tokens
    assert got[1]["ws"] == 0 and got[1]["sub"] == 0


def test_quality_score_ranks_prose_over_junk(spark):
    from final_ocr_spark.operators.text_stats import quality_score

    prose = ("The quick brown fox jumps over the lazy dog and then walks to "
             "the river where it drinks some of the cold water in the morning "
             "light before returning to the den for a rest.")
    junk = "$$$ !!! ### 111 222 @@@ %%% ^^^ &&& *** ((( )))" * 3
    df = spark.createDataFrame([(prose,), (junk,)], ["t"])
    got = [r["q"] for r in df.select(quality_score(F.col("t")).alias("q")).collect()]
    assert got[0] > got[1]
    assert got[0] >= 87.0


def test_quality_score_udf_bit_equals_column_form(spark):
    """The Arrow twin must return the EXACT score of the Column form on an
    adversarial corpus: every Java-\\s whitespace char, NBSP (a token char
    in both forms), empty/blank/NULL text, ASCII punct/upper/digit edges,
    unicode uppercase and digits (which must NOT count), threshold-straddling
    token counts and word lengths."""
    from final_ocr_spark.operators.text_stats import (
        quality_score,
        quality_score_py,
        quality_score_udf,
    )

    word = "the quick brown fox jumps over a lazy dog near the old bridge "
    rows = [
        (0, None),
        (1, ""),
        (2, " \t\n\x0b\x0c\r "),
        (3, "\xa0\xa0\xa0"),                      # NBSP: one 3-char token
        (4, word * 3),                            # past the 20-token bar
        (5, "x " * 19),                           # 19 tokens (below bar)
        (6, "x " * 20),                           # exactly 20
        (7, "!!!??? ##$$%% " * 30),               # punct-heavy
        (8, "ABC DEF GHI JKL " * 30),             # upper-heavy
        (9, "123 456 789 000 " * 30),             # digit-heavy
        (10, "ÄÖÜ ЖЩФ ΔΘΛ " * 30),                # unicode upper: NOT [A-Z]
        (11, "١٢٣ ४५६ 七八九 " * 30),               # unicode digits: NOT [0-9]
        (12, "supercalifragilistic " * 25),       # long words (mean_wl > 12)
        (13, "a b c d e f g h i j k l m n o p q r s t u v"),  # mean_wl 1
        (14, "\tthe\ttabbed\ttokens\tsurvive\ttrim\t" + word * 2),
        (15, word * 2 + "\r\n" + word),
    ]
    df = spark.createDataFrame(rows, "i long, text string")
    got = {
        r["i"]: (r["col"], r["udf"])
        for r in df.select(
            "i",
            quality_score(F.col("text")).alias("col"),
            quality_score_udf()(F.col("text")).alias("udf"),
        ).collect()
    }
    for i, (c, u) in sorted(got.items()):
        assert c == u, (i, c, u, rows[i][1][:40] if rows[i][1] else rows[i][1])
        # the kernel the gate cascade calls directly, outside any UDF
        assert quality_score_py(rows[i][1]) == c, i
    assert got[0] == (12.5, 12.5)  # the pinned size(null) artifact
    assert got[1][0] == 62.5


def test_detect_lang_udf(spark):
    from final_ocr_spark.operators.text_stats import detect_lang_udf

    df = spark.createDataFrame(
        [("the cat sat on the mat and it was happy with all of this",),
         ("el perro y el gato en la casa de los abuelos por la tarde",)],
        ["t"],
    )
    got = [r["l"] for r in df.select(detect_lang_udf()(F.col("t")).alias("l")).collect()]
    assert got == ["en", "es"]


def test_profile_documents(spark):
    from final_ocr_spark.operators.text_stats import profile_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    prof = profile_documents(docs, text_col="text", lang_col="lang")
    rows = prof.collect()
    assert len(rows) == 50
    cols = set(prof.columns)
    assert {"quality_score", "n_tokens", "fingerprint", "stopword_ratio"} <= cols
    assert all(0 <= r["quality_score"] <= 100 for r in rows)


def test_syllable_and_flesch(spark):
    """Syllable heuristic vs a pure-Python twin; Flesch orders simple prose
    above dense academic prose; degenerate inputs behave."""
    import re

    import pyspark.sql.functions as F

    from final_ocr_spark.operators.text_stats import (
        flesch_reading_ease,
        syllable_count,
    )

    def py_syllables(word):
        w = word.lower()
        if not re.search(r"[a-z]", w):
            return 0
        groups = len([g for g in re.split(r"[^aeiouy]+", w) if g])
        silent = 1 if (re.search(r"[^aeiouy]e$", w)
                       and not re.search(r"(le|re)$", w)) else 0
        return max(groups - silent, 1)

    words = ["cat", "table", "make", "syllable", "readability", "the",
             "queue", "rhythm", "fire", "123", "!?", "acre"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {r["w"]: r["n"] for r in df.select(
        "w", syllable_count("w").alias("n")).collect()}
    for w in words:
        assert got[w] == py_syllables(w), (w, got[w], py_syllables(w))
    assert got["cat"] == 1 and got["make"] == 1 and got["table"] == 2

    simple = ("The cat sat on the mat. The dog ran to the park. "
              "We like to play all day. It is fun in the sun.")
    dense = ("Notwithstanding institutional heterogeneity, epistemological "
             "considerations necessitate comprehensive multidimensional "
             "reconceptualization of organizational phenomenology.")
    rows = spark.createDataFrame(
        [("simple", simple), ("dense", dense), ("empty", ""), ("null", None)],
        ["k", "t"],
    ).select("k", flesch_reading_ease("t").alias("f")).collect()
    f = {r["k"]: r["f"] for r in rows}
    assert f["simple"] > 75          # easy prose
    assert f["dense"] < 0            # word-salad academic pileup
    assert f["simple"] > f["dense"]
    assert f["empty"] is None and f["null"] is None


def test_wordlist_gate(spark):
    from final_ocr_spark.operators.text_stats import (
        flagged_token_ratio,
        wordlist_gate,
    )

    wl = ["casino", "jackpot", "FreeSpins"]
    rows = [
        ("clean", "a perfectly ordinary document about cooking pasta well"),
        ("spam", "casino casino jackpot freespins casino jackpot win now"),
        ("mild", "one casino mention in twenty other perfectly normal "
                 "words about travel plans and museum visits this summer"),
        ("empty", ""),
    ]
    df = spark.createDataFrame(rows, ["k", "text"])
    ratios = {r["k"]: r["r"] for r in df.select(
        "k", flagged_token_ratio("text", wl).alias("r")).collect()}
    assert ratios["clean"] == 0.0
    assert ratios["spam"] > 0.5
    assert 0.0 < ratios["mild"] < 0.1
    assert ratios["empty"] == 0.0

    kept = {r["k"] for r in wordlist_gate(df, wl, max_ratio=0.1).collect()}
    assert kept == {"clean", "mild", "empty"}
    audited = wordlist_gate(df, wl, max_ratio=0.1, ratio_col="flag_ratio")
    assert "flag_ratio" in audited.columns

    import pytest as _pt

    with _pt.raises(ValueError):
        flagged_token_ratio("text", [])


def test_wordlist_matches_through_punctuation(spark):
    # review-caught: clause-final occurrences ('word.', "word,”") must match
    from final_ocr_spark.operators.text_stats import flagged_token_ratio

    df = spark.createDataFrame(
        [("every casino. mention jackpot, ends “freespins.” with punct",)],
        ["text"],
    )
    r = df.select(
        flagged_token_ratio("text", ["casino", "jackpot", "freespins"])
        .alias("r")).first()["r"]
    assert r == 3 / 8
