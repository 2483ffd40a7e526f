"""Gopher repetition signals + C4 line cleaning — hand-computed goldens."""

from pyspark.sql import functions as F

from final_ocr_spark.operators.repetition import c4_features, gopher_keep
from tests.spec_forms import repetition_features, run_stats, word_ngrams, words_of


def _one(spark, text, cols):
    df = spark.createDataFrame([(text,)], ["text"])
    return df.select(*[c.alias(k) for k, c in cols.items()]).collect()[0].asDict()


def test_run_stats_basic(spark):
    df = spark.createDataFrame([(["b", "a", "b", "c", "b", "a"],)], ["arr"])
    r = df.select(run_stats(F.col("arr")).alias("s")).collect()[0]["s"].asDict()
    # sorted: a a b b b c → dup: a(2×1)+b(3×1)=5 chars; best run b:3 → 3 chars
    assert r == {"dup_chars": 5, "best_run": 3, "best_chars": 3}


def test_run_stats_empty_and_singleton(spark):
    df = spark.createDataFrame([([],), (["xyz"],)], "arr: array<string>")
    rows = [r["s"].asDict() for r in df.select(run_stats(F.col("arr")).alias("s")).collect()]
    assert rows[0] == {"dup_chars": 0, "best_run": 0, "best_chars": 0}
    assert rows[1] == {"dup_chars": 0, "best_run": 1, "best_chars": 3}


def test_run_stats_tie_breaks_lexicographically_smallest(spark):
    # 'aa' and 'zz' both occur twice; best must be the smallest gram (aa)
    df = spark.createDataFrame([(["zz", "aa", "zz", "aa", "mm"],)], ["arr"])
    r = df.select(run_stats(F.col("arr")).alias("s")).collect()[0]["s"].asDict()
    assert r["best_run"] == 2 and r["best_chars"] == 4


def test_word_ngrams(spark):
    df = spark.createDataFrame([("one two three four",), ("a b",), ("solo",)], ["t"])
    out = df.select(word_ngrams(words_of(F.col("t")), 3).alias("g")).collect()
    assert out[0]["g"] == ["one two three", "two three four"]
    assert out[1]["g"] == []
    assert out[2]["g"] == []


def test_repetition_features_lines_and_paras(spark):
    text = "hello world.\nhello world.\n\n  hello   world.  \npad line here"
    f = _one(spark, text, repetition_features(F.col("text")))
    # lines: ['hello world.', 'hello world.', 'hello   world.', 'pad line here']
    assert f["n_lines"] == 4
    assert f["n_distinct_lines"] == 3
    assert f["dup_line_chars"] == 24  # 'hello world.' ×2 ×12 chars
    assert f["line_chars"] == 12 + 12 + 14 + 13
    # paragraphs (ws-collapsed): ['hello world. hello world.',
    #                             'hello world. pad line here']
    assert f["n_paras"] == 2
    assert f["n_distinct_paras"] == 2
    assert f["dup_para_chars"] == 0


def test_repetition_features_ngram_counts(spark):
    text = "x y x y x y"  # 2-grams: 'x y'×3, 'y x'×2
    f = _one(spark, text, repetition_features(F.col("text"), top_ns=(2,), dup_ns=(2,)))
    assert f["top2gram_chars"] == 9  # 'x y' 3 occurrences × 3 chars
    assert f["dup2gram_chars"] == 9 + 6  # both grams duplicated


def test_gopher_keep_flags():
    clean = " ".join(f"w{i}" for i in range(100))
    spam = "buy now " * 50
    assert gopher_keep(clean) is True
    assert gopher_keep(spam) is False


def test_c4_features(spark):
    text = ("This is a good long sentence.\n"
            "too short.\n"
            "no terminal punctuation here at all\n"
            "Please enable javascript to continue viewing.\n"
            "Another proper sentence with enough words!\n")
    f = _one(spark, text, c4_features(F.col("text")))
    assert f["n_lines"] == 5
    assert f["n_kept"] == 2
    assert f["clean_text"] == ("This is a good long sentence.\n"
                               "Another proper sentence with enough words!")
    assert not f["has_lorem"] and not f["has_curly"]
    assert f["doc_keep"] is False  # only 2 kept lines < 3


def test_c4_doc_flags(spark):
    ok = "One good sentence right here.\n" * 3 + "Lorem ipsum dolor sit amet."
    f = _one(spark, ok, c4_features(F.col("text")))
    assert f["has_lorem"] and f["doc_keep"] is False
    f2 = _one(spark, "Good sentence number one here.\n" * 4, c4_features(F.col("text")))
    assert f2["doc_keep"] is True


def test_c4_clean_bit_equal(spark):
    """The plain-Python C4 kernel the gate cascade calls must return the
    Column form's (doc_keep, clean_text) on every doc, at several
    min_lines: Java-\\s separators (\\x0b, \\f) against token characters
    (NBSP), CRLF and lone CR, trailing whitespace before a final Java line
    terminator (U+0085/U+2028/U+2029), JavaScript / LOREM IPSUM case
    variants including non-ASCII case folding, a '{' only in a dropped
    line, a quote as the terminal character, empty and NULL text."""
    import random

    from pyspark.sql import functions as SF

    from final_ocr_spark.operators.repetition import c4_clean

    five = "this line has five words"
    texts = [
        None, "", " ", "\n\n", "Five words right here now.",
        f"One\xa0two three four five.\nOne\x0btwo three four five.",
        f"{five}.\r\n{five}!\r\n{five}?\r{five}.",
        f"{five}.   \t\n  {five}!\x0c\n{five} .",
        f"{five}. \u2028\n{five}.\x85\n{five}.\u2029 \n{five} \u2028",
        f'He said "{five}"\n{five}.\n{five}.',
        f"{five}.\nPlease enable JavaScript, {five}.\n{five}.",
        f"{five}.\nJAVASCR\u0130PT and {five}.\n{five}.",
        f"{five}.\n\uff2a\uff41\uff56\uff41script {five}.\n{five}.",
        f"{five}.\nLOREM IPSUM {five}.\n{five}.",
        f"{five}.\nLorem\xa0ipsum {five}.\n{five}.",
        f"{five}.\nLOREM \u0130PSUM {five}.\n{five}.",
        f"{five}.\n\u03a3\u039f\u03a6\u039f\u03a3 {five}.\n\u1e9e {five}.",
        f"{five}.\nshort {{x}}\n{five}.\n{five}.",
        f"{five}.\n\n\n{five}!\n \n{five}?",
    ]
    rng = random.Random(5)
    pieces = [five, "Five.", "JavaScript", "lorem ipsum", "{", "\xa0",
              "\u0130", "\u212a", ".", "!", "?", '"', "word", "  "]
    seps = ["\n", "\r\n", "\n\n", " \n", "\r", "\x0b", "\u2028",
            "\x85", " ", ". "]
    for _ in range(200):
        texts.append("".join(
            rng.choice(pieces) + rng.choice(seps)
            for _ in range(rng.randint(0, 12))
        ))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    mins = (0, 1, 3)
    cols = []
    for m in mins:
        f = c4_features(SF.col("text"), min_lines=m)
        cols += [f["doc_keep"].alias(f"keep{m}"), f["clean_text"].alias(f"clean{m}")]
    for r in df.select("i", *cols).collect():
        t = texts[r["i"]]
        for m in mins:
            assert c4_clean(t, m) == (r[f"keep{m}"], r[f"clean{m}"]), (
                f"text #{r['i']} min_lines={m}: {t!r}"
            )


def test_repetition_fuzz_vs_python_reference(spark):
    """200 seeded random texts, one Spark job, cross-checked against a
    pure-Python reimplementation of every integer metric."""
    import random
    import re
    from collections import Counter

    rng = random.Random(1234)
    vocab = ["aa", "b", "ccc", "dd", "e", "ffff", "g hh", "\n", "\n\n", "  "]
    texts = []
    for _ in range(200):
        n = rng.randint(0, 40)
        texts.append(" ".join(rng.choice(vocab) for _ in range(n)))

    def py_feats(t):
        lines = [re.sub(r"^\s+|\s+$", "", l) for l in re.split(r"\r?\n", t)]
        lines = [l for l in lines if l]
        paras = [re.sub(r"^ | $", "", re.sub(r"\s+", " ", p))
                 for p in re.split(r"\n\s*\n", t)]
        paras = [p for p in paras if p]
        words = [w for w in re.split(r"\s+", t) if w]

        def dup_chars(xs):
            return sum(c * len(v) for v, c in Counter(xs).items() if c >= 2)

        def top_chars(xs):
            if not xs:
                return 0
            best = sorted(Counter(xs).items(), key=lambda kv: (-kv[1], kv[0]))[0]
            return best[1] * len(best[0]) if best[1] >= 2 else 0

        def grams(n):
            return [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]

        return {
            "n_chars": len(t), "n_words": len(words),
            "n_lines": len(lines), "n_distinct_lines": len(set(lines)),
            "dup_line_chars": dup_chars(lines),
            "line_chars": sum(len(l) for l in lines),
            "n_paras": len(paras), "n_distinct_paras": len(set(paras)),
            "dup_para_chars": dup_chars(paras),
            "para_chars": sum(len(p) for p in paras),
            "top2gram_chars": top_chars(grams(2)),
            "top3gram_chars": top_chars(grams(3)),
            "top4gram_chars": top_chars(grams(4)),
            "dup5gram_chars": dup_chars(grams(5)),
        }

    from pyspark.sql import functions as SF
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    feats = repetition_features(SF.col("text"), top_ns=(2, 3, 4), dup_ns=(5,))
    rows = df.select("i", *[c.alias(k) for k, c in feats.items()]).collect()
    for r in rows:
        want = py_feats(texts[r["i"]])
        got = {k: r[k] for k in want}
        assert got == want, f"text #{r['i']}: {texts[r['i']]!r}\n{got}\nvs\n{want}"


def test_repetition_features_udf_bit_equal(spark):
    """The Arrow features twin (q39's path since r6) must produce the SAME
    integers as the Column folds on every doc — adversarial whitespace
    (NBSP, U+2028, vertical tab, form feed, CRLF), threshold edge cases,
    empty and null text, plus top-gram TIES (same count, different gram
    length — the lexicographic tie-break decides top{n}gram_chars)."""
    import random

    from pyspark.sql import functions as SF

    from final_ocr_spark.operators.repetition import repetition_features_udf

    rng = random.Random(77)
    vocab = ["aa", "b", "ccc", "dd", "e", "ffff", "spam", "now",
             "g hh", "x y", "\n", "\n\n", "  ", "\t", "\x0b", "\x0c", "\r\n"]
    texts = []
    for _ in range(250):
        n = rng.randint(0, 60)
        texts.append(" ".join(rng.choice(vocab) for _ in range(n)))
    texts += [
        "", " ", "\n\n\n", "one",
        "buy now " * 60,
        ("line a\nline a\nline b\n" * 5),
        ("para one\n\npara  one\n\npara two"),
        # top-2-gram tie: 'aa bb' and 'c d' both occur twice; the winner
        # (lexicographically smaller 'aa bb', 5 chars vs 3) decides the count
        "aa bb aa bb zz c d zz c d",
        # Java's $ also matches before one final line terminator, so these
        # lines / paragraphs trim to equal strings
        "ab \u2028\nab\u2028\nab\t\u2029",
        "a b \x85\n\na b\x85\n\nc",
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    top_ns, dup_ns = (2, 3, 4), (5, 10)
    col_f = repetition_features(SF.col("text"), top_ns=top_ns, dup_ns=dup_ns)
    udf_f = repetition_features_udf(top_ns=top_ns, dup_ns=dup_ns)(SF.col("text"))
    keys = list(col_f)
    rows = df.select(
        "i",
        *[c.alias(f"col_{k}") for k, c in col_f.items()],
        *[udf_f[k].alias(f"udf_{k}") for k in keys],
    ).collect()
    for r in rows:
        for k in keys:
            assert r[f"col_{k}"] == r[f"udf_{k}"], (
                f"text #{r['i']} field {k}: {texts[r['i']]!r}: "
                f"{r[f'col_{k}']} vs {r[f'udf_{k}']}"
            )


def _gopher_adversarial_texts():
    """Adversarial corpus for the Gopher gate: Java-vs-Python whitespace
    (NBSP, U+2028, vertical tab, form feed, CRLF), trailing whitespace
    before a final Java line terminator, repetition edge cases around each
    threshold, a top-gram tie, empty text and NULL text."""
    import random

    rng = random.Random(77)
    vocab = ["aa", "b", "ccc", "dd", "e", "ffff", "spam", "now",
             "g\xa0hh",      # NBSP inside a token (not Java \s)
             "x\u2028y",     # line separator (not Java \r?\n)
             "\n", "\n\n", "  ", "\t", "\x0b", "\x0c", "\r\n"]
    texts = []
    for _ in range(250):
        n = rng.randint(0, 60)
        texts.append(" ".join(rng.choice(vocab) for _ in range(n)))
    texts += [
        "", " ", "\n\n\n", "one",
        "buy now " * 60,                       # spam: fails grams
        ("line a\nline a\nline b\n" * 5),      # duplicate lines
        ("para one\n\npara  one\n\npara two"), # rewrapped dup paras
        "ab \u2028\nab\u2028\nab\t\u2029",   # Java $ before final EOL
        "a b \x85\n\na b\x85\n\nc",
        "aa bb aa bb zz c d zz c d",            # top-gram tie
        None,
    ]
    return texts


def test_gopher_keep_udf_bit_equal(spark):
    """The Arrow gate (gopher_repetition_keep_udf) must give, row for row,
    the verdict of gopher_keep — the kernel the gate cascade calls
    directly — on the adversarial corpus; NULL text gives NULL."""
    from pyspark.sql import functions as SF

    from final_ocr_spark.operators.repetition import gopher_repetition_keep_udf

    texts = _gopher_adversarial_texts()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    keep_udf = gopher_repetition_keep_udf()(SF.col("text"))
    rows = df.select("i", keep_udf.alias("k")).collect()
    assert len(rows) == len(texts)
    for r in rows:
        t = texts[r["i"]]
        want = None if t is None else gopher_keep(t)
        assert r["k"] == want, f"text #{r['i']}: {t!r}"


def test_gopher_keep_equals_spec_and_fold(spark):
    """The Arrow gate must equal the spec form — AND-folding
    gopher_repetition_checks over repetition_features — on the adversarial
    corpus, including 3-valued-logic rows (null text => NULL, which both
    forms produce and a filter drops)."""
    from pyspark.sql import functions as SF

    from final_ocr_spark.operators.repetition import (
        gopher_repetition_checks, gopher_repetition_keep_udf,
    )

    texts = _gopher_adversarial_texts()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    spec = SF.lit(True)
    for c in gopher_repetition_checks(
        repetition_features(SF.col("text"))
    ).values():
        spec = spec & c
    keep_udf = gopher_repetition_keep_udf()(SF.col("text"))
    rows = df.select("i", spec.alias("a"), keep_udf.alias("b")).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r["a"] == r["b"], f"text #{r['i']}: {texts[r['i']]!r}"
        if texts[r["i"]] is None:
            assert r["a"] is None
