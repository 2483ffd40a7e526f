"""Repetition-based quality signals and line-level corpus cleaning for
webtext training-data pipelines.

Two classic filter families, scan-local (zero shuffle — the shape that
holds at 10^12 documents):

* **Gopher repetition signals** (Rae et al. 2021, table A1): duplicate
  line / paragraph fractions, duplicate line / paragraph *character*
  fractions, top-{2,3,4}-gram character fraction, duplicated-{5..10}-gram
  character fraction. Plain-Python kernels over Arrow batches
  (:func:`repetition_features_udf`, :func:`gopher_keep`); their Column
  fold spec form is the test oracle in tests/spec_forms.py.
* **C4 line-level cleaning** (Raffel et al. 2020 §2.2): keep only lines
  that end in terminal punctuation and have >= 5 words, drop lines
  mentioning javascript, flag lorem-ipsum / curly-brace documents, drop
  documents with < 3 surviving lines.

Design notes (scale + oracle-exactness):

* Every count is an **integer** and every threshold check is an integer
  cross-multiplication (``100 * num <= pct * den``) — no float division,
  no ``round()`` — so a DuckDB oracle matches bit-for-bit (see the
  round()/float-division pitfalls in PLANS.md).

Reference provenance: the reference repo has no corpus-level quality
filters (it is a per-document OCR pipeline); these generalize its V9
completeness scoring (ocr.py:996-1016) to the corpus-hygiene operators a
Common-Crawl-scale extraction pipeline needs downstream.
"""

from __future__ import annotations

import re
from collections import Counter
from functools import partial

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Python-side twins of Spark's regex splits (here and in tests/spec_forms.py).
# Java regex ``\s`` is the ASCII set [ \t\n\x0b\f\r] while Python's is
# Unicode, so every class is spelled out; and Java's non-MULTILINE ``$`` also
# matches before ONE final line terminator (\r, \n, U+0085, U+2028, U+2029 —
# only the last three can survive the splits and whitespace classes here),
# which the lookahead replays.
_JS = " \t\n\x0b\x0c\r"
_JAVA_EOL = "\x85\u2028\u2029"
_TRIM = re.compile(f"^[{_JS}]+|[{_JS}]+(?=[{_JAVA_EOL}]?\\Z)")
_LINE_SPLIT = re.compile("\r?\n")
_PARA_SPLIT = re.compile(f"\n[{_JS}]*\n")
_WS_RUN = re.compile(f"[{_JS}]+")


def _py_lines(t: str) -> list[str]:
    """:func:`norm_lines` in plain Python."""
    return [l for l in (_TRIM.sub("", l) for l in _LINE_SPLIT.split(t)) if l]


def _py_words(t: str) -> list[str]:
    """Whitespace-delimited tokens, empties dropped (Java ``\\s+`` split)."""
    return [w for w in _WS_RUN.split(t) if w]


def _py_paragraphs(t: str) -> list[str]:
    """Paragraphs split on blank lines, empties dropped: collapse whitespace
    runs, then strip ONE leading and ONE trailing space (the anchored
    alternation can only match one of each), the trailing one also when it
    precedes a final Java line terminator."""
    paras = []
    for p in _PARA_SPLIT.split(t):
        p = _WS_RUN.sub(" ", p)
        if p.startswith(" "):
            p = p[1:]
        if p.endswith(" "):
            p = p[:-1]
        elif p[-2:-1] == " " and p[-1] in _JAVA_EOL:
            p = p[:-2] + p[-1]
        if p:
            paras.append(p)
    return paras


def norm_lines(text_col) -> Column:
    """array<string>: lines split on \\r?\\n, whitespace-trimmed (regex — NOT
    F.trim, which strips ASCII spaces only), empties dropped."""
    lines = F.split(text_col, r"\r?\n")
    lines = F.transform(lines, lambda l: F.regexp_replace(l, r"^\s+|\s+$", ""))
    return F.filter(lines, lambda l: l != "")


# Gopher table A1 thresholds, as integer percents (num/den compared via
# cross-multiplication; a document KEEPS when every check passes).
GOPHER_THRESHOLDS_PCT: dict[str, int] = {
    "dup_line_frac": 30,
    "dup_para_frac": 30,
    "dup_line_char_frac": 20,
    "dup_para_char_frac": 20,
    "top2gram_char_frac": 20,
    "top3gram_char_frac": 18,
    "top4gram_char_frac": 16,
    "dup5gram_char_frac": 15,
    "dup6gram_char_frac": 14,
    "dup7gram_char_frac": 13,
    "dup8gram_char_frac": 12,
    "dup9gram_char_frac": 11,
    "dup10gram_char_frac": 10,
}


def _frac_le(num: Column, den: Column, pct: int) -> Column:
    """num/den <= pct/100 without floats; vacuously true when den == 0."""
    return (den <= 0) | (num * 100 <= den * pct)


def gopher_repetition_checks(feats: dict[str, Column]) -> dict[str, Column]:
    """Boolean Gopher repetition checks from the integer repetition counts
    (:func:`repetition_features_udf` fields, keyed by name). All integer
    arithmetic — engine-independent."""
    f = feats
    checks = {
        "dup_line_frac": _frac_le(
            f["n_lines"] - f["n_distinct_lines"], f["n_lines"],
            GOPHER_THRESHOLDS_PCT["dup_line_frac"]),
        "dup_para_frac": _frac_le(
            f["n_paras"] - f["n_distinct_paras"], f["n_paras"],
            GOPHER_THRESHOLDS_PCT["dup_para_frac"]),
        "dup_line_char_frac": _frac_le(
            f["dup_line_chars"], f["line_chars"],
            GOPHER_THRESHOLDS_PCT["dup_line_char_frac"]),
        "dup_para_char_frac": _frac_le(
            f["dup_para_chars"], f["para_chars"],
            GOPHER_THRESHOLDS_PCT["dup_para_char_frac"]),
    }
    for key, pct in GOPHER_THRESHOLDS_PCT.items():
        base = key.replace("_char_frac", "_chars")
        if "gram" in key and base in f:
            checks[key] = _frac_le(f[base], f["n_chars"], pct)
    return checks


# ---------------------------------------------------------------------------
# C4 line-level cleaning


def c4_kept_lines(text_col) -> Column:
    """array<string>: lines surviving the C4 line rules — ends in terminal
    punctuation (. ! ? \"), >= 5 words, no 'javascript' mention."""
    def keep(l):
        n_words = F.size(F.filter(F.split(l, r"\s+"), lambda w: w != ""))
        return (
            F.substring(l, -1, 1).isin(".", "!", "?", '"')
            & (n_words >= 5)
            & ~F.contains(F.lower(l), F.lit("javascript"))
        )

    return F.filter(norm_lines(text_col), keep)


def c4_features(text_col, min_lines: int = 3) -> dict[str, Column]:
    """C4 document cleaning: cleaned text + doc-level flags.

    Keys: n_lines, n_kept, clean_text (kept lines re-joined with \\n),
    has_lorem (case-insensitive 'lorem ipsum'), has_curly (literal '{'),
    doc_keep (>= min_lines kept lines and neither flag).
    """
    lines = norm_lines(text_col)
    kept = c4_kept_lines(text_col)
    n_kept = F.size(kept).cast("long")
    has_lorem = F.contains(F.lower(text_col), F.lit("lorem ipsum"))
    has_curly = F.contains(text_col, F.lit("{"))
    return {
        "n_lines": F.size(lines).cast("long"),
        "n_kept": n_kept,
        "clean_text": F.array_join(kept, "\n"),
        "has_lorem": has_lorem,
        "has_curly": has_curly,
        "doc_keep": (n_kept >= min_lines) & ~has_lorem & ~has_curly,
    }


_C4_END = frozenset('.!?"')


def c4_clean(text, min_lines: int = 3) -> tuple[bool | None, str | None]:
    """``(doc_keep, clean_text)`` of :func:`c4_features` for one document
    in plain Python — bit-equal to the Column form (pinned by an
    adversarial differential in tests/test_repetition.py): lines split and
    trimmed with Java's ASCII ``\\s`` (:func:`_py_lines`), the last
    character is the last code point (``substring(l, -1, 1)``),
    ``javascript`` / ``lorem ipsum`` match case-insensitively and ``{``
    literally. NULL text gives a NULL clean_text and the Column form's
    doc_keep: ``size(NULL)`` is -1 (ANSI off, as ``get_spark`` pins it), so
    ``n_kept >= min_lines`` is FALSE, and FALSE AND NULL is FALSE, for any
    ``min_lines >= 0``; either way a filter drops the doc."""
    if not isinstance(text, str):
        return (False if min_lines >= 0 else None), None
    kept = [
        l for l in _py_lines(text)
        if l[-1] in _C4_END
        and len(_py_words(l)) >= 5
        and "javascript" not in l.lower()
    ]
    keep = (
        len(kept) >= min_lines
        and "{" not in text
        and "lorem ipsum" not in text.lower()
    )
    return keep, "\n".join(kept)


def _dup_chars(cnt: Counter) -> int:
    return sum(c * len(v) for v, c in cnt.items() if c >= 2)


def _gram_counts(words: list[str], n: int) -> Counter:
    # n-grams counted as zip tuples (C speed, no string build)
    return Counter(zip(*(words[j:] for j in range(n))))


def _top_gram_chars(words: list[str], n: int) -> int:
    """top{n}gram_chars: 0 unless the most frequent gram occurs >= 2 times.
    Ties break toward the smallest JOINED gram: tuple order can differ from
    joined-string order when a word contains chars < U+0020, so the join
    materializes, for the tied winners only."""
    g = _gram_counts(words, n)
    best_c = max(g.values(), default=0)
    if best_c < 2:
        return 0
    return best_c * len(min(" ".join(v) for v, c in g.items() if c == best_c))


def _dup_gram_chars(words: list[str], n: int) -> int:
    return sum(
        c * (sum(map(len, v)) + n - 1)
        for v, c in _gram_counts(words, n).items()
        if c >= 2
    )


def repetition_features_py(
    t,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> dict:
    """The Gopher repetition counts of one document in plain Python — the
    kernel :func:`repetition_features_udf` wraps. NULL text replays the
    Column spec form's (tests/spec_forms.py) pinned null propagation:
    array counts are -1
    (``size(NULL)``), aggregate folds are NULL, and the top-gram counts are
    0 (their ``when(NULL, ...).otherwise(0)`` falls through)."""
    if not isinstance(t, str):
        return {
            "n_chars": None, "n_words": -1, "n_lines": -1,
            "n_distinct_lines": -1, "dup_line_chars": None,
            "line_chars": None, "n_paras": -1, "n_distinct_paras": -1,
            "dup_para_chars": None, "para_chars": None,
            **{f"top{n}gram_chars": 0 for n in top_ns},
            **{f"dup{n}gram_chars": None for n in dup_ns},
        }
    lines, paras, words = _py_lines(t), _py_paragraphs(t), _py_words(t)
    lc, pc = Counter(lines), Counter(paras)
    out = {
        "n_chars": len(t),
        "n_words": len(words),
        "n_lines": len(lines),
        "n_distinct_lines": len(lc),
        "dup_line_chars": _dup_chars(lc),
        "line_chars": sum(map(len, lines)),
        "n_paras": len(paras),
        "n_distinct_paras": len(pc),
        "dup_para_chars": _dup_chars(pc),
        "para_chars": sum(map(len, paras)),
    }
    for n in top_ns:
        out[f"top{n}gram_chars"] = _top_gram_chars(words, n)
    for n in dup_ns:
        out[f"dup{n}gram_chars"] = _dup_gram_chars(words, n)
    return out


def repetition_features_udf(
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
):
    """The Gopher repetition counts of each document, computed in plain
    Python per Arrow batch instead of the Column spec form's ~(2 +
    len(top_ns) + len(dup_ns)) interpreted sort+fold passes per row
    (tests/spec_forms.py; guide §4.2: hand whole batches to plain-Python
    code instead of interpreted JVM higher-order folds). Two wins, both
    measured on the q39 shape:

    * **execution**: the Column form burns ~100 core-ms/doc on mixed-length
      web text (string n-gram construction via repeated zip_with concat,
      then array_sort + interpreted aggregate per gram size); the Python
      Counter loop is ~1-2 ms/doc;
    * **planning**: the Column form's expression tree is so large that
      Catalyst's optimizer passes alone cost ~2 s per query compilation —
      the UDF collapses it to one ArrowEvalPython node.

    Returns a deferred pandas_udf producing ONE struct column of the
    ``fields`` below (all long), computed by :func:`repetition_features_py`.
    Bit-equality with the Column spec form is pinned by
    tests/test_repetition.py's adversarial differential.

    Exactness contract (mirrors :func:`gopher_keep`): Java ``\\s`` is
    ASCII-only, spelled out; paragraph normalization replays the Column
    order (collapse runs, strip ONE leading/trailing space); a top-n-gram
    occurring once contributes 0 (``best_run >= 2``); ties break toward the
    lexicographically smallest gram (Python str order == Spark's UTF-8
    binary order).
    """
    fields = ["n_chars", "n_words", "n_lines", "n_distinct_lines",
              "dup_line_chars", "line_chars", "n_paras", "n_distinct_paras",
              "dup_para_chars", "para_chars"]
    fields += [f"top{n}gram_chars" for n in top_ns]
    fields += [f"dup{n}gram_chars" for n in dup_ns]
    schema = ", ".join(f"{f}: long" for f in fields)
    one = partial(repetition_features_py, top_ns=top_ns, dup_ns=dup_ns)

    @pandas_udf(schema)
    def feats(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([one(t) for t in texts], columns=fields)

    return feats


def _frac_le_py(num: int, den: int, pct: int) -> bool:
    return den <= 0 or num * 100 <= den * pct


def gopher_keep(
    t,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
):
    """The Gopher keep verdict of one document in plain Python: the AND of
    :func:`gopher_repetition_checks` over the repetition counts, computed by
    the kernel that :func:`gopher_repetition_keep_udf` and the corpus gate
    cascade (operators/gates.py) both call. Checks run cheapest first and
    return at the first failure; NULL text returns None, the spec fold's
    NULL verdict, which a filter drops.

    Semantics notes that make the kernel EXACT, not approximate:

    * Java regex ``\\s`` is ASCII-only (``[ \\t\\n\\x0b\\f\\r]``) while
      Python's ``\\s`` is Unicode — every class spells the Java set out
      explicitly, or a NBSP-separated token stream would tokenize
      differently in the two paths;
    * the paragraph normalization replays the Column order exactly
      (collapse ``\\s+`` to one space, then strip ONE leading/trailing
      space — the anchored-alternation regexp_replace can only ever match
      one of each);
    * a top-n-gram occurring once is not repetition (the ``best_run >= 2``
      gate), ties break toward the lexicographically smallest gram, and
      the integer threshold rule (``den <= 0`` vacuously true, ``num*100
      <= den*pct``) is copied verbatim."""
    if not isinstance(t, str):
        return None
    T = GOPHER_THRESHOLDS_PCT
    lines = _py_lines(t)
    lc = Counter(lines)
    if not _frac_le_py(len(lines) - len(lc), len(lines), T["dup_line_frac"]):
        return False
    paras = _py_paragraphs(t)
    pc = Counter(paras)
    if not _frac_le_py(len(paras) - len(pc), len(paras), T["dup_para_frac"]):
        return False
    if not _frac_le_py(_dup_chars(lc), sum(map(len, lines)),
                       T["dup_line_char_frac"]):
        return False
    if not _frac_le_py(_dup_chars(pc), sum(map(len, paras)),
                       T["dup_para_char_frac"]):
        return False
    words, n_chars = _py_words(t), len(t)
    for n in top_ns:
        if not _frac_le_py(_top_gram_chars(words, n), n_chars,
                           T[f"top{n}gram_char_frac"]):
            return False
    for n in sorted(dup_ns):
        dup = _dup_gram_chars(words, n)
        if not _frac_le_py(dup, n_chars, T[f"dup{n}gram_char_frac"]):
            return False
        if dup == 0:
            # no n-gram occurs twice, so no longer gram does either (its
            # first n words would): every later check reads 0 and passes
            return True
    return True


def gopher_repetition_keep_udf(
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
):
    """Arrow-batched Gopher keep gate: the verdict of AND-folding
    :func:`gopher_repetition_checks` over the repetition counts, computed
    by :func:`gopher_keep` per batch (the simhash-popcount playbook applied
    to the densest scan-local gate). Bit-equality with the spec fold is
    pinned by a differential test over adversarial corpora.

    Deferred factory (module-level ``@pandas_udf`` needs a session)."""
    one = partial(gopher_keep, top_ns=top_ns, dup_ns=dup_ns)

    @pandas_udf("boolean")
    def keep(texts: pd.Series) -> pd.Series:
        return texts.map(one)

    return keep
