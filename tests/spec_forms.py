"""Interpreted Column-fold spec forms of shipped operators — differential
oracles for the tests only (``from tests.spec_forms import ...``):
``minhash_from_hashes`` for ``dedup.minhash_sigs``, ``simhash_from_hashes``
for ``dedup.simhash_sigs``, ``repetition_features`` (+ helpers) for
``repetition.repetition_features_udf`` / ``gopher_keep``."""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from final_ocr_spark.operators.dedup import _MERSENNE31
from final_ocr_spark.operators.repetition import norm_lines


def minhash_from_hashes(hash_col, num_hashes: int = 64, seed: int = 7):
    """Column expr: minhash signature array<bigint> from pre-computed shingle
    hashes — ONE pass over the array, maintaining all num_hashes mins via
    zip_with(acc, perms(h), least).

    h_i(x) = (a_i * (x mod p) + b_i) mod p over the 31-bit Mersenne prime
    p = 2^31-1, with a_i, b_i < p. Every intermediate fits a signed 64-bit
    long by construction (a_i·x' < 2^62), so this is ANSI-mode-safe —
    Spark 4's default session treats long overflow as a task failure, and
    the engine must be correct under configs it doesn't control. A 31-bit
    universal family is ample for sketching: P(cross-doc hash collision)
    ≈ |union of shingles|² / 2^32 ≈ 1e-3 for multi-thousand-word docs.
    All JVM-side; no UDF.
    """
    import random

    rng = random.Random(seed)
    coeffs = [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]
    p = F.lit(_MERSENNE31).cast("long")

    def _perms(h):
        x = F.pmod(h, p)  # [0, 2^31-1): product with a < 2^31 fits in 62 bits
        return F.array(
            *[F.pmod(F.lit(a).cast("long") * x + F.lit(b).cast("long"), p) for a, b in coeffs]
        )

    init = F.array(*[F.lit(_MERSENNE31).cast("long") for _ in range(num_hashes)])
    sig = F.aggregate(
        hash_col, init, lambda acc, h: F.zip_with(acc, _perms(h), lambda a, b: F.least(a, b))
    )
    return F.when(F.size(hash_col) > 0, sig)


def simhash_from_hashes(hash_col):
    """Column expr: 64-bit SimHash (bigint) from pre-computed shingle hashes.

    ONE pass: aggregate maintains a 64-wide vote vector via zip_with(+1/-1
    per bit), then the finish lambda folds votes into the bigint (bit 63 is
    the two's-complement sign bit). All codegen; no UDF.
    """
    init = F.array(*[F.lit(0) for _ in range(64)])

    def _bitvec(h):
        return F.array(
            *[
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                for i in range(64)
            ]
        )

    def _fold(votes):
        # disjoint bits — OR, never arithmetic add (ANSI-safe by construction)
        total = None
        for i in range(64):
            bit_val = -(1 << 63) if i == 63 else (1 << i)
            term = F.when(
                F.element_at(votes, i + 1) > 0, F.lit(bit_val).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            total = term if total is None else total.bitwiseOR(term)
        return total

    sim = F.aggregate(
        hash_col,
        init,
        lambda acc, h: F.zip_with(acc, _bitvec(h), lambda a, b: a + b),
        _fold,
    )
    return F.when(F.size(hash_col) > 0, sim)


def _zero() -> Column:
    return F.lit(0).cast("long")


def norm_paragraphs(text_col) -> Column:
    """array<string>: paragraphs split on blank lines, internal whitespace
    runs collapsed to single spaces (so re-wrapped duplicates compare
    equal), empties dropped."""
    paras = F.split(text_col, r"\n\s*\n")
    paras = F.transform(
        paras, lambda p: F.regexp_replace(F.regexp_replace(p, r"\s+", " "), r"^ | $", "")
    )
    return F.filter(paras, lambda p: p != "")


def words_of(text_col) -> Column:
    """array<string>: whitespace-delimited tokens, empties dropped."""
    return F.filter(F.split(text_col, r"\s+"), lambda w: w != "")


def word_ngrams(words: Column, n: int) -> Column:
    """array<string>: word n-grams joined by single spaces.

    Built by folding zip_with over shifted top-level slices — each shift is
    one array expression evaluated once per row (CSE-able), never a slice
    inside a per-element lambda.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if n == 1:
        return words
    grams = words
    for k in range(1, n):
        keep = F.greatest(F.size(words) - k, F.lit(0))
        shifted = F.slice(words, k + 1, keep)
        grams = F.zip_with(
            F.slice(grams, 1, keep), shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return grams


def run_stats(arr: Column) -> Column:
    """struct(dup_chars, best_run, best_chars) over runs of equal strings in
    ``array_sort(arr)``:

    * ``dup_chars`` — sum over values occurring >= 2 times of
      occurrences * length(value) (characters inside duplicated values,
      first occurrence included — the Gopher convention for line/paragraph
      character fractions).
    * ``best_run`` — occurrence count of the most frequent value
      (ties broken toward the lexicographically smallest, which the sorted
      fold gives for free with a strict ``>``).
    * ``best_chars`` — best_run * length(that value).

    One O(n) fold; the lambda touches only acc fields and the element.
    """
    s = F.array_sort(arr)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        _zero().alias("run"),
        _zero().alias("dup_chars"),
        _zero().alias("best_run"),
        _zero().alias("best_chars"),
    )

    def flushed(acc):
        # close out the current run (acc.prev repeated acc.run times)
        run_chars = acc["run"] * F.coalesce(F.length(acc["prev"]).cast("long"), _zero())
        dup = acc["dup_chars"] + F.when(acc["run"] >= 2, run_chars).otherwise(_zero())
        better = acc["run"] > acc["best_run"]
        best_run = F.when(better, acc["run"]).otherwise(acc["best_run"])
        best_chars = F.when(better, run_chars).otherwise(acc["best_chars"])
        return dup, best_run, best_chars

    def merge(acc, x):
        dup, best_run, best_chars = flushed(acc)
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        return F.when(
            same,
            F.struct(
                x.alias("prev"),
                (acc["run"] + 1).alias("run"),
                acc["dup_chars"].alias("dup_chars"),
                acc["best_run"].alias("best_run"),
                acc["best_chars"].alias("best_chars"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                dup.alias("dup_chars"),
                best_run.alias("best_run"),
                best_chars.alias("best_chars"),
            )
        )

    def finish(acc):
        dup, best_run, best_chars = flushed(acc)
        return F.struct(
            dup.alias("dup_chars"),
            best_run.alias("best_run"),
            best_chars.alias("best_chars"),
        )

    return F.aggregate(s, init, merge, finish)


def _sum_lengths(arr: Column) -> Column:
    return F.aggregate(arr, _zero(), lambda acc, x: acc + F.length(x))


def repetition_features(
    text_col,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> dict[str, Column]:
    """All-integer repetition counts for one document (Gopher A1 signals).

    Returns Columns keyed:
      n_chars, n_words,
      n_lines, n_distinct_lines, dup_line_chars, line_chars,
      n_paras, n_distinct_paras, dup_para_chars, para_chars,
      top{n}gram_chars for n in top_ns,
      dup{n}gram_chars for n in dup_ns.

    Ratios are intentionally NOT returned — compute them downstream, or use
    :func:`gopher_repetition_checks` which compares integers exactly.
    """
    lines = norm_lines(text_col)
    paras = norm_paragraphs(text_col)
    words = words_of(text_col)
    line_stats = run_stats(lines)
    para_stats = run_stats(paras)
    out: dict[str, Column] = {
        "n_chars": F.length(text_col).cast("long"),
        "n_words": F.size(words).cast("long"),
        "n_lines": F.size(lines).cast("long"),
        "n_distinct_lines": F.size(F.array_distinct(lines)).cast("long"),
        "dup_line_chars": line_stats["dup_chars"],
        "line_chars": _sum_lengths(lines),
        "n_paras": F.size(paras).cast("long"),
        "n_distinct_paras": F.size(F.array_distinct(paras)).cast("long"),
        "dup_para_chars": para_stats["dup_chars"],
        "para_chars": _sum_lengths(paras),
    }
    for n in top_ns:
        rs = run_stats(word_ngrams(words, n))
        # a gram occurring ONCE is not repetition: without the >= 2 gate a
        # single long 4-gram in a short document trips the 16% threshold
        # (the signal is meant to catch repeated boilerplate, not existence
        # of a 4-gram). Pinned here and mirrored in the q39 oracle.
        out[f"top{n}gram_chars"] = F.when(
            rs["best_run"] >= 2, rs["best_chars"]
        ).otherwise(_zero())
    for n in dup_ns:
        out[f"dup{n}gram_chars"] = run_stats(word_ngrams(words, n))["dup_chars"]
    return out
