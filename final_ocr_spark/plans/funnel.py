"""Gate-funnel report: per-gate drop counts for the pipeline's scan-local
quality gates, in ONE pass over the corpus.

Production filtering pipelines publish their retention funnel (how many
documents each gate removed — the table every FineWeb/Dolma-style dataset
card carries); without it a gate that silently eats 40% of a crawl looks
identical to one that eats 0.4%. This module computes, for the SAME gate
definitions `pipeline.corpus_pipeline` applies:

* ``n_failed_any``   — docs failing the gate regardless of order (each
  gate judged independently — the overlap view);
* ``n_failed_first`` — docs whose FIRST failing gate, in pipeline order,
  is this one (attribution view: columns sum to total − kept);
* ``remaining``      — corpus size after applying gates cumulatively in
  pipeline order.

Scale shape: every gate is a Column predicate (the quality, Gopher and
compression verdicts come from Arrow-batched UDFs), evaluated ONCE per row
in a single scan pass; per-partition partial sums ride one SinglePartition exchange of
O(#partitions) slim rows into the final 2×G+1-sum row (see
:func:`_funnel_agg` for why the partial stage exists — it is the barrier
that stops Catalyst re-inlining the heavy gate expressions into every
first-fail term). No data shuffle, no per-gate jobs, no second pass. The
G-row result frame is assembled driver-side from that single collected
row (O(#gates), not O(corpus)).

The funnel is a REPORT on gate behavior, deliberately limited to the
scan-local gates (lang / quality / gopher / wordlist / compression):
dedup-family stages are corpus-relative (a doc "fails" only relative to
which other docs exist) and their removal counts already surface through
the pipeline's own outputs and the dataset card.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _funnel_agg(docs: DataFrame, gates: list[tuple[str, Column]]) -> DataFrame:
    """The funnel's 1-row aggregation over (gate name, keep predicate)
    pairs: ``_total`` plus ``_any_<g>`` / ``_first_<g>`` per gate.

    Each verdict must be computed ONCE per row: the first-fail term of
    gate i references every earlier gate's verdict, so letting Catalyst
    inline the raw expressions into the aggregate grows the evaluated work
    quadratically in G (a heavy Column fold, such as the Gopher spec form,
    would re-evaluate in every later term — and CollapseProject DOES fold a deterministic flag
    projection straight into the agg, measured 17× slower warm). The
    barrier is structural, not a materialization: a partition-local
    pre-aggregation keyed on ``spark_partition_id()`` — nondeterministic,
    so the flag projection cannot be collapsed through it — emits one
    partial row per partition, and a final 1-row agg sums those. Plan:
    scan → flags projected once per row → per-partition sums → ONE
    SinglePartition exchange of O(#partitions) slim rows → final sums.
    No data shuffle, no join, no window. A NULL keep-verdict counts as
    failed, matching filter semantics where NULL drops the row."""
    flags = docs.select(
        *[
            (~F.coalesce(keep, F.lit(False))).alias(f"_fail_{i}")
            for i, (_, keep) in enumerate(gates)
        ]
    )
    # internal aliases are INDEX-based: gate names are caller-supplied
    # (extra_gates) and may contain '.'/'`'-style column-reference
    # metacharacters that F.sum("<name>") would mis-parse as a nested-field
    # reference — the real names are applied positionally (toDF, which never
    # parses) only after the last by-name reference
    aggs = [F.count(F.lit(1)).alias("_total")]
    passed_so_far = F.lit(True)
    for i in range(len(gates)):
        failed = F.col(f"_fail_{i}")
        aggs.append(F.sum(failed.cast("long")).alias(f"_any_{i}"))
        aggs.append(
            F.sum((failed & passed_so_far).cast("long")).alias(f"_first_{i}")
        )
        passed_so_far = passed_so_far & ~failed
    partial = flags.groupBy(F.spark_partition_id().alias("_pid")).agg(*aggs)
    out_cols = [c for c in partial.columns if c != "_pid"]
    # coalesce(0): an EMPTY corpus yields zero partial rows and sum() would
    # return NULL where the old single-agg count returned 0
    final = partial.agg(
        *[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in out_cols]
    )
    named = ["_total"]
    for name, _ in gates:
        named += [f"_any_{name}", f"_first_{name}"]
    return final.toDF(*named)


def gate_funnel(
    docs: DataFrame,
    *,
    text_col: str = "text",
    lang_col: str = "lang",
    lang_allow: tuple[str, ...] | list[str] | None = None,
    min_quality: float | None = 50.0,
    gopher: bool = True,
    flagged_wordlist: list[str] | None = None,
    flagged_max_ratio: float = 0.01,
    compression_band: tuple[float, float] | None = None,
    extra_gates: dict[str, Column] | None = None,
) -> DataFrame:
    """One row per enabled gate, in pipeline order: ``(gate, n_failed_any,
    n_failed_first, remaining)`` plus a trailing ``('kept', 0, 0, kept)``
    row. ``extra_gates`` appends caller-supplied keep-predicates (name →
    boolean Column) after the built-ins.

    Each gate's verdict is the one ``corpus_pipeline``'s gate cascade
    (operators/gates.py) reaches for the same document: the language,
    quality and Gopher predicates use the allow-list rule and the Arrow
    UDF twins of the cascade's kernels, so ``kept.remaining`` equals the
    cascade's row count (tests/test_funnel.py). That includes the
    empty/NULL-text conventions, so the funnel never mis-attributes a drop
    relative to the pipeline it reports on: empty text passes the gopher
    checks vacuously (every denominator is 0) and scores 62.5 on quality;
    NULL text fails quality (score 12.5) and gopher (NULL verdict =
    dropped by filter) but PASSES wordlist (ratio 0.0); the compression
    gate fails both (no signal ≠ clean)."""
    from final_ocr_spark.operators.gates import _allowed
    from final_ocr_spark.operators.repetition import gopher_repetition_keep_udf
    from final_ocr_spark.operators.text_stats import (
        compression_ratio_udf,
        flagged_token_ratio,
        quality_score_udf,
    )

    text = F.col(text_col)
    gates: list[tuple[str, Column]] = []
    allow = _allowed(lang_allow)
    if allow is not None:
        gates.append(("lang", F.col(lang_col).isin(*allow)))
    if min_quality is not None:
        q = quality_score_udf()(text)
        gates.append(("quality", q >= F.lit(float(min_quality))))
    if gopher:
        gates.append(("gopher", gopher_repetition_keep_udf()(text)))
    if flagged_wordlist is not None:
        gates.append(
            ("wordlist",
             flagged_token_ratio(text, flagged_wordlist)
             <= F.lit(float(flagged_max_ratio)))
        )
    if compression_band is not None:
        lo, hi = compression_band
        # the UDF lands in a named column below, so the three references
        # in the band predicate evaluate ONE Arrow batch pass, not three
        r = F.col("_cr")
        docs = docs.withColumn("_cr", compression_ratio_udf()(text))
        gates.append(
            ("compression", r.isNotNull() & (r >= F.lit(lo)) & (r <= F.lit(hi)))
        )
    for name, keep in (extra_gates or {}).items():
        gates.append((str(name), keep))
    if not gates:
        raise ValueError("no gates enabled — nothing to report")

    row = _funnel_agg(docs, gates).collect()[0]  # 1 row, 2G+1 cells

    total = row["_total"]
    out, remaining = [], total
    for name, _ in gates:
        first = row[f"_first_{name}"] or 0
        remaining -= first
        out.append((name, row[f"_any_{name}"] or 0, first, remaining))
    out.append(("kept", 0, 0, remaining))
    return docs.sparkSession.createDataFrame(
        out, "gate string, n_failed_any long, n_failed_first long, remaining long"
    )
