"""The corpus pipeline's per-document gate layer (stages 1c-2): language
gate → C4 line clean → quality gate → Gopher repetition gate.

:func:`gate_cascade` runs the whole chain as ONE opaque ``mapInArrow``
stage that walks each document through the gates in that order and stops
at the first failure. Chaining the same gates as Python UDFs inside
``filter``/``withColumn`` costs more than the kernels themselves, because
Catalyst sees through the chain:

* adjacent filters are merged into one predicate, and every Python-UDF
  term of it is evaluated in an ``ArrowEvalPython`` node BELOW the merged
  filter, so each UDF runs on every row that passed only the Column-only
  terms — the quality UDF scores docs the language gate already dropped,
  and the Gopher UDF scores docs the quality gate drops;
* a UDF used both in a filter and in a projection (the detected ``lang``,
  the ``quality_score``) is evaluated once for each use.

Measured with the UDF profiler on the steadybench ``fineweb`` input (seed
1, 2,903 extracted docs): the staged chain made 3,802 ``detect_lang``
calls, 3,802 quality calls and 2,656 Gopher calls; the cascade makes
2,903, 1,147 and 1,147 (and 1,218 C4 calls), once per document that
reaches each gate, and emits ``lang``, the rewritten ``text`` and
``quality_score`` from that one computation.

The kernels are the plain-Python functions the Arrow UDF twins wrap
(:func:`~final_ocr_spark.extract.langid.detect_lang`,
:func:`~final_ocr_spark.operators.repetition.c4_clean`,
:func:`~final_ocr_spark.operators.text_stats.quality_score_py`,
:func:`~final_ocr_spark.operators.repetition.gopher_keep`), each pinned
bit-equal to its Column spec form (tests/test_repetition.py,
tests/test_text_stats.py). The cascade is the only implementation of the
gate layer: ``corpus_pipeline`` always runs it, and tests/test_pipeline.py
pins it against a chain of those Arrow twins as filters.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from final_ocr_spark.extract.langid import detect_lang
from final_ocr_spark.operators.repetition import c4_clean, gopher_keep
from final_ocr_spark.operators.text_stats import quality_score_py

# (detect_lang, c4_clean, quality_score, gopher_keep) — a parameter of
# cascade_batches so a test can count the calls
KERNELS = (detect_lang, c4_clean, quality_score_py, gopher_keep)


def cascade_batches(
    batches: Iterable[pa.RecordBatch],
    *,
    lang_detect: bool,
    allow: frozenset[str] | None,
    c4_min_lines: int | None,
    min_quality: float,
    gopher: bool,
    kernels=KERNELS,
) -> Iterator[pa.RecordBatch]:
    """The cascade's ``mapInArrow`` function. Each batch's documents go
    through the gates in pipeline order, stopping at the first failure; a
    survivor is emitted with its columns unchanged except ``lang``
    (re-detected when ``lang_detect``), ``text`` (the C4-cleaned text when
    ``c4_min_lines`` is set) and an appended ``quality_score``.

    NULL handling follows the twins under a filter: a NULL ``lang`` fails
    ``allow``, a NULL text detects as ``'und'``, fails the C4 gate, scores
    12.5 and fails the Gopher gate."""
    detect, c4, quality, keep = kernels
    for batch in batches:
        names = batch.schema.names
        ti, li = names.index("text"), names.index("lang")
        texts = batch.column(ti).to_pylist()
        langs = batch.column(li).to_pylist()
        rows, out_text, out_lang, out_score = [], [], [], []
        for i, t in enumerate(texts):
            if lang_detect:
                lang = detect(t) if isinstance(t, str) else "und"
            else:
                lang = langs[i]
            if allow is not None and lang not in allow:
                continue
            if c4_min_lines is not None:
                ok, t = c4(t, c4_min_lines)
                if not ok:
                    continue
            score = quality(t)
            if not score >= min_quality:
                continue
            if gopher and not keep(t):
                continue
            rows.append(i)
            out_text.append(t)
            out_lang.append(lang)
            out_score.append(score)
        cols = batch.take(pa.array(rows, pa.int64())).columns
        cols[ti] = pa.array(out_text, batch.schema.field(ti).type)
        cols[li] = pa.array(out_lang, batch.schema.field(li).type)
        cols.append(pa.array(out_score, pa.float64()))
        yield pa.RecordBatch.from_arrays(cols, names=names + ["quality_score"])


def _allowed(lang_allow) -> list[str] | None:
    """The sorted, de-duplicated language allow-list, or None for no
    language gate. A bare string is refused: iterating ``"en"`` would
    allow the languages ``"e"`` and ``"n"`` and silently drop every doc."""
    if lang_allow is None:
        return None
    if isinstance(lang_allow, str):
        raise ValueError(
            f"lang_allow must be a collection of language codes, not the "
            f"string {lang_allow!r}; use ({lang_allow!r},)"
        )
    allow = sorted({str(lang) for lang in lang_allow})
    if not allow:
        raise ValueError("lang_allow must be non-empty when set")
    return allow


def gate_cascade(
    docs: DataFrame,
    *,
    lang_detect: bool = False,
    lang_allow: tuple[str, ...] | list[str] | None = None,
    c4_line_clean: bool = False,
    c4_min_lines: int = 3,
    min_quality: float = 50.0,
    gopher: bool = True,
) -> DataFrame:
    """Stages 1c-2 as one short-circuiting Python pass: ``docs`` (with
    ``text`` and ``lang`` columns) → the survivors, same columns plus
    ``quality_score``. Same rows, values and column order as chaining the
    Arrow UDF twins as ``withColumn``/``filter`` steps in gate order.

    Without ``lang_detect`` the declared ``lang`` column gates as a Column
    filter ahead of the map, so out-of-scope rows never cross into
    Python."""
    allow = _allowed(lang_allow)
    if allow is not None and not lang_detect:
        docs = docs.filter(F.col("lang").isin(*allow))
        allow = None
    schema = StructType(
        docs.schema.fields + [StructField("quality_score", DoubleType())]
    )
    fn = partial(
        cascade_batches,
        lang_detect=lang_detect,
        allow=None if allow is None else frozenset(allow),
        c4_min_lines=c4_min_lines if c4_line_clean else None,
        min_quality=float(min_quality),
        gopher=gopher,
    )
    return docs.mapInArrow(fn, schema)

