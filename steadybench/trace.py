"""Per-layer metrics of the traced run (``--trace 1``).

Spans are taken from outside the product: the benchmark calls each layer's
public function itself, under a Spark job group named after the layer, and
materializes the result before the span ends. Work counts come from the
Spark event log (folded per job group), ``/proc``, the backfill manifest's
own ``committed_at_epoch`` stamps and the output directory.

A layer the workload does not call reports 0: ``gates.s`` on ``extract`` is
0 because that workload runs no gate. Ratios whose base is 0 report 0.
"""

from __future__ import annotations

import contextlib
import shutil
import statistics
import threading
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from steadybench import eventlog
from steadybench.digest import digest

CORE_SAMPLE_SEED, CORE_SAMPLE_DOCS, CORE_REPEATS = 7, 400, 3


class Spans:
    """Named wall-clock spans, each run under a job group of that name."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.seconds: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)


class HeapAfterGc:
    """The largest driver heap in use right after a collection, read from
    the JVM's garbage-collector beans every ``interval`` seconds between
    ``start()`` and ``stop()``. It follows the live set (plus garbage already
    promoted to the old generation), not how far the collector let the heap
    grow, which is what RSS shows under a large heap limit."""

    def __init__(self, spark, interval: float = 0.2):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._beans = list(mf.getGarbageCollectorMXBeans())
        self._heap = [p.getName() for p in mf.getMemoryPoolMXBeans()
                      if p.getType().name() == "HEAP"]
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _read(self) -> None:
        for bean in self._beans:
            info = bean.getLastGcInfo()
            if info is not None:
                after = info.getMemoryUsageAfterGc()
                used = sum(after[p].getUsed() for p in self._heap if p in after)
                self.peak_bytes = max(self.peak_bytes, used)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._read()

    def start(self) -> HeapAfterGc:
        self._thread.start()
        return self

    def stop(self) -> float:
        """Peak heap after GC, in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self._read()
        return self.peak_bytes / 2**20


def core_sample() -> dict[str, float]:
    """The extract core alone: ``extract_document`` single-threaded in this
    process over a fixed sample of generated pages (the same on every run).
    The fastest of ``CORE_REPEATS`` rounds is kept per kind."""
    from final_ocr_spark.extract.dispatch import extract_document
    from final_ocr_spark.sources.synthetic_pages import gen_page_row

    rows = [gen_page_row(CORE_SAMPLE_SEED, i) for i in range(CORE_SAMPLE_DOCS)]
    kinds = {"pdf": [r for r in rows if r["html"].startswith(b"%PDFTOK")]}
    kinds["html"] = [r for r in rows if not r["html"].startswith(b"%PDFTOK")]
    best = {}
    for kind, docs in kinds.items():
        runs = []
        for _ in range(CORE_REPEATS):
            t0 = time.perf_counter()
            for r in docs:
                extract_document(r["html"], r["text"], r["lang"])
            runs.append(time.perf_counter() - t0)
        best[kind] = min(runs)
    total_s = best["html"] + best["pdf"]
    kb = sum(len(r["html"]) for r in rows) / 1024.0
    return {
        "extract.core_ms_per_doc.html": 1000 * best["html"] / len(kinds["html"]),
        "extract.core_ms_per_doc.pdf": 1000 * best["pdf"] / len(kinds["pdf"]),
        "extract.core_ms_per_kb": 1000 * total_s / kb,
        "_core_docs_per_s": len(rows) / total_s,
    }


def layer_spans(ctx, spans: Spans, pass_digest) -> tuple[dict, list[str]]:
    """Run the workload's layers one public call at a time. Returns
    (values known without the event log, problems). The decomposed chain
    must reproduce the timed pass's digest."""
    pages = ctx.pages()
    with spans.span("sources.scan"):
        pages.agg(F.sum(F.length("html")), F.count(F.lit(1))).collect()
    if ctx.workload == "extract":
        return _extract_layers(ctx, spans, pages, pass_digest)
    if ctx.workload == "fineweb":
        return _fineweb_layers(ctx, spans, pages, pass_digest)
    return {}, []


def _extract_layers(ctx, spans, pages, pass_digest):
    from final_ocr_spark.operators.dedup import dedup_latest
    from final_ocr_spark.operators.extract_pages import extract_pages
    from final_ocr_spark.plans.latency import (
        N_BUCKETS,
        latency_histogram,
        percentiles,
    )
    from final_ocr_spark.plans.manifest import extract_with_resume

    from steadybench.workloads import BACKFILL_GROUPS, BACKFILL_PARTS, read_manifest

    acc = latency_histogram(ctx.spark.sparkContext)
    with spans.span("extract_pages"):
        ext = extract_pages(pages, dedup=False, latency_acc=acc).localCheckpoint(
            eager=True)
    with spans.span("dedup.latest"):
        got = digest(dedup_latest(ext, key="url", order_col="warc_ts"))
    pct = percentiles(acc.value)
    bad = [] if got == pass_digest else [
        f"extract_pages + dedup_latest digest {got} != pass digest {pass_digest}"]
    if not pct["batches"]:
        bad.append("extract_pages recorded no batch latencies")
    # a percentile in the open-ended overflow bucket has no upper edge
    # (plans.latency reports None): report the bucket's lower edge, the
    # largest figure the histogram can give, never a flattering 0
    overflow_ms = 2.0 ** ((N_BUCKETS - 2) / 4.0)
    vals = {f"extract_pages.batch_ms.{q}": overflow_ms if pct[q] is None else pct[q]
            for q in ("p50", "p99")}

    # the same extraction through plans.manifest into a fresh directory:
    # the manifest and sink layers, measured on this workload's input
    out = ctx.work / "out" / "extract-manifest"
    shutil.rmtree(out, ignore_errors=True)
    start = time.time()
    with spans.span("manifest"):
        extract_with_resume(ctx.spark, pages, str(out),
                            num_parts=BACKFILL_PARTS, num_groups=BACKFILL_GROUPS)
    back = digest(ctx.spark.read.parquet(str(out)))
    vals.update(backfill_layers(read_manifest(out), start, out, ctx.info["bytes"]))
    shutil.rmtree(out, ignore_errors=True)
    if back != pass_digest:
        bad.append(f"extract_with_resume digest {back} != pass digest {pass_digest}")
    return vals, bad


def _fineweb_layers(ctx, spans, pages, pass_digest):
    """The fineweb preset's chain, stage by stage, with the preset's own
    parameters (``preset_kwargs`` merged over ``corpus_pipeline``'s
    defaults)."""
    import inspect

    from final_ocr_spark.operators import dedup as D
    from final_ocr_spark.operators.extract_pages import extract_pages
    from final_ocr_spark.operators.pii import redact_pii
    from final_ocr_spark.operators.repetition import (
        c4_features,
        gopher_repetition_keep_udf,
    )
    from final_ocr_spark.operators.text_stats import (
        detect_lang_udf,
        quality_score_udf,
    )
    from final_ocr_spark.pipeline import corpus_pipeline
    from final_ocr_spark.presets import preset_kwargs
    from final_ocr_spark.streaming.stateful import with_host

    kw = {k: p.default for k, p in
          inspect.signature(corpus_pipeline).parameters.items() if k != "pages"}
    kw.update(preset_kwargs("fineweb"))

    with spans.span("extract"):
        ext = extract_pages(pages, dedup=True)
        docs = with_host(
            ext.filter(F.col("error").isNull() & (F.length("extracted_text") > 0))
            .select("url", "warc_ts", F.col("extracted_text").alias("text"), "lang")
        ).localCheckpoint(eager=True)
    with spans.span("gates"):
        g = docs.withColumn("lang", detect_lang_udf()(F.col("text")))
        g = g.filter(F.col("lang").isin(*sorted(kw["lang_allow"])))
        feats = c4_features(F.col("text"), min_lines=kw["c4_min_lines"])
        g = (g.withColumns({"_c4": feats["doc_keep"], "text": feats["clean_text"]})
             .filter(F.col("_c4")).drop("_c4"))
        g = g.withColumn("quality_score", quality_score_udf()(F.col("text")))
        g = g.filter(F.col("quality_score") >= F.lit(kw["min_quality"]))
        g = g.filter(gopher_repetition_keep_udf()(F.col("text")))
        g = g.withColumn("text", redact_pii(F.col("text"))).localCheckpoint(eager=True)
    with spans.span("dedup.exact"):
        exact = D.dedup_exact(g, text_col="text", keep_col="url").localCheckpoint(
            eager=True)
    cap = Observation("pair_bucket_cap")
    with spans.span("dedup.minhash"):
        cand = D.minhash_near_dups(
            exact, key="url", text_col="text", num_hashes=kw["minhash_hashes"],
            bands=kw["minhash_bands"], candidates_only=True, observation=cap,
        ).localCheckpoint(eager=True)
    with spans.span("dedup.verify"):
        verified = (
            D.ngram_jaccard_pairs(exact, cand, key="url", text_col="text", n=5)
            .filter(F.col("jaccard") >= kw["jaccard_threshold"])
            .select("key_a", "key_b").localCheckpoint(eager=True)
        )
    with spans.span("dedup.components"):
        clusters = D.dedup_clusters(
            verified, algorithm=kw["cluster_algorithm"]).localCheckpoint(eager=True)
    with spans.span("dedup.representatives"):
        got = digest(D.keep_cluster_representatives(exact, clusters, key="url"))
    n_docs, n_gated = docs.count(), g.count()
    n_cand, n_ver = cand.count(), verified.count()
    vals = {
        "gates.keep_ratio": n_gated / n_docs if n_docs else 0.0,
        "dedup.minhash_candidates": n_cand,
        "dedup.capped_buckets": cap.get["n_capped_buckets"] or 0,
        "dedup.verified_pairs": n_ver,
        "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
    }
    bad = [] if got == pass_digest else [
        f"decomposed fineweb digest {got} != preset digest {pass_digest}"]
    return vals, bad


def backfill_layers(entries: list[dict], start_epoch: float, out, in_bytes):
    """Manifest and sink metrics of one ``extract_with_resume`` call that
    started at ``start_epoch`` and wrote ``out``."""
    staged = [e for e in entries if e["status"] == "staged"]
    done = sorted((e for e in entries if e["status"] == "done"),
                  key=lambda e: e["committed_at_epoch"])
    stamps = [staged[0]["committed_at_epoch"]] + [e["committed_at_epoch"] for e in done]
    group_s = [b - a for a, b in zip(stamps, stamps[1:])]
    outputs = [f for f in out.rglob("*.parquet") if "_stage" not in f.parts]
    stage_files = list((out / "_stage").rglob("*.parquet"))
    out_bytes = sum(f.stat().st_size for f in outputs)
    stage_bytes = sum(f.stat().st_size for f in stage_files)
    return {
        "manifest.stage_s": stamps[0] - start_epoch,
        "manifest.group_s.p50": statistics.median(group_s),
        "manifest.group_s.max": max(group_s),
        "manifest.commits": len(done),
        "sinks.files_written": len(outputs),
        "sinks.out_bytes_per_in_byte": out_bytes / in_bytes,
        "manifest.bytes_written_per_input_byte": (out_bytes + stage_bytes) / in_bytes,
    }


def event_metrics(folded: dict, pass_groups: list[str], span_s: dict,
                  html_bytes: int) -> dict:
    """Medians per timed pass from the event log, plus the layer spans.
    Layers this workload did not call are left out (reported as 0)."""
    per_pass = [eventlog.group_totals(folded, g) for g in pass_groups]

    def med(key):
        return statistics.median(p[key] for p in per_pass)

    vals = {
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.tasks": med("tasks"),
        "spark.executor_run_s": med("run_s"),
        "spark.python_worker_s": med("py_run_s"),
        "spark.shuffle_write_bytes": med("shuffle_write"),
        "spark.gc_s": med("gc_s"),
        "spark.peak_execution_memory_mb": med("peak_mem") / 2**20,
        "pipeline.bytes_to_python_per_input_byte": med("to_python") / html_bytes,
    }
    for metric, span in (("sources.scan_s", "sources.scan"),
                         ("dedup.latest_s", "dedup.latest"),
                         ("gates.s", "gates"), ("dedup.exact_s", "dedup.exact"),
                         ("dedup.minhash_s", "dedup.minhash"),
                         ("dedup.verify_s", "dedup.verify"),
                         ("dedup.components_s", "dedup.components")):
        if span in span_s:
            vals[metric] = span_s[span]
    if "dedup.latest" in span_s:
        vals["dedup.latest_shuffle_bytes"] = eventlog.group_totals(
            folded, "dedup.latest")["shuffle_write"]
    py = eventlog.python_stages(folded, "extract_pages")
    if py:
        task_ms = [t for s in py for t in s["task_ms"]]
        vals.update({
            "extract_pages.stage_s": sum(s["duration_ms"] for s in py) / 1000.0,
            "extract_pages.python_worker_s": sum(s["py_run_ms"] for s in py) / 1000.0,
            "extract_pages.bytes_to_python": sum(s["to_python"] for s in py),
            "extract_pages.bytes_from_python": sum(s["from_python"] for s in py),
            "extract_pages.task_skew": max(task_ms) / statistics.median(task_ms),
        })
    return vals
