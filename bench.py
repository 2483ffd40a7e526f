"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default: the host's
core count, as ``nproc`` reports it) and prints ONE JSON
line:  {"metric": ..., "value": total_sec, "unit": "sec",
        "queries": {name: sec}, "sf": sf, ...extras}

The headline set covers the engine's hot paths: the flagship extraction
(mapInPandas over HTML+PDF corpus — the north-rule workload), the rollup/join
shapes, near-dup LSH, and cosine top-k. Every query is forced with a noop
write (full computation, no driver collect).
"""

from __future__ import annotations

import json
import os
import time


def _force(df) -> int:
    return df.count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1

    from final_ocr_spark.session import get_spark

    spark = get_spark(
        app_name="final-ocr-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from final_ocr_spark.operators.extract_pages import extract_pages
    from final_ocr_spark.sources.synthetic_pages import gen_pages

    # extraction corpus scaled with sf (sf0.1 → 6000 pages)
    n_pages = max(int(60000 * sf), 500)

    def bench_extract(spark, _sf_dir):
        # generation partitions provide the parallelism; extraction fuses into
        # the same python stage (no pre-shuffle), dedup shuffles only the
        # extracted output.  NOTE: this series TIMES THE SYNTHETIC GENERATOR
        # TOO (pure-Python page synthesis in the same stage) — kept for
        # r1/r2 comparability; extract_pages_scan below is the
        # metric-faithful form (corpus pre-written, timed part = scan +
        # extract, same shape as BENCH/scaling.py).
        pages = gen_pages(spark, n_pages, seed=42, partitions=cpus * 4)
        return extract_pages(pages, dedup=True)

    import pathlib

    corpus_dir = pathlib.Path(f"/tmp/final_ocr_spark_bench/bench_{n_pages}_42.parquet")
    # _SUCCESS check: a crashed previous write leaves a partial directory;
    # benchmarking a truncated corpus would silently inflate docs/s
    if not (corpus_dir / "_SUCCESS").exists():
        gen_pages(spark, n_pages, seed=42, partitions=cpus * 4) \
            .write.mode("overwrite").parquet(str(corpus_dir))

    from final_ocr_spark.plans.latency import latency_histogram, percentiles

    lat_acc = latency_histogram(spark.sparkContext)

    def bench_extract_scan(spark, _sf_dir):
        # latency histogram rides the metric-faithful series (BASELINE.md
        # protocol #4); accumulates across the cold+warm passes
        return extract_pages(
            spark.read.parquet(str(corpus_dir)), dedup=True, latency_acc=lat_acc
        )

    def bench_minhash(spark, sf_dir):
        # the FULL-corpus near-dup pipeline only (r1/r2-comparable): the
        # driver-gate q19 also unions the incremental stage since r3, which
        # would shift this series for a non-performance reason
        return entrymod._verified_near_dup_pairs(
            entrymod._mutated_corpus(spark, sf_dir)
        )

    qs = entrymod.queries()
    headline = {
        "extract_pages": bench_extract,
        "extract_pages_scan": bench_extract_scan,
        "q1_rollup": qs["q1_rollup"],
        "q2_parent_child": qs["q2_parent_child"],
        "q3_dedup_latest": qs["q3_dedup_latest"],
        "q15_token_quality": qs["q15_token_quality"],
        "q17_cosine_topk": qs["q17_cosine_topk"],
        "q19_minhash_pairs": bench_minhash,
        "q23_quality_profile": qs["q23_quality_profile"],
        "q25_batch_topk": qs["q25_batch_topk"],
        "q39_gopher_repetition": qs["q39_gopher_repetition"],
    }

    # warm-up: JVM/codegen/Python-worker spin-up excluded from timings
    _force(extract_pages(gen_pages(spark, 200, seed=1), dedup=True))
    _force(qs["q1_rollup"](spark, sf_dir))

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name, fn in headline.items():
        t0 = time.monotonic()
        rows[name] = _force(fn(spark, sf_dir))
        timings[name] = round(time.monotonic() - t0, 3)

    # second, warm pass: the first execution of a plan pays whole-stage-
    # codegen compilation + JVM JIT + Python-worker/Arrow spin-up for ITS
    # stages — measured 3-4x over steady state for q19/q25 in isolated
    # fresh-JVM runs (BENCH/requery.py). `queries` above stays the r1/r2-
    # comparable cold series; `queries_warm` is the steady-state number
    # that predicts sustained-throughput behavior on a long-lived cluster.
    warm: dict[str, float] = {}
    for name, fn in headline.items():
        t0 = time.monotonic()
        _force(fn(spark, sf_dir))
        warm[name] = round(time.monotonic() - t0, 3)

    # round-4 operator extras: timed separately and NOT folded into `value`
    # (keeps the headline total r1–r3-comparable); one cold pass each over
    # the sf documents table — the new-operator cost record the per-round
    # BENCH json would otherwise lack.
    from pyspark.sql import functions as F

    def _docs(spark):
        # the sf tables are single parquet files, which Spark reads as ONE
        # partition at this size — repartition so the extras measure the
        # distributed shape (at real scale the table is thousands of
        # files and this spread is the natural state, not an added cost)
        return (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .repartition(cpus)
        )

    def extra_pack(spark):
        from final_ocr_spark.operators.packing import pack_chunks

        words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
        d = _docs(spark).select(
            "doc_id", F.transform(words, lambda w: F.length(w)).alias("ids")
        )
        return pack_chunks(d, "doc_id", "ids", budget=1024, eos_id=0).count()

    def extra_funnel(spark):
        from final_ocr_spark.plans.funnel import gate_funnel

        return gate_funnel(
            _docs(spark).select("doc_id", "lang", "text"),
            min_quality=50.0, gopher=True, compression_band=(0.05, 0.98),
        ).count()

    def extra_jsonl(spark):
        import shutil
        import tempfile

        from final_ocr_spark.sources.shards import write_jsonl_shards

        out = tempfile.mkdtemp(prefix="bench_jsonl_")
        try:
            m = write_jsonl_shards(
                _docs(spark).select("doc_id", "lang", "text"), out, "doc_id"
            )
            return sum(r["records"] for r in m)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def extra_temperature(spark):
        from final_ocr_spark.operators.sampling import temperature_mixture

        return temperature_mixture(
            _docs(spark).select("doc_id", "lang"), "lang", "doc_id", alpha=0.3
        ).count()

    def extra_semantic_kmeans(spark):
        # the kmeans/semantic-dedup representative (r4 verdict asked for an
        # sf-paired row): paper-faithful SemDeDup over the embeddings
        # table, k scaled with corpus size per the paper's own cost model
        # (k ≈ n / expected cluster size, so within-cluster pair work stays
        # (cluster size)² per cluster instead of growing with n²/k)
        from final_ocr_spark.operators.similarity import semantic_dedup_kmeans

        emb = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        ).repartition(cpus)
        k = max(8, emb.count() // 64)
        return semantic_dedup_kmeans(emb, k=k, threshold=0.97).count()

    def extra_pipeline_default(spark):
        # end-to-end corpus_pipeline with PURE DEFAULTS — since r5 the
        # default gopher gate is the Arrow fast path, and this entry is the
        # production-default wall time. FIXED 6k-page corpus regardless of
        # sf (the per-stage sf-scaling evidence lives in the headline and
        # gate rows; this row tracks the whole-pipeline default per round).
        from final_ocr_spark.pipeline import corpus_pipeline

        fixed = pathlib.Path("/tmp/final_ocr_spark_bench/bench_6000_42.parquet")
        if not (fixed / "_SUCCESS").exists():
            gen_pages(spark, 6000, seed=42, partitions=cpus * 4) \
                .write.mode("overwrite").parquet(str(fixed))
        return corpus_pipeline(spark.read.parquet(str(fixed))).count()

    def extra_gopher_gate_arrow(spark):
        # gate-only row (sf-scaled): the pipeline's Gopher gate kernel
        # (the Arrow UDF) alone over the documents table
        from final_ocr_spark.operators.repetition import (
            gopher_repetition_keep_udf,
        )

        return _docs(spark).select("doc_id", "text").filter(
            gopher_repetition_keep_udf()(F.col("text"))
        ).count()

    queries_extra: dict[str, dict] = {}
    for name, fn in {
        "pack_chunks_1024": extra_pack,
        "gate_funnel": extra_funnel,
        "jsonl_shards": extra_jsonl,
        "temperature_mixture": extra_temperature,
        "semantic_dedup_kmeans": extra_semantic_kmeans,
        "pipeline_default_6k": extra_pipeline_default,
        "gopher_gate_arrow": extra_gopher_gate_arrow,
    }.items():
        t0 = time.monotonic()
        n = fn(spark)
        queries_extra[name] = {"sec": round(time.monotonic() - t0, 3), "rows": n}

    total = round(sum(timings.values()), 3)
    # headline docs/s from the scan-based form — the BASELINE.json metric is
    # extraction over a stored table, not over an inline python generator
    docs_per_sec = round(n_pages / timings["extract_pages_scan"], 1)
    docs_per_sec_inline_gen = round(n_pages / timings["extract_pages"], 1)
    print(
        json.dumps(
            {
                "metric": "headline suite wall time (extraction + rollup/join/dedup/ann)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_warm": warm,
                "sf": sf,
                "extract_docs": n_pages,
                "extract_docs_per_sec": docs_per_sec,
                "extract_docs_per_sec_inline_gen": docs_per_sec_inline_gen,
                "cpus": cpus,
                "rows": rows,
                "queries_extra": queries_extra,
                "udf_batch_latency_ms": percentiles(lat_acc.value),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
