"""Capture .explain('formatted') for the round-6-touched queries.

Usage: python plans/r06/capture.py <before|after> [query ...]
Run from a tree (repo root on sys.path decides which implementation you
capture). Writes plans/r06/<query>_<tag>.txt IN THE ROUND-6 REPO.
The session takes ``get_spark``'s defaults (``local[$SPARK_GRAFT_CPUS]``,
else every core) and targets repartition to its ``defaultParallelism``,
so the captured plans are shaped for the host they run on.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())  # capture the CWD tree's implementation

OUT_DIR = "/root/repo/plans/r06"
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1]
    only = set(sys.argv[2:])
    from final_ocr_spark.session import get_spark

    spark = get_spark(app_name=f"plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    slots = spark.sparkContext.defaultParallelism
    import __spark_entry__ as em

    targets = {
        "q2_parent_child": lambda: em._q2_parent_child(spark, SF),
        "q19_minhash_pairs": lambda: em._verified_near_dup_pairs(
            em._mutated_corpus(spark, SF)),
        "q39_gopher_repetition": lambda: em._q39_gopher_repetition(spark, SF),
        "q17_cosine_topk": lambda: em._q17_cosine_topk(spark, SF),
    }

    def _extra(name):
        if name == "pack_chunks_1024":
            from pyspark.sql import functions as F

            from final_ocr_spark.operators.packing import pack_chunks
            words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
            d = (
                spark.read.parquet(os.path.join(SF, "documents.parquet"))
                .repartition(slots)
                .select("doc_id",
                        F.transform(words, lambda w: F.length(w)).alias("ids"))
            )
            return pack_chunks(d, "doc_id", "ids", budget=1024, eos_id=0)
        if name == "pipeline_default_6k":
            from final_ocr_spark.pipeline import corpus_pipeline
            pages = spark.read.parquet(
                "/tmp/final_ocr_spark_bench/bench_6000_42.parquet")
            return corpus_pipeline(pages)
        if name == "semantic_dedup_kmeans":
            from final_ocr_spark.operators.similarity import (
                semantic_dedup_kmeans,
            )
            emb = spark.read.parquet(
                os.path.join(SF, "embeddings.parquet")
            ).repartition(slots)
            # fixed k = max(8, n // 64) for sf0.1's 2,000 embeddings, so
            # building the target runs no job
            return semantic_dedup_kmeans(emb, k=31, threshold=0.97)
        raise KeyError(name)

    for name in ["pack_chunks_1024", "pipeline_default_6k",
                 "semantic_dedup_kmeans"]:
        targets[name] = (lambda n=name: _extra(n))

    for name, fn in targets.items():
        if only and name not in only:
            continue
        df = fn()
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted")
        )
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
