"""Continuous-ingest entry point: streaming incremental corpus maintenance
(streaming/incremental_corpus.py) as one spark-submit job.

Each invocation drains every NEW file under --input (Trigger.AvailableNow
over the streaming checkpoint — files already processed by a previous run
are never re-read), dedups each micro-batch within itself and against the
accumulated signature store, and idempotently appends survivors to the
corpus. Run it from cron/Airflow per crawl drop; a crashed run resumes
safely (batch replay overwrites its own batch_id directory).

Example (cluster):
    python jobs/package.py   # builds dist/final_ocr_spark.zip
    spark-submit \\
        --py-files dist/final_ocr_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/ingest_job.py \\
        --input /data/extracted_drops --corpus /data/corpus \\
        --sigs /data/corpus_sigs --checkpoint /data/ingest_ckpt

Local smoke:
    python jobs/ingest_job.py --input /tmp/drops --corpus /tmp/c \\
        --sigs /tmp/s --checkpoint /tmp/ck --schema "url string, text string" \\
        --key url --text-col text
"""

from __future__ import annotations

import argparse
import os
import pathlib
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="directory new extracted-doc parquet files land in "
                         "(or raw WARC archives with --warc)")
    ap.add_argument("--warc", action="store_true",
                    help="treat --input as a WARC drop directory: per "
                         "micro-batch WARC parse + extraction happen "
                         "BEFORE the dedup ingest")
    ap.add_argument("--warc-glob", default="*.warc*")
    ap.add_argument("--corpus", required=True, help="deduped corpus sink")
    ap.add_argument("--sigs", required=True, help="signature store")
    ap.add_argument("--checkpoint", required=True,
                    help="streaming source-progress checkpoint")
    ap.add_argument("--key", default="url")
    ap.add_argument("--text-col", default="extracted_text")
    ap.add_argument("--schema", default=None,
                    help="input DDL schema; default = the engine's "
                         "EXTRACTED_SCHEMA")
    ap.add_argument("--num-hashes", type=int, default=32)
    ap.add_argument("--bands", type=int, default=8)
    ap.add_argument("--shingle-k", type=int, default=5)
    ap.add_argument("--jaccard", type=float, default=0.85)
    ap.add_argument("--max-files-per-trigger", type=int, default=None,
                    help="bound micro-batch size for huge drops")
    ap.add_argument("--quarantine", default=None,
                    help="(--warc only) record framing/extraction "
                         "quarantine rows here instead of dropping them")
    ap.add_argument("--compact-store", action="store_true",
                    help="after the stream drains, bin-pack old batch_id "
                         "partitions of the signature store (+ sidecars, "
                         "Blooms merged) and the corpus — the availableNow "
                         "drain makes this run a safe maintenance window")
    ap.add_argument("--compact-min-partitions", type=int, default=16,
                    help="skip compaction below this many old partitions "
                         "(avoids write amplification on young stores)")
    args = ap.parse_args(argv)
    if args.warc:
        # --warc fixes the post-extraction shape: key is url, text column
        # is extracted_text, schema is the extractor's — reject silently-
        # ignored / crash-later combinations up front
        if args.key != "url" or args.text_col != "extracted_text" \
                or args.schema is not None:
            ap.error("--warc implies --key url / --text-col extracted_text "
                     "and no --schema (extraction fixes the shape)")
    elif args.quarantine:
        ap.error("--quarantine requires --warc")
    if args.compact_store:
        # refuse remote URIs BEFORE the (potentially hours-long) stream
        # drains: compact_* raise NotImplementedError on non-local stores,
        # and discovering that only after awaitTermination wastes the whole
        # run and skips the final row-count print (review-caught)
        from final_ocr_spark.streaming.incremental_corpus import _local_path

        for label, d in (("--sigs", args.sigs), ("--corpus", args.corpus)):
            if _local_path(d) is None:
                ap.error(
                    f"--compact-store needs a local-filesystem {label} "
                    f"(got {d!r}); run compaction on the store host or "
                    f"drop the flag"
                )

    from final_ocr_spark.session import get_spark
    from final_ocr_spark.streaming.incremental_corpus import (
        stream_dedup_ingest,
        stream_warc_ingest,
    )

    spark = get_spark(app_name="final-ocr-spark-ingest")
    spark.sparkContext.setLogLevel("WARN")

    if args.warc:
        q = stream_warc_ingest(
            spark,
            warc_dir=args.input,
            corpus_dir=args.corpus,
            sigs_dir=args.sigs,
            checkpoint_dir=args.checkpoint,
            glob=args.warc_glob,
            key=args.key,
            num_hashes=args.num_hashes,
            bands=args.bands,
            shingle_k=args.shingle_k,
            jaccard_threshold=args.jaccard,
            max_files_per_trigger=args.max_files_per_trigger,
            quarantine_dir=args.quarantine,
        )
    else:
        q = stream_dedup_ingest(
            spark,
            input_dir=args.input,
            corpus_dir=args.corpus,
            sigs_dir=args.sigs,
            checkpoint_dir=args.checkpoint,
            key=args.key,
            text_col=args.text_col,
            input_schema=args.schema,
            num_hashes=args.num_hashes,
            bands=args.bands,
            shingle_k=args.shingle_k,
            jaccard_threshold=args.jaccard,
            max_files_per_trigger=args.max_files_per_trigger,
        )
    q.awaitTermination()
    if args.compact_store:
        # the stream has fully drained (availableNow), so no ingest can race
        # the rename-based swap — the contract compact_batch_store documents
        from final_ocr_spark.streaming.incremental_corpus import (
            compact_batch_store,
            compact_signature_store,
        )

        st = compact_signature_store(
            spark, args.sigs, min_partitions=args.compact_min_partitions
        )
        print(f"signature-store compaction: {st}")
        if pathlib.Path(args.corpus).is_dir():
            st = compact_batch_store(
                spark, args.corpus,
                min_partitions=args.compact_min_partitions,
            )
            print(f"corpus compaction: {st}")
    try:
        n = spark.read.parquet(args.corpus).count()
    except Exception:
        # a run that drained zero batches (no new drops yet) never creates
        # the corpus directory — that is a successful no-op ingest
        n = 0
    print(f"corpus rows after ingest: {n} -> {args.corpus}")


if __name__ == "__main__":
    # run as a script or by spark-submit: the repo on sys.path lets the
    # driver import the package, and on PYTHONPATH the Python workers
    # Spark forks (with --py-files the zip provides it instead)
    _REPO = str(pathlib.Path(__file__).resolve().parent.parent)
    sys.path.insert(0, _REPO)
    os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
    main()
    from pyspark.sql import SparkSession

    SparkSession.getActiveSession().stop()
