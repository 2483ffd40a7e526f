"""Production entry point: corpus → training-ready packed chunks.

Trains a BPE tokenizer over the corpus (or reuses a previously-trained
merges table), encodes every document to vocabulary ids, and packs them
into fixed-length chunks GPT-style (documents concatenated in key order,
<eos>-separated, spanning chunk boundaries) — the final step between a
cleaned web corpus (jobs/corpus_job.py output) and a training job.

Outputs under --output:
    chunks/   (chunk_id, input_ids array<int>, n_tokens, n_docs)
    vocab/    (token, id) — specials <pad>=0 <eos>=1 <unk>=2 first
    merges/   (rank, left, right) — reusable via --merges-input

Example (cluster):
    python jobs/package.py   # builds dist/final_ocr_spark.zip
    spark-submit \\
        --py-files dist/final_ocr_spark.zip \\
        jobs/pack_job.py \\
        --input /data/corpus --output /data/packed --budget 2048

Local smoke:
    python jobs/pack_job.py --synthetic 300 --output /tmp/packed_demo \\
        --budget 256 --n-merges 200
"""

from __future__ import annotations

import argparse
import os
import pathlib
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="corpus parquet path (url, text, ...)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate + extract N synthetic pages instead of "
                         "--input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--budget", type=int, default=2048,
                    help="tokens per training chunk")
    ap.add_argument("--order-col", default="url",
                    help="unique column fixing the global document order")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--n-merges", type=int, default=8000,
                    help="BPE merges to train (ignored with --merges-input)")
    ap.add_argument("--merges-input", default=None,
                    help="reuse a previously-trained (rank, left, right) "
                         "merges parquet instead of training")
    ap.add_argument("--pad", action="store_true",
                    help="pad the final short chunk with <pad> instead of "
                         "dropping it")
    ap.add_argument("--provenance", action="store_true",
                    help="add a docs column to every chunk: per contributing "
                         "document its [start,end) token span and key — the "
                         "opt-out/takedown audit map (chunk_taint)")
    ap.add_argument("--shuffle-salt", default=None,
                    help="write chunks in a reproducible pseudo-random "
                         "order keyed on this salt (the pre-training "
                         "global shuffle; each output file is a contiguous "
                         "slice of the shuffled order) — omit for "
                         "chunk_id order")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--bin-output", default=None, metavar="DIR",
                    help="also export the chunks as flat little-endian "
                         "token-id shards (part-NNNNN.bin + index.json + "
                         "checksummed manifest) — the memmap layout "
                         "training loaders mount directly")
    ap.add_argument("--bin-dtype", choices=["uint16", "uint32"],
                    default="uint16",
                    help="token width for --bin-output; ids that do not "
                         "fit fail the job loudly (no silent wraparound)")
    args = ap.parse_args(argv)
    if args.budget < 2:
        ap.error("--budget must be >= 2")
    if not args.synthetic and not args.input:
        # pure-argparse check — fail before a JVM boots
        ap.error("one of --input / --synthetic is required")

    from final_ocr_spark.session import get_spark

    spark = get_spark(app_name="final-ocr-spark-pack")
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        from final_ocr_spark.operators.extract_pages import extract_pages
        from final_ocr_spark.sources.synthetic_pages import gen_pages

        corpus = (
            extract_pages(gen_pages(spark, args.synthetic, seed=args.seed))
            .filter("error is null")
            .selectExpr(
                f"{args.order_col}", f"extracted_text as {args.text_col}"
            )
        )
    else:
        corpus = spark.read.parquet(args.input)

    from final_ocr_spark.operators.bpe import train_bpe
    from final_ocr_spark.operators.packing import tokenize_and_pack

    # the corpus is scanned by the vocab pass AND the encode pass —
    # materialize once so tokenization cost is paid per pass, not per
    # upstream-pipeline re-execution
    corpus = corpus.localCheckpoint(eager=False)

    if args.merges_input:
        merges = spark.read.parquet(args.merges_input)
    else:
        merges = train_bpe(
            corpus, text_col=args.text_col, n_merges=args.n_merges
        )

    chunks, vocab = tokenize_and_pack(
        corpus, merges, args.budget,
        text_col=args.text_col, order_col=args.order_col, pad=args.pad,
        provenance=args.provenance,
    )
    out = args.output.rstrip("/")
    if args.shuffle_salt is not None:
        from final_ocr_spark.operators.sampling import shuffle_order

        key = shuffle_order("chunk_id", args.shuffle_salt)
        n_out = chunks.sparkSession.conf.get("spark.sql.shuffle.partitions")
        chunks = (
            chunks.repartitionByRange(int(n_out), key)
            .sortWithinPartitions(key)
        )
    chunks.write.mode("overwrite").parquet(f"{out}/chunks")
    vocab.write.mode("overwrite").parquet(f"{out}/vocab")
    if args.merges_input:
        # never rewrite merges we only read: with --merges-input pointing at
        # a previous run's {output}/merges (the natural reuse workflow) an
        # overwrite would target the very path being lazily read
        print(f"merges reused from: {args.merges_input} (not rewritten)")
    else:
        merges.write.mode("overwrite").parquet(f"{out}/merges")

    n = spark.read.parquet(f"{out}/chunks").count()
    v = spark.read.parquet(f"{out}/vocab").count()
    print(f"chunks written: {out}/chunks rows={n} budget={args.budget}")
    print(f"vocab written: {out}/vocab tokens={v}")
    if args.bin_output:
        # read back the just-written chunks: the bin export must reflect
        # exactly what landed in parquet (including the shuffle order),
        # and the re-read avoids re-running the whole tokenize plan.
        # Padded short chunks are budget-length and export fine; with
        # drop_last the final short chunk never reached parquet either.
        from final_ocr_spark.sources.shards import write_token_shards

        export = spark.read.parquet(f"{out}/chunks")
        order = "chunk_id"
        if args.shuffle_salt is not None:
            # preserve the reproducible training-shuffle order in the
            # byte layout (recompute the same key; it is a pure function
            # of chunk_id + salt)
            from final_ocr_spark.operators.sampling import shuffle_order

            export = export.withColumn(
                "_shuf", shuffle_order("chunk_id", args.shuffle_salt)
            )
            order = "_shuf"
        rows = write_token_shards(
            export, args.bin_output,
            budget=args.budget, dtype=args.bin_dtype, order_col=order,
        )
        tot = sum(m["chunks"] for m in rows)
        print(f"bin shards written: {args.bin_output} chunks={tot} "
              f"dtype={args.bin_dtype} "
              f"files={sum(1 for m in rows if m['file'])}")


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
