"""Corpus-statistics entry point: the text-analytics layer (quality
profile, language rollup, heavy hitters, per-doc TF-IDF, vocabulary
count-min sketch) over an extracted corpus as one spark-submit job.

Example (cluster):
    python jobs/package.py   # builds dist/final_ocr_spark.zip
    spark-submit \\
        --py-files dist/final_ocr_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/stats_job.py \\
        --input /data/corpus --output /data/corpus_stats \\
        --top-k 100 --tfidf-k 10

Local smoke:
    python jobs/stats_job.py --synthetic 500 --output /tmp/stats_demo

Output layout (parquet tables under --output):
    profile/        per-doc quality features + score + tokens + fingerprint
    lang_rollup/    docs + mean quality per language
    heavy_hitters/  exact top-k corpus terms (Misra-Gries + exact recount)
    tfidf/          per-doc top terms by smoothed TF-IDF (optional)
    cms/            count-min sketch table (term-frequency service)
"""

from __future__ import annotations

import argparse
import os
import pathlib
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="corpus parquet path with (url|doc id, text, lang?)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic docs instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--key-col", default="url")
    ap.add_argument("--top-k", type=int, default=100)
    ap.add_argument("--counters", type=int, default=20000,
                    help="Misra-Gries slots (hitter guarantee: count > n/counters)")
    ap.add_argument("--tfidf-k", type=int, default=0,
                    help="per-doc top TF-IDF terms; 0 disables the stage")
    ap.add_argument("--cms-depth", type=int, default=4)
    ap.add_argument("--dataset-card", default=None, metavar="PATH.md",
                    help="also render a markdown dataset card (+ .json) of "
                         "bounded corpus statistics at this path")
    ap.add_argument("--funnel", action="store_true",
                    help="also write funnel/ — per-gate drop counts "
                         "(attribution + overlap + cumulative remaining) "
                         "for the pipeline's scan-local quality gates, "
                         "computed in one pass")
    # the --funnel-* options default to SUPPRESS, so an unset one is absent
    # and gate_funnel's own default applies; dest = funnel_<kwarg>
    ap.add_argument("--funnel-min-quality", type=float,
                    default=argparse.SUPPRESS)
    ap.add_argument("--funnel-wordlist", default=argparse.SUPPRESS,
                    dest="funnel_flagged_wordlist", metavar="FILE",
                    help="one flagged token per line (wordlist gate row)")
    from jobs._cli import band_type, read_lines

    ap.add_argument("--funnel-compression-band", default=argparse.SUPPRESS,
                    metavar="LO:HI", type=band_type)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args(argv)
    if not (args.synthetic or args.input):
        ap.error("one of --input / --synthetic is required")

    from pyspark.sql import functions as F

    from final_ocr_spark.session import get_spark

    spark = get_spark(app_name="final-ocr-spark-stats")
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        from final_ocr_spark.operators.extract_pages import extract_pages
        from final_ocr_spark.sources.synthetic_pages import gen_pages

        ext = extract_pages(gen_pages(spark, args.synthetic, seed=args.seed),
                            dedup=True)
        docs = ext.filter(F.col("error").isNull()).select(
            "url", F.col("extracted_text").alias(args.text_col), "lang")
        args.key_col = "url"
    else:
        docs = spark.read.parquet(args.input)
        if args.partitions:
            docs = docs.repartition(args.partitions)

    from final_ocr_spark.operators.dedup import sketch_words
    from final_ocr_spark.operators.sketches import cms_build, heavy_hitters
    from final_ocr_spark.operators.text_stats import (
        profile_documents, tf_idf_top_terms)

    out = pathlib.Path(args.output)

    profile = profile_documents(docs, text_col=args.text_col,
                                lang_col="lang" if "lang" in docs.columns else None)
    profile.write.mode("overwrite").parquet(str(out / "profile"))
    profile = spark.read.parquet(str(out / "profile"))

    lang_col = "lang" if "lang" in profile.columns else "lang_detected"
    (profile.groupBy(lang_col)
     .agg(F.count(F.lit(1)).alias("n_docs"),
          F.round(F.avg("quality_score"), 4).alias("avg_quality"))
     .write.mode("overwrite").parquet(str(out / "lang_rollup")))

    toks = docs.select(
        F.explode(sketch_words(F.col(args.text_col))).alias("term"))
    (heavy_hitters(toks, "term", k=args.top_k, counters=args.counters)
     .write.mode("overwrite").parquet(str(out / "heavy_hitters")))

    (cms_build(toks, "term", depth=args.cms_depth)
     .write.mode("overwrite").parquet(str(out / "cms")))

    if args.tfidf_k:
        (tf_idf_top_terms(docs, args.key_col, args.text_col, k=args.tfidf_k)
         .write.mode("overwrite").parquet(str(out / "tfidf")))

    funnel = None
    if args.funnel:
        from final_ocr_spark.plans.funnel import gate_funnel

        opts = {dest.removeprefix("funnel_"): v
                for dest, v in vars(args).items() if dest.startswith("funnel_")}
        if "flagged_wordlist" in opts:
            opts["flagged_wordlist"] = read_lines(opts["flagged_wordlist"])
        funnel = gate_funnel(docs, text_col=args.text_col, **opts)
        funnel.coalesce(1).write.mode("overwrite").parquet(str(out / "funnel"))
        for r in funnel.collect():
            print(f"funnel: {r['gate']:<12} failed_any={r['n_failed_any']:<8} "
                  f"failed_first={r['n_failed_first']:<8} "
                  f"remaining={r['remaining']}")

    if args.dataset_card:
        from final_ocr_spark.sources.dataset_card import write_dataset_card
        from final_ocr_spark.streaming.stateful import with_host

        card_in = docs
        # host section requires a real url column; derive host only then
        # (a non-url --key-col cannot be assumed to hold urls — the card
        # just omits its host tables in that case)
        if "host" not in card_in.columns and "url" in card_in.columns:
            card_in = with_host(card_in)
        stats = write_dataset_card(
            card_in, args.dataset_card, name=pathlib.Path(args.output).name,
            text_col=args.text_col,
            # --funnel + --dataset-card: publish the retention table on the
            # card itself (the FineWeb/Dolma release shape), not just as a
            # side parquet
            funnel=funnel,
        )
        print(f"dataset card written: {args.dataset_card} "
              f"docs={stats['docs']} tokens={stats['tokens']}")

    for name in ("profile", "lang_rollup", "heavy_hitters", "cms") + (
            ("tfidf",) if args.tfidf_k else ()):
        n = spark.read.parquet(str(out / name)).count()
        print(f"stats written: {out / name} rows={n}")


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
