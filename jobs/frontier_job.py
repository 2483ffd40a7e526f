"""Crawl-frontier entry point: candidate URLs → prioritized fetch list as
one spark-submit job (operators/frontier.py — canonicalize, robots gate,
seen-Bloom filter, PageRank priority, per-host cap).

Example (cluster):
    python jobs/package.py   # builds dist/final_ocr_spark.zip
    spark-submit \\
        --py-files dist/final_ocr_spark.zip \\
        jobs/frontier_job.py \\
        --candidates /data/sitemap_urls --robots /data/robots \\
        --seen-bloom /data/crawled.bloom --seen-urls /data/crawled \\
        --host-ranks /data/webgraph/pagerank \\
        --per-host-cap 10000 --output /data/frontier

Inputs are parquet tables:
    --candidates  (url, ...)            sitemap locs / outlinks / seeds
    --sitemaps    (sitemap_url, body)   alternative: parse sitemap bodies
                                        and use their <loc> rows as candidates
    --feeds       (feed_url, body)      alternative: parse RSS/Atom bodies
                                        and use their item links as candidates
    --robots      (host, robots_txt)
    --seen-bloom  bloom bitmap table (operators/bloom.build_bloom output)
    --seen-urls   (url, ...) exact crawl history
    --host-ranks  (id, rank)            jobs/graph_job.py pagerank output
Output: (url, host, priority) parquet at --output.
"""

from __future__ import annotations

import argparse
import os
import pathlib
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--candidates", help="parquet of candidate urls (url, ...)")
    src.add_argument("--sitemaps",
                     help="parquet of fetched sitemap bodies "
                          "(sitemap_url, body) — parsed, <loc> rows become "
                          "the candidates")
    src.add_argument("--feeds",
                     help="parquet of fetched RSS/Atom feed bodies "
                          "(feed_url, body) — parsed, item links become "
                          "the candidates (the freshness-driven source)")
    ap.add_argument("--robots", default=None,
                    help="parquet (host, robots_txt) rule table")
    ap.add_argument("--robots-agent", default="*")
    ap.add_argument("--seen-bloom", default=None,
                    help="bloom bitmap parquet (build_bloom output)")
    ap.add_argument("--seen-urls", default=None,
                    help="parquet of exactly-crawled urls")
    ap.add_argument("--host-ranks", default=None,
                    help="parquet (id, rank) — graph_job pagerank output")
    ap.add_argument("--per-host-cap", type=int, default=None)
    ap.add_argument("--schedule", action="store_true",
                    help="also assign politeness fetch waves (adds a 'wave' "
                         "column; honors Crawl-delay when --robots is given)")
    ap.add_argument("--per-host-per-wave", type=int, default=1)
    ap.add_argument("--wave-seconds", type=float, default=1.0)
    ap.add_argument("--output", required=True)
    args = ap.parse_args(argv)

    from final_ocr_spark.operators.frontier import build_frontier
    from final_ocr_spark.session import get_spark

    spark = get_spark(app_name="final-ocr-spark-frontier")
    spark.sparkContext.setLogLevel("WARN")

    if args.sitemaps:
        from final_ocr_spark.sources.sitemap import parse_sitemaps

        parsed = parse_sitemaps(spark.read.parquet(args.sitemaps))
        cands = (
            parsed.filter((parsed.kind == "url") & parsed.error.isNull())
            .select(parsed.loc.alias("url"))
        )
    elif args.feeds:
        from final_ocr_spark.sources.feeds import parse_feeds

        parsed = parse_feeds(spark.read.parquet(args.feeds))
        cands = (
            parsed.filter(parsed.error.isNull() & parsed.link.isNotNull())
            .select(parsed.link.alias("url"))
        )
    else:
        cands = spark.read.parquet(args.candidates)

    frontier = build_frontier(
        cands,
        robots=(spark.read.parquet(args.robots) if args.robots else None),
        robots_agent=args.robots_agent,
        seen_bloom=(
            spark.read.parquet(args.seen_bloom) if args.seen_bloom else None
        ),
        seen_urls=(
            spark.read.parquet(args.seen_urls) if args.seen_urls else None
        ),
        host_ranks=(
            spark.read.parquet(args.host_ranks) if args.host_ranks else None
        ),
        per_host_cap=args.per_host_cap,
    )
    if args.schedule:
        from final_ocr_spark.operators.frontier import schedule_frontier

        delays = None
        if args.robots:
            from final_ocr_spark.operators.robots import crawl_delays

            delays = crawl_delays(
                spark.read.parquet(args.robots), agent=args.robots_agent
            )
        frontier = schedule_frontier(
            frontier,
            per_host_per_wave=args.per_host_per_wave,
            wave_seconds=args.wave_seconds,
            host_delays=delays,
        )
    frontier.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"frontier: {n} urls -> {args.output}")


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
