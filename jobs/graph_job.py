"""Web-graph entry point: pages → outlink edges → host graph → PageRank as
one spark-submit job (operators/links.py).

Example (cluster):
    python jobs/package.py   # builds dist/final_ocr_spark.zip
    spark-submit \\
        --py-files dist/final_ocr_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/graph_job.py \\
        --input /data/pages --output /data/webgraph --iterations 20

Local smoke:
    python jobs/graph_job.py --synthetic 500 --output /tmp/graph_demo

Output layout (parquet tables under --output):
    outlinks/    (url, target_url, anchor_text, nofollow) edge rows
    host_graph/  (src_host, dst_host, weight)
    pagerank/    (id, rank) — host-level rank, sums to 1 (skipped when the
                 host graph is empty, e.g. a single-host crawl slice)
"""

from __future__ import annotations

import argparse
import os
import pathlib
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet path (url, html, ...)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic pages instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--max-links", type=int, default=1000,
                    help="per-page outlink cap (link-farm defense)")
    ap.add_argument("--keep-nofollow", action="store_true",
                    help="count rel=nofollow links in the host graph")
    ap.add_argument("--iterations", type=int, default=20)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--partitions", type=int, default=None,
                    help="edge-table partitioning for the rank iterations")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args(argv)
    if not (args.synthetic or args.input):
        ap.error("one of --input / --synthetic is required")

    from final_ocr_spark.session import get_spark

    spark = get_spark(app_name="final-ocr-spark-graph")
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        from final_ocr_spark.sources.synthetic_pages import gen_pages

        pages = gen_pages(spark, args.synthetic, seed=args.seed)
    else:
        pages = spark.read.parquet(args.input)

    from final_ocr_spark.operators.links import (
        extract_outlinks,
        host_graph,
        pagerank,
    )

    out = pathlib.Path(args.output)
    edges = extract_outlinks(pages, max_links=args.max_links)
    edges.write.mode("overwrite").parquet(str(out / "outlinks"))
    edges = spark.read.parquet(str(out / "outlinks"))  # reuse, don't re-parse

    g = host_graph(edges, drop_nofollow=not args.keep_nofollow)
    g.write.mode("overwrite").parquet(str(out / "host_graph"))
    g = spark.read.parquet(str(out / "host_graph"))

    n_edges, n_pairs = edges.count(), g.count()
    if n_pairs > 0:
        ranks = pagerank(
            g,
            iterations=args.iterations,
            damping=args.damping,
            partitions=args.partitions,
        )
        ranks.write.mode("overwrite").parquet(str(out / "pagerank"))
        n_hosts = spark.read.parquet(str(out / "pagerank")).count()
    else:
        n_hosts = 0
        print("host graph is empty (single-host crawl?); pagerank skipped")
    print(
        f"webgraph written: {args.output} outlinks={n_edges} "
        f"host_pairs={n_pairs} ranked_hosts={n_hosts}"
    )


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
