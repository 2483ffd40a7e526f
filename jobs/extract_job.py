"""Production entry point: spark-submit --py-files final_ocr_spark.zip jobs/extract_job.py

Example (cluster):
    python jobs/package.py   # builds dist/final_ocr_spark.zip
    spark-submit \\
        --py-files dist/final_ocr_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/extract_job.py \\
        --input /data/pages --output /data/extracted \\
        --num-parts 4096 --num-groups 64 --resume

Local smoke:
    python jobs/extract_job.py --synthetic 5000 --output /tmp/extracted_demo
"""

from __future__ import annotations

import argparse
import os
import pathlib
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet/table path")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic pages instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--catalog", default=None,
                    help="snapshot-catalog root: --input/--output become "
                         "TABLE NAMES read/published through the catalog "
                         "(Iceberg-emulation; SURVEY §4.3)")
    ap.add_argument("--num-parts", type=int, default=256)
    ap.add_argument("--num-groups", type=int, default=16)
    ap.add_argument("--partitions", type=int, default=None,
                    help="salted pre-repartition for host-clustered inputs")
    ap.add_argument("--no-dedup", action="store_true")
    ap.add_argument("--no-resume", action="store_true",
                    help="single atomic write, no manifest checkpointing")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args(argv)
    if not (args.synthetic or args.input):
        ap.error("one of --input / --synthetic is required")

    from final_ocr_spark.session import get_spark

    spark = get_spark(app_name="final-ocr-spark-extract")
    spark.sparkContext.setLogLevel("WARN")

    catalog = None
    if args.catalog:
        from final_ocr_spark.sources.catalog import SnapshotCatalog

        catalog = SnapshotCatalog(args.catalog)

    if args.synthetic:
        from final_ocr_spark.sources.synthetic_pages import gen_pages

        pages = gen_pages(spark, args.synthetic, seed=args.seed)
    elif catalog:
        pages = catalog.read(spark, args.input)
    else:
        pages = spark.read.parquet(args.input)

    if args.no_resume:
        from final_ocr_spark.operators.extract_pages import extract_pages

        ext = extract_pages(pages, dedup=not args.no_dedup, partitions=args.partitions)
        if catalog:
            snap = catalog.write(ext.sortWithinPartitions("url"), args.output,
                                 mode="overwrite")
            out = catalog.read(spark, args.output)
            dest = f"{args.catalog}::{args.output}@snap{snap['snapshot_id']}"
        else:
            ext.sortWithinPartitions("url").write.mode("overwrite").parquet(args.output)
            out, dest = spark.read.parquet(args.output), args.output
    else:
        from final_ocr_spark.plans.manifest import extract_with_resume

        work_dir = (f"{args.catalog}/_work/{args.output}" if catalog else args.output)
        done = extract_with_resume(
            spark, pages, work_dir,
            num_parts=args.num_parts, num_groups=args.num_groups,
            dedup=not args.no_dedup,
        )
        if catalog:
            # publish the completed resume output as a new table snapshot
            snap = catalog.write(done.drop("part_id"), args.output, mode="overwrite")
            out = catalog.read(spark, args.output)
            dest = f"{args.catalog}::{args.output}@snap{snap['snapshot_id']}"
        else:
            out, dest = done, args.output

    print(f"extracted rows: {out.count()} -> {dest}")


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
