"""Production entry point: the full corpus pipeline (extract → hygiene →
dedup → caps → sample) as one spark-submit job.

Example (cluster):
    python jobs/package.py   # builds dist/final_ocr_spark.zip
    spark-submit \\
        --py-files dist/final_ocr_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/corpus_job.py \\
        --input /data/pages --output /data/corpus \\
        --host-cap 100000 --sample-rate 0.5

Local smoke:
    python jobs/corpus_job.py --synthetic 2000 --output /tmp/corpus_demo

The pipeline flags have no defaults of their own: a flag left unset takes
``corpus_pipeline``'s value, or the ``--preset``'s. Only the flags typed on
the command line reach the call (and, with a preset, override it).
"""

from __future__ import annotations

import argparse
import inspect
import os
import pathlib
import sys


def _build_parser() -> argparse.ArgumentParser:
    from final_ocr_spark.presets import PRESETS
    from jobs._cli import band_type, langs_type

    # pipeline flags default to SUPPRESS: an unset flag is absent from the
    # namespace, so the pipeline's (or the preset's) value applies; the
    # job-level flags give their defaults explicitly
    ap = argparse.ArgumentParser(argument_default=argparse.SUPPRESS)
    ap.add_argument("--preset", default=None, choices=sorted(PRESETS),
                    help="start from a published-recipe preset (see "
                         "final_ocr_spark.presets); explicitly-passed flags "
                         "override the preset, unset flags keep its values")
    ap.add_argument("--input", default=None, help="pages parquet path")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic pages instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-quality", type=float)
    # BooleanOptionalAction emits BOTH --x and --no-x, so every boolean
    # stage can be explicitly forced either way over a --preset (a bare
    # store_true can only assert, making "preset minus one stage"
    # inexpressible); --no-gopher etc. keep working
    ap.add_argument("--gopher", action=argparse.BooleanOptionalAction)
    ap.add_argument("--redact", action=argparse.BooleanOptionalAction)
    ap.add_argument("--near-dup", action=argparse.BooleanOptionalAction)
    ap.add_argument("--neardup-keep-best", action=argparse.BooleanOptionalAction,
                    help="near-dup survivors are the highest-quality cluster "
                         "member instead of the min-key one")
    ap.add_argument("--jaccard", type=float, dest="jaccard_threshold",
                    metavar="JACCARD")
    ap.add_argument("--host-cap", type=int)
    ap.add_argument("--sample-rate", type=float)
    ap.add_argument("--sample-salt")
    ap.add_argument("--temperature-alpha", type=float,
                    help="XLM/mT5 alpha-sampling over --temperature-group as "
                         "the final stage: group share ∝ (corpus share)^alpha "
                         "(0=uniform target, 1=keep natural shares)")
    ap.add_argument("--temperature-group",
                    help="column the temperature reweighting groups on "
                         "(default lang; NULLs group as 'und')")
    ap.add_argument("--cluster-algorithm", choices=["jump", "star"],
                    help="near-dup connected components: jump = min-label+"
                         "pointer-jumping (dense graphs), star = large-star/"
                         "small-star (path-shaped/huge graphs)")
    ap.add_argument("--partitions", type=int, dest="extract_partitions",
                    metavar="PARTITIONS")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--blocked-domains",
                    help="file with one registered domain per line, filtered "
                         "before extraction (broadcast anti-join)")
    ap.add_argument("--url-patterns", action=argparse.BooleanOptionalAction,
                    help="enable the pinned default URL hygiene patterns")
    ap.add_argument("--sentence-dedup", type=int,
                    dest="sentence_dedup_min_chars", metavar="MIN_CHARS",
                    help="corpus-level repeated-sentence removal for "
                         "sentences of at least MIN_CHARS chars "
                         "(syndicated ledes)")
    ap.add_argument("--mime-gate", action=argparse.BooleanOptionalAction,
                    help="drop media/archive payloads by magic bytes "
                         "before extraction")
    ap.add_argument("--fix-mojibake", action=argparse.BooleanOptionalAction,
                    help="repair UTF-8-as-cp1252/latin-1 mis-decoded text "
                         "before the quality gates")
    ap.add_argument("--paragraph-dedup", type=int,
                    dest="paragraph_dedup_min_chars", metavar="MIN_CHARS",
                    help="corpus-level repeated-paragraph removal for "
                         "paragraphs of at least MIN_CHARS chars")
    ap.add_argument("--tables-output", default=None,
                    help="also extract structured HTML tables from the RAW "
                         "input pages (url, table_idx, caption, header, "
                         "rows, markdown) to this parquet path")
    ap.add_argument("--tables-min-rows", type=int, default=2)
    ap.add_argument("--tables-min-cols", type=int, default=2)
    ap.add_argument("--wet-output", default=None,
                    help="also export the corpus as WET-style WARC "
                         "conversion records (.warc.gz) at this directory "
                         "(must be a filesystem shared by driver and "
                         "executors — local/NFS; not object stores)")
    ap.add_argument("--wat-output", default=None,
                    help="also export per-page metadata (head fields + "
                         "outlinks) from the RAW input pages as WAT-style "
                         "WARC metadata records at this directory (same "
                         "shared-filesystem requirement as --wet-output)")
    ap.add_argument("--host-boilerplate", type=float,
                    dest="host_boilerplate_ratio", metavar="RATIO",
                    help="remove lines occurring on >= RATIO of a host's "
                         "pages (site nav/footer chrome; zero copies kept)")
    ap.add_argument("--span-dedup", type=int, dest="span_dedup_gram_n",
                    metavar="GRAM_N",
                    help="duplicated-span removal (Lee et al. 2022): drop "
                         "every non-first occurrence of any duplicated span "
                         "of at least GRAM_N tokens (50 is the standard)")
    ap.add_argument("--warc-input", default=None,
                    help="directory of WARC(.gz) archives instead of --input")
    ap.add_argument("--containment", type=float,
                    dest="containment_threshold", metavar="THRESHOLD",
                    help="winnowing containment dedup: drop docs whose "
                         "fingerprints are >= THRESHOLD contained in "
                         "another kept doc")
    ap.add_argument("--classifier-weights",
                    help="parquet (b, weight) table from "
                         "classify.train_ngram_nb; enables the model "
                         "quality gate")
    ap.add_argument("--classifier-threshold", type=float)
    ap.add_argument("--classifier-features", type=int,
                    dest="classifier_n_features",
                    metavar="CLASSIFIER_FEATURES",
                    help="hashed feature space size; MUST match training")
    ap.add_argument("--lm-table",
                    help="parquet (h, n, is_bigram) table from "
                         "lm.train_bigram_lm; enables the perplexity gate")
    ap.add_argument("--lm-max-ppl", type=float,
                    help="keep docs with lm_ppl <= this (requires --lm-table)")
    ap.add_argument("--drop-noindex", action=argparse.BooleanOptionalAction,
                    help="drop pages whose head metadata says robots noindex "
                         "(cheap prescan before full extraction)")
    ap.add_argument("--respect-canonical", action=argparse.BooleanOptionalAction,
                    help="also drop pages declaring a canonical url "
                         "different from their own")
    ap.add_argument("--robots",
                    help="parquet (host, robots_txt) table; enables the "
                         "robots.txt compliance gate before extraction")
    ap.add_argument("--robots-agent",
                    help="user-agent evaluated against the robots rules")
    ap.add_argument("--semantic-threshold", type=float,
                    help="enable SemDeDup-style embedding-space dedup at "
                         "this cosine threshold (stage 5c)")
    ap.add_argument("--semantic-method", choices=["lsh", "kmeans"],
                    help="semantic dedup blocking: seeded hyperplane LSH "
                         "(default) or the paper-faithful k-means variant")
    ap.add_argument("--semantic-k", type=int,
                    help="k for --semantic-method kmeans (default: corpus "
                         "size / --semantic-cluster-size, the scale-safe "
                         "n-proportional choice)")
    ap.add_argument("--prototype-prune", type=float,
                    dest="prototype_prune_frac", metavar="PROTOTYPE_PRUNE",
                    help="drop this fraction of the most-prototypical docs "
                         "per k-means cluster (SSP stage 5d; with "
                         "--semantic-method kmeans this is the D4 recipe)")
    ap.add_argument("--prototype-k", type=int,
                    help="k for the prototype-pruning clustering "
                         "(default: corpus size / --semantic-cluster-size)")
    ap.add_argument("--semantic-cluster-size", type=int,
                    help="expected docs per cluster used to derive the "
                         "kmeans k defaults")
    ap.add_argument("--lang-allow", type=langs_type, metavar="LANGS",
                    help="comma-separated language codes to keep "
                         "(e.g. 'en' or 'en,fr')")
    ap.add_argument("--lang-detect", action=argparse.BooleanOptionalAction,
                    help="re-detect language from the extracted text "
                         "(n-gram heuristic) instead of trusting the "
                         "declared lang column")
    ap.add_argument("--c4-line-clean", action=argparse.BooleanOptionalAction,
                    help="C4 line rules + doc gates (Raffel et al. 2020 "
                         "§2.2) before quality scoring")
    ap.add_argument("--c4-min-lines", type=int,
                    help="C4 doc gate: minimum kept lines (use 1 for "
                         "pre-collapsed text-passthrough corpora)")
    ap.add_argument("--flagged-wordlist", metavar="FILE",
                    help="file with one flagged token per line; drops docs "
                         "whose flagged-token ratio exceeds "
                         "--flagged-max-ratio (policy list is yours, never "
                         "baked in)")
    ap.add_argument("--flagged-max-ratio", type=float)
    ap.add_argument("--jsonl-output", default=None, metavar="DIR",
                    help="also export the corpus as gzip JSONL shards with "
                         "a checksummed manifest (the Dolma/FineWeb release "
                         "layout); global row order is by url")
    ap.add_argument("--jsonl-shards", type=int, default=None,
                    help="pin the JSONL shard count (default: let the "
                         "range exchange decide)")
    ap.add_argument("--compression-band", metavar="LO:HI", type=band_type,
                    help="keep docs whose zlib compression ratio lies in "
                         "[LO, HI] (e.g. 0.2:0.95) — drops over-compressible "
                         "template spam and incompressible noise")
    return ap


def _pipeline_flags(args: argparse.Namespace) -> dict:
    """The typed flags that are ``corpus_pipeline`` parameters, by kwarg
    name. Unset pipeline flags are absent from ``args``, so this is exactly
    what overrides the preset (or the signature's defaults)."""
    from final_ocr_spark.pipeline import corpus_pipeline

    params = inspect.signature(corpus_pipeline).parameters
    return {k: v for k, v in vars(args).items() if k in params}


def main(argv: list[str] | None = None) -> None:
    ap = _build_parser()
    args = ap.parse_args(argv)
    typed = _pipeline_flags(args)
    if ("lm_table" in typed) != ("lm_max_ppl" in typed):
        ap.error("--lm-table and --lm-max-ppl must be given together")
    if not (args.synthetic or args.warc_input or args.input):
        ap.error("one of --input / --warc-input / --synthetic is required")

    from final_ocr_spark.session import get_spark

    spark = get_spark(app_name="final-ocr-spark-corpus")
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        from final_ocr_spark.sources.synthetic_pages import gen_pages

        pages = gen_pages(spark, args.synthetic, seed=args.seed)
    elif args.warc_input:
        from pyspark.sql import functions as F

        from final_ocr_spark.sources.warc import read_warc

        parsed = read_warc(spark, args.warc_input).localCheckpoint(eager=False)
        # framing-quarantined archives must not vanish silently (the
        # streaming path prints a per-batch count + supports a quarantine
        # dir; the batch job matches that contract): record them in a
        # sidecar parquet next to --output and print the count
        bad = parsed.filter("error is not null").select(
            F.col("url").alias("source"), "error"
        )
        n_bad = bad.count()
        if n_bad:
            qdir = f"{args.output.rstrip('/')}_quarantine"
            bad.write.mode("overwrite").parquet(qdir)
            print(
                f"corpus_job: {n_bad} framing-quarantined WARC record(s) "
                f"excluded from the corpus — recorded at {qdir}"
            )
        pages = parsed.filter("error is null").drop("error")
    else:
        from final_ocr_spark.schema import PAGES_SCHEMA

        pages = spark.read.schema(PAGES_SCHEMA).parquet(args.input)

    from final_ocr_spark.operators.urlfilter import DEFAULT_URL_PATTERNS
    from final_ocr_spark.pipeline import corpus_pipeline
    from jobs._cli import read_lines

    # the flags whose CLI value is not the kwarg value: files of words are
    # read, parquet tables loaded, --url-patterns picks the pinned list
    for kwarg in ("blocked_domains", "flagged_wordlist"):
        if kwarg in typed:
            typed[kwarg] = read_lines(typed[kwarg])
    for kwarg in ("classifier_weights", "lm_table", "robots"):
        if kwarg in typed:
            typed[kwarg] = spark.read.parquet(typed[kwarg])
    if "url_patterns" in typed:
        typed["url_patterns"] = (
            DEFAULT_URL_PATTERNS if typed["url_patterns"] else ())

    kwargs = typed
    if args.preset:
        from final_ocr_spark.presets import PRESETS, preset_kwargs

        kwargs = preset_kwargs(args.preset, **typed)
        print(f"preset {args.preset}: {PRESETS[args.preset]['cite']}")
        print(f"preset notes: {PRESETS[args.preset]['notes']}")
        if typed:
            print(f"preset overrides from CLI: {sorted(typed)}")

    corpus = corpus_pipeline(pages, **kwargs)
    corpus.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"corpus written: {args.output} rows={n}")
    if args.jsonl_output:
        from final_ocr_spark.sources.shards import write_jsonl_shards

        rows_m = write_jsonl_shards(
            spark.read.parquet(args.output), args.jsonl_output, "url",
            num_shards=args.jsonl_shards,
        )
        recs = sum(m["records"] for m in rows_m)
        print(f"jsonl shards written: {args.jsonl_output} records={recs} "
              f"files={sum(1 for m in rows_m if m['file'])}")
    if args.wet_output:
        from final_ocr_spark.sources.warc import write_wet

        manifest = write_wet(
            spark.read.parquet(args.output), args.wet_output
        )
        recs = sum(m["records"] for m in manifest)
        print(f"wet written: {args.wet_output} records={recs} "
              f"files={sum(1 for m in manifest if m['file'])}")
    if args.tables_output:
        from final_ocr_spark.operators.tables import extract_tables

        tabs = extract_tables(
            pages, min_rows=args.tables_min_rows,
            min_cols=args.tables_min_cols, markdown=True,
        )
        tabs.write.mode("overwrite").parquet(args.tables_output)
        n_tabs = spark.read.parquet(args.tables_output).count()
        print(f"tables written: {args.tables_output} rows={n_tabs}")
    if args.wat_output:
        from final_ocr_spark.sources.warc import write_wat

        manifest = write_wat(pages, args.wat_output)
        recs = sum(m["records"] for m in manifest)
        print(f"wat written: {args.wat_output} records={recs} "
              f"files={sum(1 for m in manifest if m['file'])}")


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
