"""The three workloads: one timed pass each, and the checks on its output.

A pass is one call of the layer under test through the public API, forced
to completion. ``extract`` and ``fineweb`` end in the order-independent
digest aggregate; ``backfill`` ends when ``extract_with_resume`` has
written and committed every group, and its output is read back and checked
after the timer stops.

Correctness of a pass: for the default seed its digest must equal the value
pinned below (the product's output on that input); for any seed it must
equal the digest of the run's first pass, and its row count must match
what the input implies. ``oracle`` is a per-run check outside the timed
section that is independent of Spark's plumbing: the ``extracted_text`` of
sampled urls must be byte-identical to ``extract_document`` run in this
process on that url's latest page.
"""

from __future__ import annotations

import json
import pathlib
import shutil
from dataclasses import dataclass

from pyspark.sql import functions as F

from steadybench.digest import digest

DEFAULT_SEED = 1
ORACLE_URLS = 24

# (rows, digest) of each workload's output for DEFAULT_SEED
PINNED = {
    "extract": (11612, -365097669823252295048),
    "fineweb": (836, -143483009436791807007),
    "backfill": (1161, 182205643624705387749),
}

# extract_with_resume in staged mode, as jobs/extract_job.py runs it
BACKFILL_PARTS, BACKFILL_GROUPS = 16, 4


@dataclass
class Ctx:
    spark: object
    workload: str
    seed: int
    info: dict
    work: pathlib.Path

    def pages(self):
        return self.spark.read.parquet(self.info["path"])


def out_dir(ctx: Ctx, i: int) -> pathlib.Path:
    return ctx.work / "out" / f"{ctx.workload}-{i}"


def timed_pass(ctx: Ctx, i: int):
    """The measured operation. Returns the digest, or None for backfill,
    whose output is digested by ``check_pass`` outside the timer."""
    if ctx.workload == "extract":
        from final_ocr_spark.operators.extract_pages import extract_pages

        return digest(extract_pages(ctx.pages(), dedup=True))
    if ctx.workload == "fineweb":
        from final_ocr_spark.presets import corpus_pipeline_preset

        return digest(corpus_pipeline_preset(ctx.pages(), "fineweb"))
    from final_ocr_spark.plans.manifest import extract_with_resume

    extract_with_resume(
        ctx.spark, ctx.pages(), str(out_dir(ctx, i)),
        num_parts=BACKFILL_PARTS, num_groups=BACKFILL_GROUPS,
    )
    return None


def remove_output(ctx: Ctx, i: int) -> None:
    """Backfill writes into a fresh directory every pass; extract and
    fineweb write nothing, so this is a no-op for them."""
    shutil.rmtree(out_dir(ctx, i), ignore_errors=True)


def check_pass(ctx: Ctx, i: int, got, first) -> tuple[tuple, list[str]]:
    """(digest, problems) of pass ``i``; ``first`` is the run's first digest
    or None for the first pass itself."""
    problems: list[str] = []
    if ctx.workload == "backfill":
        got, problems = _check_backfill(ctx, i)
    n = got[0]
    urls = ctx.info["urls"]
    if ctx.workload in ("extract", "backfill") and n != urls:
        problems.append(f"{n} rows, expected one per url ({urls})")
    if ctx.workload == "fineweb" and not 0 < n < urls:
        problems.append(f"{n} rows, expected between 0 and {urls}")
    if ctx.seed == DEFAULT_SEED and got != PINNED[ctx.workload]:
        problems.append(f"digest {got} != pinned {PINNED[ctx.workload]}")
    if first is not None and got != first:
        problems.append(f"digest {got} != first pass {first}")
    return got, problems


def _check_backfill(ctx: Ctx, i: int) -> tuple[tuple, list[str]]:
    out = out_dir(ctx, i)
    problems: list[str] = []
    back = ctx.spark.read.parquet(str(out))
    got = digest(back)
    entries = read_manifest(out)
    done = [e for e in entries if e["status"] == "done"]
    parts = sorted(p for e in done for p in e["part_ids"])
    if parts != list(range(BACKFILL_PARTS)):
        problems.append(f"manifest covers parts {parts}")
    if sum(1 for e in entries if e["status"] == "staged") != 1:
        problems.append("manifest has no single staged entry")
    text_bytes = back.agg(
        F.coalesce(F.sum(F.length("extracted_text")), F.lit(0))).collect()[0][0]
    if sum(e["row_count"] for e in done) != got[0]:
        problems.append("manifest row_count != rows read back")
    if sum(e["byte_count"] for e in done) != text_bytes:
        problems.append("manifest byte_count != extracted_text bytes read back")
    return got, problems


def read_manifest(out: pathlib.Path) -> list[dict]:
    path = out / "_manifest.jsonl"
    return [json.loads(x) for x in path.read_text().splitlines() if x.strip()]


def oracle(ctx: Ctx, last_pass: int) -> list[str]:
    """Byte-identity of ``extracted_text`` for sampled urls against
    ``extract_document`` run here. extract and backfill only: fineweb's text
    is rewritten by the gates, and its layer chain is checked by the traced
    run, whose decomposed digest must equal the preset's."""
    if ctx.workload == "fineweb":
        return []
    from final_ocr_spark.extract.dispatch import extract_document

    pages = ctx.pages()
    sample = [r["url"] for r in pages.select("url").distinct()
              .orderBy(F.xxhash64("url", F.lit(ctx.seed)))
              .limit(ORACLE_URLS).collect()]
    latest: dict[str, dict] = {}
    for r in pages.filter(F.col("url").isin(sample)).collect():
        if r["url"] not in latest or r["warc_ts"] > latest[r["url"]]["warc_ts"]:
            latest[r["url"]] = r.asDict()
    want = {u: extract_document(
        bytes(r["html"]) if r["html"] is not None else None, r["text"], r["lang"],
    )["extracted_text"] for u, r in latest.items()}

    if ctx.workload == "extract":
        from final_ocr_spark.operators.extract_pages import extract_pages

        out = extract_pages(pages.filter(F.col("url").isin(sample)), dedup=True)
    else:
        out = ctx.spark.read.parquet(str(out_dir(ctx, last_pass))).filter(
            F.col("url").isin(sample))
    got = {r["url"]: r["extracted_text"]
           for r in out.select("url", "extracted_text").collect()}
    bad = sorted(u for u in want if got.get(u, "<missing>") != want[u])
    return [f"extracted_text differs from extract_document for {u}" for u in bad]
