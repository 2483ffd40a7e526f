"""The spark-submit job entry points (``jobs/*_job.py``).

Each job is a plain ``main(argv)``: the smoke tests call it in-process on
the shared session fixture and check its printed lines and outputs. Two
tests keep a process boundary: ``test_spark_submit_py_files_packaging``
runs the real ``spark-submit --py-files`` path, and
``test_corpus_job_unknown_preset_fails_fast`` runs ``python
jobs/corpus_job.py`` as a script. A job run here must fail, if at all, at
argparse: a failed query can disable the session's Observation listener
for every later test (PLANS.md Catalyst pitfall 8).
"""

import importlib
import os
import sys

import pytest

from jobs.package import REPO

_JOBS = ["corpus_job", "extract_job", "frontier_job", "graph_job",
         "ingest_job", "pack_job", "stats_job"]


def _main(job):
    return importlib.import_module(f"jobs.{job}").main


@pytest.fixture
def run_job(spark, capsys):
    """``run_job(job, *argv)`` runs ``jobs/<job>.py``'s ``main`` on the
    shared session and returns what it printed. ``get_spark`` re-applies the
    job's runtime confs to the live session (32 shuffle partitions) and the
    job sets log level WARN; both are restored after the run."""
    root_logger = spark._jvm.org.apache.logging.log4j.LogManager.getRootLogger()

    def run(job, *argv):
        partitions = spark.conf.get("spark.sql.shuffle.partitions")
        level = root_logger.getLevel().name()
        capsys.readouterr()
        try:
            _main(job)(list(argv))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", partitions)
            spark.sparkContext.setLogLevel(level)
        return capsys.readouterr().out

    return run


@pytest.mark.parametrize("job", _JOBS)
def test_job_import_leaves_path_and_env_unchanged(job, monkeypatch):
    """Importing a job module runs no path setup: that belongs to a script
    run (``if __name__ == "__main__"``), not to an import."""
    monkeypatch.delitem(sys.modules, f"jobs.{job}", raising=False)
    path, pythonpath = list(sys.path), os.environ.get("PYTHONPATH")
    importlib.import_module(f"jobs.{job}")
    assert sys.path == path
    assert os.environ.get("PYTHONPATH") == pythonpath


@pytest.mark.parametrize("job", ["corpus_job", "extract_job", "graph_job",
                                 "stats_job"])
def test_job_without_input_exits_before_spark(job, tmp_path, monkeypatch,
                                              capsys):
    """A job given no input source is an argparse error, raised before any
    Spark session is asked for."""
    import final_ocr_spark.session

    def no_session(*args, **kwargs):
        raise AssertionError("get_spark called before the input check")

    monkeypatch.setattr(final_ocr_spark.session, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        _main(job)(["--output", str(tmp_path / "out")])
    assert exc.value.code == 2
    assert "one of --input" in capsys.readouterr().err


def test_stats_job_smoke(tmp_path, run_job):
    out = run_job(
        "stats_job", "--synthetic", "150",
        "--output", str(tmp_path / "stats"), "--tfidf-k", "2",
        "--top-k", "5", "--counters", "500",
    )
    lines = [ln for ln in out.splitlines() if ln.startswith("stats written")]
    assert len(lines) == 5 and all("rows=" in ln for ln in lines)


def test_corpus_job_warc_and_new_stages_smoke(tmp_path, run_job):
    from final_ocr_spark.sources.warc import write_warc_bytes

    body_a = ("<html><body><p>this website uses cookies to improve your "
              "experience and by continuing you agree to the policy</p>"
              "<p>a unique first article body about the harbor lights and "
              "the boats returning in the evening calm</p></body></html>")
    body_b = ("<html><body><p>this website uses cookies to improve your "
              "experience and by continuing you agree to the policy</p>"
              "<p>a unique second article body about the mountain trail "
              "and the snow line moving higher in spring</p></body></html>")
    warcdir = tmp_path / "warc"
    warcdir.mkdir()
    (warcdir / "seg-0.warc.gz").write_bytes(write_warc_bytes([
        {"url": "http://a.example/1", "date": "2024-05-01T12:00:00Z",
         "body": body_a.encode()},
        {"url": "http://b.example/2", "date": "2024-05-01T12:00:01Z",
         "body": body_b.encode()},
        {"url": "http://bad.example/3", "date": "2024-05-01T12:00:02Z",
         "body": b"<html><body><p>blocked domain page body that is long "
                 b"enough to pass every quality gate easily</p></body></html>"},
    ]))
    (tmp_path / "blocked.txt").write_text("bad.example\n")

    out = run_job(
        "corpus_job",
        "--warc-input", str(warcdir),
        "--output", str(tmp_path / "corpus"),
        "--blocked-domains", str(tmp_path / "blocked.txt"),
        "--url-patterns", "--paragraph-dedup", "30",
        "--wet-output", str(tmp_path / "wet"),
        "--min-quality", "0", "--no-gopher", "--no-near-dup",
    )

    import duckdb

    rows = duckdb.sql(
        f"SELECT url, text FROM '{tmp_path}/corpus/*.parquet' ORDER BY url"
    ).fetchall()
    urls = [u for u, _ in rows]
    assert urls == ["http://a.example/1", "http://b.example/2"]
    texts = dict(rows)
    # paragraph dedup: the shared cookie banner survives only in the min url
    assert "cookies" in texts["http://a.example/1"]
    assert "cookies" not in texts["http://b.example/2"]
    assert "mountain trail" in texts["http://b.example/2"]
    # --wet-output: the corpus round-trips through WET conversion records
    assert "wet written" in out and (tmp_path / "wet" / "_SUCCESS").exists()


def test_spark_submit_py_files_packaging(tmp_path):
    """The north-rule packaging gate, exercised for real: build
    dist/final_ocr_spark.zip with jobs/package.py, then run extract_job via
    the actual ``spark-submit --py-files`` binary FROM A DIRECTORY OUTSIDE
    THE REPO with a repo-free PYTHONPATH — the package can only resolve from
    the shipped zip, exactly as on a cluster."""
    import shutil
    import subprocess

    from jobs.package import build

    zip_path = build(tmp_path / "final_ocr_spark.zip")
    job = shutil.copy(REPO / "jobs" / "extract_job.py", tmp_path / "extract_job.py")

    spark_submit = shutil.which("spark-submit")
    assert spark_submit, "spark-submit binary not found"

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [spark_submit, "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(zip_path),
         str(job), "--synthetic", "60", "--output", str(tmp_path / "out"),
         "--no-resume", "--num-parts", "4", "--num-groups", "2"],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=420,
    )
    assert out.returncode == 0, (out.stderr[-2000:], out.stdout[-500:])
    assert "extracted rows:" in out.stdout

    import duckdb

    n, = duckdb.sql(
        f"SELECT count(*) FROM '{tmp_path}/out/*.parquet'"
    ).fetchone()
    assert n > 0
    cols = {r[0] for r in duckdb.sql(
        f"DESCRIBE SELECT * FROM '{tmp_path}/out/*.parquet'"
    ).fetchall()}
    assert {"url", "extracted_text"} <= cols


def test_ingest_job_smoke(tmp_path, run_job):
    import pandas as pd

    drops = tmp_path / "drops"
    drops.mkdir()
    base = ("the harbor lights flickered over the water while fishing boats "
            "returned slowly through the evening calm and gulls wheeled "
            "above the breakwater calling to the crews unloading the catch "
            "as the last ferry sounded its horn beyond the point and nets "
            "were spread to dry beside the sheds along the quiet quay")
    pd.DataFrame(
        [("http://x/a", base),
         ("http://x/a2", base[:-12]),
         ("http://x/b", "a fully unrelated council budget report on the "
                        "library extension the tram corridor and riverside "
                        "park maintenance before the amended vote")],
        columns=["url", "text"],
    ).to_parquet(drops / "d1.parquet")

    out = run_job(
        "ingest_job",
        "--input", str(drops), "--corpus", str(tmp_path / "corpus"),
        "--sigs", str(tmp_path / "sigs"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--schema", "url string, text string",
        "--key", "url", "--text-col", "text", "--jaccard", "0.7",
    )
    assert "corpus rows after ingest: 2" in out

    import duckdb

    urls = {u for (u,) in duckdb.sql(
        f"SELECT url FROM '{tmp_path}/corpus/*/*.parquet'"
    ).fetchall()}
    assert urls == {"http://x/a", "http://x/b"}


def test_graph_job_smoke(tmp_path, spark, run_job):
    # cross-host page slice written as parquet input (the synthetic corpus
    # is single-host per page batch, which exercises only the empty-graph
    # branch; this covers the ranked path)
    pages = spark.createDataFrame(
        [
            ("https://a.com/1", b'<a href="https://b.com/x">b</a>'
                                b'<a href="https://c.com/y">c</a>'),
            ("https://b.com/1", b'<a href="https://c.com/z">c</a>'),
            ("https://c.com/1", b'<a href="https://a.com/w">a</a>'),
        ],
        "url string, html binary",
    )
    inp = str(tmp_path / "pages")
    pages.write.parquet(inp)

    out = run_job("graph_job", "--input", inp,
                  "--output", str(tmp_path / "graph"), "--iterations", "5")
    assert "webgraph written" in out
    assert "outlinks=4" in out
    assert "host_pairs=4" in out and "ranked_hosts=3" in out


def test_frontier_job_smoke(tmp_path, spark, run_job):
    # sitemap-bodies input path + robots + ranks: the full composition
    ns = 'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
    body = (
        f'<urlset {ns}>'
        + "".join(
            f"<url><loc>https://a.com/p{i}</loc></url>" for i in range(6)
        )
        + "<url><loc>https://blocked.com/x</loc></url></urlset>"
    ).encode()
    spark.createDataFrame(
        [("https://a.com/sitemap.xml", bytearray(body))],
        "sitemap_url string, body binary",
    ).write.parquet(str(tmp_path / "sitemaps"))
    spark.createDataFrame(
        [("blocked.com", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string",
    ).write.parquet(str(tmp_path / "robots"))
    spark.createDataFrame(
        [("a.com", 0.9)], "id string, rank double"
    ).write.parquet(str(tmp_path / "ranks"))

    out = run_job(
        "frontier_job",
        "--sitemaps", str(tmp_path / "sitemaps"),
        "--robots", str(tmp_path / "robots"),
        "--host-ranks", str(tmp_path / "ranks"),
        "--per-host-cap", "4",
        "--output", str(tmp_path / "frontier"),
    )
    assert "frontier: 4 urls" in out
    rows = spark.read.parquet(str(tmp_path / "frontier")).collect()
    assert len(rows) == 4
    assert all(r.host == "a.com" and r.priority == 0.9 for r in rows)


def test_ingest_job_compact_store(tmp_path, run_job):
    """--compact-store: after draining multiple micro-batches, the
    maintenance pass bin-packs old batch_id partitions of sigs + corpus
    (sidecar coverage preserved — next run still reports the Bloom path)."""
    import pathlib

    import pandas as pd

    drops = tmp_path / "drops"
    drops.mkdir()
    texts = [
        "alpha harbor report " * 20 + "end one",
        "beta mountain snowfall survey " * 20 + "end two",
        "gamma council budget minutes " * 20 + "end three",
        "delta orchard harvest notes " * 20 + "end four",
    ]
    for i, t in enumerate(texts):
        pd.DataFrame([(f"http://x/{i}", t)], columns=["url", "text"]) \
            .to_parquet(drops / f"d{i}.parquet")

    common = [
        "--input", str(drops), "--corpus", str(tmp_path / "corpus"),
        "--sigs", str(tmp_path / "sigs"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--schema", "url string, text string",
        "--key", "url", "--text-col", "text", "--jaccard", "0.7",
        "--max-files-per-trigger", "1",  # one micro-batch per drop file
    ]
    out = run_job("ingest_job", *common,
                  "--compact-store", "--compact-min-partitions", "2")
    assert "corpus rows after ingest: 4" in out
    assert "signature-store compaction: {'compacted': True" in out
    assert "corpus compaction: {'compacted': True" in out

    def parts(p):
        return sorted(
            int(d.name.split("=")[1])
            for d in pathlib.Path(p).glob("batch_id=*") if d.is_dir()
        )

    # 4 batches compacted down to keep_recent(2) + 1 consolidated
    assert len(parts(tmp_path / "sigs")) == 3
    assert len(parts(tmp_path / "corpus")) == 3
    # maintenance never loses corpus rows
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM '{tmp_path}/corpus/*/*.parquet'"
    ).fetchone()[0]
    assert n == 4


def test_corpus_job_kmeans_semantic_and_prune_flags(tmp_path, run_job):
    """--semantic-method kmeans + --prototype-prune drive the D4 stages
    through the spark-submit entry point end-to-end."""
    run_job(
        "corpus_job",
        "--synthetic", "250",
        "--output", str(tmp_path / "corpus"),
        "--min-quality", "0", "--no-gopher", "--no-near-dup",
        "--semantic-threshold", "0.95",
        "--semantic-method", "kmeans", "--semantic-k", "6",
        "--prototype-prune", "0.1", "--prototype-k", "6",
    )

    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM '{tmp_path}/corpus/*.parquet'"
    ).fetchone()[0]
    assert 0 < n <= 250


def test_corpus_job_preset_with_cli_override(tmp_path, run_job):
    """--preset gopher runs the published-recipe kwarg bundle through the
    job entry point, and an explicitly-typed flag (--no-near-dup, whose
    value CONTRADICTS the preset's near_dup=True) wins the merge — while
    untyped flags (e.g. --min-quality) keep the preset's values."""
    out = run_job(
        "corpus_job",
        "--preset", "gopher",
        "--synthetic", "250",
        "--output", str(tmp_path / "corpus"),
        "--no-near-dup",
    )
    assert "preset gopher: Rae et al. 2021" in out
    assert "preset overrides from CLI: ['near_dup']" in out

    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM '{tmp_path}/corpus/*.parquet'"
    ).fetchone()[0]
    assert 0 < n <= 250


def test_corpus_job_unknown_preset_fails_fast():
    """An unknown --preset errors at argparse time, before any Spark
    session starts."""
    import subprocess

    out = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "corpus_job.py"),
         "--preset", "nope", "--synthetic", "10", "--output", "/tmp/x"],
        capture_output=True, text=True, cwd=str(REPO), timeout=120,
    )
    assert out.returncode == 2
    assert "argument --preset: invalid choice: 'nope'" in out.stderr


# corpus_job's own flags; every other dest must be a corpus_pipeline kwarg
_CORPUS_JOB_FLAGS = {
    "help", "preset", "input", "synthetic", "output", "seed", "warc_input",
    "tables_output", "tables_min_rows", "tables_min_cols", "wet_output",
    "wat_output", "jsonl_output", "jsonl_shards",
}


def test_corpus_job_parser_passes_only_typed_pipeline_flags():
    """In-process parser contract (no subprocess, no Spark): pipeline flags
    carry no defaults, so an untyped flag never reaches corpus_pipeline and
    its signature (or the preset) decides; typed flags arrive under their
    kwarg names; an empty --lang-allow is a parse error."""
    import argparse
    import inspect

    from final_ocr_spark.pipeline import corpus_pipeline
    from jobs import corpus_job

    ap = corpus_job._build_parser()
    params = set(inspect.signature(corpus_pipeline).parameters)
    dests = {a.dest for a in ap._actions}
    assert _CORPUS_JOB_FLAGS <= dests
    assert dests - _CORPUS_JOB_FLAGS <= params, dests - _CORPUS_JOB_FLAGS - params
    for a in ap._actions:
        if a.dest not in _CORPUS_JOB_FLAGS:
            assert a.default is argparse.SUPPRESS, a.dest

    def flags(*argv):
        return corpus_job._pipeline_flags(ap.parse_args(list(argv)))

    assert flags("--output", "x", "--synthetic", "5") == {}
    assert flags("--output", "x", "--jaccard", "0.8", "--no-near-dup",
                 "--partitions", "4") == {
        "jaccard_threshold": 0.8, "near_dup": False, "extract_partitions": 4}
    assert flags("--output", "x", "--lang-allow", " en, fr") == {
        "lang_allow": ("en", "fr")}
    for empty in (",", ""):
        with pytest.raises(SystemExit) as exc:
            ap.parse_args(["--output", "x", "--lang-allow", empty])
        assert exc.value.code == 2


def test_pack_job_smoke(tmp_path, run_job):
    """pack_job end-to-end: synthetic corpus → BPE train → packed chunks +
    vocab + merges parquet, all chunks exactly --budget long (--pad)."""
    out = run_job(
        "pack_job",
        "--synthetic", "200", "--output", str(tmp_path / "packed"),
        "--budget", "128", "--n-merges", "120", "--pad",
    )
    assert "chunks written" in out and "vocab written" in out

    import duckdb

    bad = duckdb.sql(
        f"SELECT count(*) FROM '{tmp_path}/packed/chunks/*.parquet' "
        f"WHERE len(input_ids) != 128"
    ).fetchone()[0]
    assert bad == 0
    specials = duckdb.sql(
        f"SELECT token FROM '{tmp_path}/packed/vocab/*.parquet' "
        f"WHERE id < 3 ORDER BY id"
    ).fetchall()
    assert [t for (t,) in specials] == ["<pad>", "<eos>", "<unk>"]
    n_merges = duckdb.sql(
        f"SELECT count(*) FROM '{tmp_path}/packed/merges/*.parquet'"
    ).fetchone()[0]
    assert 0 < n_merges <= 120


def test_pack_job_shuffle_salt_reproducible(tmp_path, run_job):
    """--shuffle-salt writes chunks in a salt-keyed pseudo-random order:
    two runs with the same salt produce the same file-order; the order
    differs from plain chunk_id order."""
    import pyarrow.parquet as pq

    def run(outdir, extra):
        run_job("pack_job",
                "--synthetic", "150", "--output", str(outdir),
                "--budget", "64", "--n-merges", "80", *extra)
        # ordinal part files read one at a time: pyarrow preserves the
        # written row order (a parallel SQL scan does not)
        cids = []
        for f in sorted((outdir / "chunks").glob("part-*.parquet")):
            cids.extend(pq.read_table(f, columns=["chunk_id"])
                        .column("chunk_id").to_pylist())
        return cids

    a = run(tmp_path / "s1", ["--shuffle-salt", "ep0"])
    b = run(tmp_path / "s2", ["--shuffle-salt", "ep0"])
    c = run(tmp_path / "plain", [])
    assert a == b                   # reproducible across runs
    assert sorted(a) != a           # actually shuffled
    assert a != c


def test_pack_job_merges_reuse_no_self_overwrite(tmp_path, run_job):
    """Run 2 reuses run 1's merges via --merges-input pointing INTO run 1's
    own output — must not self-overwrite the path being read (review-caught)
    — and --synthetic honors a non-default --text-col."""
    import duckdb

    outdir = tmp_path / "packed"
    base = ["--synthetic", "120", "--budget", "64", "--n-merges", "60",
            "--text-col", "body"]
    run_job("pack_job", *base, "--output", str(outdir))
    before = duckdb.sql(
        f"SELECT * FROM '{outdir}/merges/*.parquet' ORDER BY rank"
    ).fetchall()
    out = run_job("pack_job", *base, "--output", str(outdir),
                  "--merges-input", str(outdir / "merges"))
    assert "merges reused from" in out
    after = duckdb.sql(
        f"SELECT * FROM '{outdir}/merges/*.parquet' ORDER BY rank"
    ).fetchall()
    assert after == before  # untouched, still readable


def test_corpus_job_temperature_and_keep_best_flags(tmp_path, run_job):
    """--temperature-alpha + --neardup-keep-best drive the new stage 8 and
    the quality-representative rule through the spark-submit entry."""
    run_job(
        "corpus_job",
        "--synthetic", "300",
        "--output", str(tmp_path / "corpus"),
        "--min-quality", "0", "--no-gopher",
        "--neardup-keep-best",
        "--temperature-alpha", "0.3",
    )

    import duckdb

    langs = duckdb.sql(
        f"SELECT count(DISTINCT lang) , count(*) FROM "
        f"'{tmp_path}/corpus/*.parquet'"
    ).fetchone()
    assert langs[1] > 0
    # the reweighting is a strict down-sample of a multi-lang corpus
    assert langs[0] >= 2


def test_pack_job_bin_export(tmp_path, run_job):
    """--bin-output exports memmap token shards whose bytes reproduce the
    parquet chunks exactly (uint16 little-endian, budget-length rows)."""
    import json

    out = run_job(
        "pack_job",
        "--synthetic", "120", "--output", str(tmp_path / "packed"),
        "--budget", "64", "--n-merges", "80", "--pad",
        "--bin-output", str(tmp_path / "bin"),
    )
    assert "bin shards written" in out

    import duckdb
    import numpy as np

    idx = json.load(open(tmp_path / "bin" / "index.json"))
    assert idx["budget"] == 64 and idx["dtype"] == "uint16"
    flat = []
    for entry in idx["files"]:
        arr = np.fromfile(tmp_path / "bin" / entry["file"], dtype="<u2")
        flat.extend(arr.reshape(-1, 64).tolist())
    expected = duckdb.sql(
        f"SELECT input_ids FROM '{tmp_path}/packed/chunks/*.parquet' "
        f"ORDER BY chunk_id"
    ).fetchall()
    assert flat == [list(ids) for (ids,) in expected]


def test_corpus_job_jsonl_export(tmp_path, run_job):
    """--jsonl-output writes gzip JSONL release shards that round-trip to
    the parquet corpus, with a checksummed manifest and _SUCCESS."""
    import gzip
    import hashlib
    import json

    out = run_job(
        "corpus_job",
        "--synthetic", "150", "--output", str(tmp_path / "corpus"),
        "--no-near-dup", "--min-quality", "0", "--no-gopher",
        "--jsonl-output", str(tmp_path / "jsonl"), "--jsonl-shards", "2",
    )
    assert "jsonl shards written" in out
    assert (tmp_path / "jsonl" / "_SUCCESS").exists()

    import duckdb

    manifest = json.load(open(tmp_path / "jsonl" / "manifest.json"))
    urls = []
    for m in manifest:
        if not m["file"]:
            continue
        blob = open(m["file"], "rb").read()
        assert hashlib.sha256(blob).hexdigest() == m["sha256"]
        for ln in gzip.decompress(blob).decode("utf-8").splitlines():
            urls.append(json.loads(ln)["url"])
    n = duckdb.sql(
        f"SELECT count(*) FROM '{tmp_path}/corpus/*.parquet'"
    ).fetchone()[0]
    assert len(urls) == n and urls == sorted(urls)


def test_corpus_job_rejects_malformed_compression_band(tmp_path, capsys):
    """A band missing its HI bound must die as an argparse error naming the
    expected LO:HI form — before any Spark session exists."""
    with pytest.raises(SystemExit) as exc:
        _main("corpus_job")(["--synthetic", "5",
                             "--output", str(tmp_path / "c"),
                             "--compression-band", "0.7"])
    assert exc.value.code == 2
    assert "LO:HI" in capsys.readouterr().err


def test_stats_job_rejects_malformed_funnel_band(tmp_path, capsys):
    """stats_job validates --funnel-compression-band with the same shared
    argparse type as corpus_job: malformed input dies as an argparse error
    naming LO:HI before any Spark session exists."""
    with pytest.raises(SystemExit) as exc:
        _main("stats_job")(["--synthetic", "5",
                            "--output", str(tmp_path / "s"), "--funnel",
                            "--funnel-compression-band", "nonsense"])
    assert exc.value.code == 2
    assert "LO:HI" in capsys.readouterr().err


def test_stats_job_funnel(tmp_path, run_job):
    """--funnel writes the per-gate retention table and prints one line per
    gate plus the kept row."""
    out = run_job(
        "stats_job", "--synthetic", "120",
        "--output", str(tmp_path / "stats"), "--top-k", "5",
        "--counters", "500", "--funnel", "--funnel-min-quality", "50",
        "--funnel-compression-band", "0.05:0.95",
    )
    lines = [ln for ln in out.splitlines() if ln.startswith("funnel:")]
    gates = [ln.split()[1] for ln in lines]
    assert gates == ["quality", "gopher", "compression", "kept"]

    import duckdb

    got = {g: (ff, rem) for g, ff, rem in duckdb.sql(
        f"SELECT gate, n_failed_first, remaining "
        f"FROM '{tmp_path}/stats/funnel/*.parquet'"
    ).fetchall()}
    # cumulative invariant: each gate's remaining drops by exactly its
    # first-fail count, ending at the kept row
    order = ["quality", "gopher", "compression"]
    n_docs = got[order[0]][1] + got[order[0]][0]  # remaining + first = total
    rem = n_docs
    for g in order:
        rem -= got[g][0]
        assert got[g][1] == rem
    assert got["kept"][1] == rem and got["kept"][0] == 0
