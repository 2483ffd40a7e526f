"""S-layer tests: binaryFile ingest, deterministic sinks, E4 canonicalization."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F


def test_read_binary_files(spark, tmp_path):
    from final_ocr_spark.operators.extract_pages import extract_pages
    from final_ocr_spark.sources.readers import read_binary_files

    d = tmp_path / "files"
    d.mkdir()
    (d / "a.html").write_bytes(
        b"<html><body><p>A real paragraph with enough words to pass the "
        b"density gate in the extractor for sure.</p></body></html>"
    )
    (d / "b.htm").write_bytes(b"<p>tiny</p>")
    (d / "skip.txt").write_bytes(b"not matched by the glob")

    pages = read_binary_files(spark, str(d))
    rows = pages.collect()
    assert len(rows) == 2
    assert all(r["url"].endswith((".html", ".htm")) for r in rows)

    ext = extract_pages(pages, dedup=False).collect()
    by_name = {pathlib.Path(r["url"]).name: r for r in ext}
    assert "real paragraph" in by_name["a.html"]["extracted_text"]


def test_sinks_roundtrip_deterministic(spark, tmp_path):
    from final_ocr_spark.sources.sinks import write_csv, write_json, write_parquet

    df = spark.createDataFrame(
        [(2, "b"), (1, "a"), (3, "c")], ["id", "val"]
    ).repartition(1)
    for writer, fmt in [(write_parquet, "parquet"), (write_csv, "csv"), (write_json, "json")]:
        p = str(tmp_path / fmt)
        writer(df, p, sort_cols=["id"])
        back = getattr(spark.read, fmt)(p) if fmt != "csv" else spark.read.option("header", True).csv(p)
        assert back.count() == 3

    # determinism: two writes produce byte-identical part files
    p1, p2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    write_json(df, p1, sort_cols=["id"])
    write_json(df, p2, sort_cols=["id"])
    c1 = b"".join(sorted(f.read_bytes() for f in pathlib.Path(p1).glob("part-*")))
    c2 = b"".join(sorted(f.read_bytes() for f in pathlib.Path(p2).glob("part-*")))
    assert c1 == c2 and c1


def test_canonicalize_text(spark):
    from final_ocr_spark.functions.parsing import canonicalize_text

    df = spark.createDataFrame([("Deil  Desktop | fast PC  ",)], ["t"])
    got = df.select(canonicalize_text(F.col("t")).alias("c")).collect()[0]["c"]
    assert got == "Dell Desktop I fast PC"


def test_read_optional_absent_is_none_and_corrupt_raises(spark, tmp_path, monkeypatch):
    """A missing store is None WITHOUT a failing read (a failed read is
    logged as a long ERROR trace by Spark's ObservationManager listener
    once an Observation is registered); a present store reads; a corrupt
    store still raises instead of reading as absent."""
    from pyspark.sql.readwriter import DataFrameReader

    from final_ocr_spark.sources.readers import read_optional

    good = str(tmp_path / "good")
    spark.createDataFrame([(1,)], ["k"]).write.parquet(good)
    assert read_optional(spark, good, "k long").collect()[0]["k"] == 1

    def no_read(self, *paths, **kw):
        raise AssertionError(f"read attempted for {paths}")

    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "parquet", no_read)
        assert read_optional(spark, str(tmp_path / "missing")) is None
        assert read_optional(spark, str(tmp_path / "missing"), "k long") is None

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        read_optional(spark, str(bad))
