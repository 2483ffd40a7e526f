"""Input connectors (SURVEY §2.1 S1-S3).

The reference's only source is a directory glob of image files
(ocr2.py:569-575). Two cluster-grade equivalents:

* ``read_pages_table`` — the mandated shape: a parquet/Iceberg-layout table
  of pages (the engine's primary input).
* ``read_binary_files`` — raw-file ingest parity: ``binaryFile`` format with
  a path glob, mapped into the pages schema (one file = one document, path =
  url, modificationTime = warc_ts). The existence/readability guard S3 is a
  Column expression so it pushes into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def local_path(store_dir: str):
    """Local-filesystem ``pathlib.Path`` for driver-side maintenance ops
    (compaction, crash recovery, commit CAS), or None for a remote URI.

    The READ path (Spark) speaks any Hadoop filesystem, but pathlib/shutil/
    O_EXCL-based maintenance must refuse loudly on hdfs://-style stores
    instead of silently no-opping (see SEAMS.md). Handles both file:// and
    Hadoop's normalized single-slash file:/ form (what Spark logs and
    inputFiles print) — treating the latter as a relative path would
    silently no-op maintenance (review-caught)."""
    import pathlib

    if store_dir.startswith("file:"):
        from urllib.parse import urlparse

        parsed = urlparse(store_dir)
        if parsed.netloc not in ("", "localhost"):
            return None  # file://host/... — a remote mount, not this box
        return pathlib.Path(parsed.path)
    if "://" in store_dir:
        return None
    return pathlib.Path(store_dir)


def read_optional(
    spark: SparkSession, path: str, schema=None
) -> DataFrame | None:
    """Read a parquet path that may legitimately not exist yet (sidecars,
    incremental stores), returning None for ONLY path-not-found.

    Existence is asked of the path's Hadoop ``FileSystem`` (paths are
    HDFS/S3 URIs on a real cluster) BEFORE any read: a failed read also
    reaches every query execution listener, and once an ``Observation`` is
    registered Spark's ``ObservationManager`` logs a ~100-line
    ``PATH_NOT_FOUND`` trace at ERROR for it. ``path`` is a plain path, not
    a glob. The read still catches path-not-found (the store can vanish
    between the check and the read). Any other failure (corrupt store,
    permissions) must fail loudly, not silently skip the consumer's logic:
    every caller treats None as "store absent", and swallowing a
    corruption error here would turn it into silent data loss (e.g.
    skipped dedup).

    With ``schema`` the read is schema-pinned (absent columns surface as a
    loud mismatch downstream, never as inference drift); without it the
    footer schema is used (for self-describing sidecars like _meta)."""
    from pyspark.errors import AnalysisException

    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    if not hpath.getFileSystem(hconf).exists(hpath):
        return None
    try:
        rd = spark.read.schema(schema) if schema is not None else spark.read
        return rd.parquet(path)
    except AnalysisException as e:
        getcls = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
        cls = getcls() if getcls else None
        if cls != "PATH_NOT_FOUND" and "Path does not exist" not in str(e):
            raise
        return None


def read_pages_table(spark: SparkSession, path: str) -> DataFrame:
    """Primary source: pages(url, warc_ts, html, text, lang) parquet dir."""
    return spark.read.parquet(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str = "*.{html,htm,pdf}"
) -> DataFrame:
    """Raw-file ingest (S1/S2): one file = one page row.

    The reference's sequential glob loop becomes scan parallelism; its
    per-file existence check (S3, ocr.py:54-56) becomes the isNotNull guard
    which Catalyst pushes down.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    ).filter(F.col("html").isNotNull())
