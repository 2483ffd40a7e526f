"""SparkSession factory with the engine's pinned configuration.

The reference has no runtime tuning at all (single process, sequential loop at
ocr2.py:589-597); here the equivalent knobs are Spark confs. We pin:

* AQE on (coalesce + skew-join split) — demanded by the scale contract.
* Arrow-batched Python execution — every per-document stage is a pandas UDF.
* ``maxRecordsPerBatch`` sized for blob columns: ``html`` rows are a few KB to
  a few hundred KB, so 512-row batches keep per-batch memory ~O(64 MB) worst
  case while amortizing Arrow transfer overhead.
* ANSI off: the parsing cascades (SURVEY §2.5 R1-R12) rely on try-semantics —
  a bad date/number yields null, never a task failure (mirrors the reference's
  per-document error swallowing, ocr2.py:549-551).
* A generated-code cache larger than one pipeline plan: a session that runs
  the same plan again (a preset per batch, ``ingest_batch`` per micro-batch)
  compiles each generated class once, not on every run (see ``get_spark``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partitions when the caller names none; AQE coalesces small
# shuffles below it. On a cluster the same builder is used with
# master/shuffle-partitions overridden by spark-submit conf; nothing here is
# local-mode-specific.
DEFAULT_SHUFFLE_PARTITIONS = 32

# Entries of Spark's generated-class cache (CodeGenerator.cache, LRU; Spark's
# default is 100). A plan that compiles more entries than the cache holds
# evicts each one before its next run asks for it, so every rerun in the
# session compiles all of them again. Compilations in one run, counted with
# CodegenMetrics on 4 cores: the fineweb preset over the 3k-doc steadybench
# input 146; ingest_batch 123 on its first 500-doc micro-batch, 283 over six;
# the 50-query contract (tests/oracle_harness.py) 1,008. 2,000 holds the
# largest with room. An entry holds about 2.4 classes of 2.3-2.7 KB bytecode
# (METRIC_GENERATED_CLASS_BYTECODE_SIZE), so a full cache is about 13 MB.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "final-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[N]`` from ``$SPARK_GRAFT_CPUS`` (driver
    contract) or ``local[*]``; on a cluster, leave ``master=None`` and let
    spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    # local mode runs everything in the driver JVM; the 1 GiB default heap
    # OOMs with realistic (30-70 KB) page blobs at 32 concurrent tasks.
    # Must be set before the JVM launches — harmless no-op on getOrCreate
    # reuse or under spark-submit (which supplies its own).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")

    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        # throughput-batch engine: ParallelGC beats G1 ~10% at full core
        # occupancy (measured 32-thread extraction, 14.7s vs 16.4s best-run)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # blob columns make rows heavy; cap scan partitions at 64 MB so one
        # partition of html bytes fits comfortably in an executor core's share
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        # static conf: takes effect only when this call creates the context
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if not SparkSession.getActiveSession():
        b = b.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
