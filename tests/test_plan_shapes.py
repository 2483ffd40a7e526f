"""Plan-shape regression tests for the round-2 corpus operators: the claims
PLANS.md makes about exchanges/pushdown must stay true in the optimized
physical plan."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_repetition_features_no_exchange(spark):
    """Gopher repetition metrics are scan-local — the Arrow counts UDF as
    q39 applies it (one struct column, fields projected out) adds ZERO
    exchanges (they must ride the extraction scan at 100 TB)."""
    from final_ocr_spark.operators.repetition import repetition_features_udf

    df = spark.createDataFrame([(1, "a b\nc d\na b")], ["doc_id", "text"])
    feats = repetition_features_udf(top_ns=(2, 3, 4), dup_ns=(5, 10))
    plan = _plan(df.withColumn("_f", feats(F.col("text"))).select("doc_id", "_f.*"))
    assert "ArrowEvalPython" in plan and "Exchange" not in plan


def test_deterministic_sample_is_pushed_filter(spark, tmp_path):
    """The md5 sample is a pure filter: no exchange, and it sits directly on
    the scan (one WholeStageCodegen over FileScan → Filter)."""
    from final_ocr_spark.operators.sampling import deterministic_sample

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(i, f"d{i}") for i in range(100)], ["k", "t"]) \
        .write.parquet(p)
    out = deterministic_sample(spark.read.parquet(p), "k", 0.5)
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_asof_join_single_exchange(spark):
    """asof_join is the union+window form: exactly ONE exchange (by key),
    never a range-exploded join (no BroadcastNestedLoop / Cartesian)."""
    from datetime import datetime

    from final_ocr_spark.operators.events import asof_join

    ts = datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, ts, "a")], ["uid", "lts", "tag"])
    right = spark.createDataFrame([(1, ts, 1.0)], ["uid", "rts", "price"])
    out = asof_join(left, right, on="uid", left_ts="lts", right_ts="rts",
                    right_cols=["price"])
    plan = _plan(out)
    # the union feeds ONE exchange (the streams are unioned pre-shuffle)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_sessionize_single_exchange(spark):
    from datetime import datetime

    from final_ocr_spark.operators.events import sessionize

    df = spark.createDataFrame([(1, datetime(2024, 1, 1))], ["uid", "ts"])
    plan = _plan(sessionize(df, "uid", "ts", 3600))
    assert plan.count("Exchange") == 1


def test_minhash_sigs_partial_aggregation(spark):
    """The signature aggregation must show a partial/final hash-agg pair
    (map-side combine collapses shingle rows before the exchange)."""
    from final_ocr_spark.operators.dedup import minhash_sigs

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k")], ["doc_id", "text"])
    plan = _plan(minhash_sigs(df, num_hashes=8))
    assert "partial_min" in plan or "partial min" in plan.lower()


def test_sessionize_chunked_partitions_by_key_and_chunk(spark):
    """The chunked skew guard's HEAVY window must partition by
    (key, _chunk) — that is the mechanism that spreads a hot key across
    tasks — and the plan must stay join-light (sort-merge/shuffle-hash on
    equi-keys only, no nested-loop/cartesian)."""
    from datetime import datetime

    from final_ocr_spark.operators.events import sessionize

    ts = datetime(2024, 1, 1)
    df = spark.createDataFrame([(1, ts)], ["uid", "ts"])
    out = sessionize(df, "uid", "ts", gap_seconds=60, chunk_seconds=3600)
    plan = _plan(out)
    assert "hashpartitioning(uid" in plan and "_chunk" in plan.split(
        "hashpartitioning(uid", 1)[1].split(")")[0]
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_asof_join_chunked_partitions_by_key_and_chunk(spark):
    from datetime import datetime

    from final_ocr_spark.operators.events import asof_join

    ts = datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, ts, "a")], ["uid", "lts", "tag"])
    right = spark.createDataFrame([(1, ts, 1.0)], ["uid", "rts", "price"])
    out = asof_join(left, right, on="uid", left_ts="lts", right_ts="rts",
                    right_cols=["price"], chunk_seconds=3600)
    plan = _plan(out)
    assert "hashpartitioning(uid" in plan and "_chunk" in plan.split(
        "hashpartitioning(uid", 1)[1].split(")")[0]
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_aqe_skew_join_splits_hot_host(spark):
    """Skew evidence for the salting-vs-AQE story PLANS.md argues from
    design: on a planted hot-host join (one host carrying half the rows,
    incompressible payloads so shuffle bytes reflect row bytes), AQE's
    skew handling must actually FIRE — the final adaptive plan shows
    SortMergeJoin(skew=true) with a skewed AQEShuffleRead, and the
    reducer-stage task count EXCEEDS spark.sql.shuffle.partitions.
    The task-count inequality is the bounded-distribution proof: AQE
    coalescing can only merge reducer partitions (count can only drop
    below the configured 8); the skew SPLIT is the only mechanism that
    pushes it above, and each split is capped near the advisory size
    instead of one straggler task carrying the whole hot host."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    sc = spark.sparkContext
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # scaled-down thresholds so the split fires at test size (the
        # default 256 MB bar needs a real cluster's data volume)
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
        # force sort-merge: a broadcast join has no reducer partitions to skew
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        # ~128 B incompressible payload (constant padding lz4-compresses to
        # nothing and the skew detector sees SHUFFLE bytes)
        payload = F.concat(
            F.sha2(F.col("id").cast("string"), 256),
            F.sha2(F.concat(F.lit("b"), F.col("id").cast("string")), 256),
        )
        # 16 map partitions: the skew split's granularity is one map-output
        # chunk per mapper, so the hot partition can split into up to 16
        # pieces (at 4 mappers the max 4-way split is cancelled out by
        # cold-partition coalescing and the task count stays at 8)
        left = spark.range(0, 120000, 1, 16).select(
            F.when(F.col("id") < 60000, F.lit("hot.example"))
            .otherwise(
                F.concat(F.lit("h"), (F.col("id") % 200).cast("string"))
            )
            .alias("host"),
            payload.alias("payload"),
        )
        right = spark.range(0, 201).select(
            F.when(F.col("id") == 0, F.lit("hot.example"))
            .otherwise(F.concat(F.lit("h"), (F.col("id") - 1).cast("string")))
            .alias("host"),
            F.lit(1.0).alias("host_rank"),
        )
        joined = left.join(right, "host")
        sc.setJobGroup("aqe-skew-test", "planted hot-host join")
        # collect() (not count()) so THIS DataFrame's query execution runs —
        # count() spawns its own plan and joined's would stay unexecuted
        assert len(joined.collect()) == 120000  # every row matches once
        plan = _plan(joined)
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert any(
            "AQEShuffleRead" in l and "skewed" in l for l in plan.splitlines()
        ), plan

        st = sc.statusTracker()
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        max_tasks = 0
        for jid in st.getJobIdsForGroup("aqe-skew-test"):
            ji = st.getJobInfo(jid)
            for sid in ji.stageIds:
                si = st.getStageInfo(sid)
                if si:
                    max_tasks = max(max_tasks, si.numTasks)
        assert max_tasks > n_shuffle, (
            f"join stage ran {max_tasks} tasks <= {n_shuffle} shuffle "
            "partitions — hot partition was NOT split"
        )
    finally:
        sc.setJobGroup(None, None)
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pack_chunks_slim_prefix_and_bounded_data_exchanges(spark):
    """pack_chunks' r6 shape (guide §8): the prefix sum runs over the slim
    (key, n_tok) projection — its range exchange and window never see the
    token arrays (both sit behind the slim checkpoint, outside this plan) —
    and the arrays cross AT MOST two hashpartitioning exchanges: the key
    join that attaches the layout (elided entirely when AQE broadcasts the
    layout side) and the one chunk groupBy materialization shuffle, with
    partial collect_list map-side. The per-partition prefix totals still
    arrive by broadcast join — never a data shuffle."""
    from final_ocr_spark.operators.packing import pack_chunks

    df = spark.createDataFrame(
        [(i, list(range(i % 7 + 1))) for i in range(50)],
        "k long, ids array<int>",
    )
    plan = _plan(pack_chunks(df, "k", "ids", 16))
    assert 1 <= plan.count("Exchange hashpartitioning") <= 3
    assert "BroadcastHashJoin" in plan          # prefix-totals join, tiny side
    assert "partial_collect_list" in plan       # map-side combine
    assert "Exchange rangepartitioning" not in plan
    # the range-partitioned window side is slim: no array column rides any
    # visible exchange except the layout join / chunk groupBy
    for line in plan.splitlines():
        if "Exchange rangepartitioning" in line:
            assert "_ids" not in line


def test_fineweb_gates_are_one_python_map(spark, monkeypatch):
    """The fineweb preset's gate layer (language → C4 → quality → Gopher)
    is ONE opaque Python map between the extraction's latest-wins url
    exchange and the exact-dedup stage — no ArrowEvalPython, whose UDF
    terms Catalyst would evaluate under merged filters on rows an earlier
    gate already dropped. The plan is the one corpus_pipeline checkpoints
    right before dedup_exact; the pipeline stops there."""
    import pytest

    from final_ocr_spark.presets import corpus_pipeline_preset
    from final_ocr_spark.schema import PAGES_SCHEMA

    class Checkpointed(Exception):
        pass

    plans = []

    def capture(self, eager=True):
        plans.append(_plan(self))
        raise Checkpointed

    pages = spark.createDataFrame([], PAGES_SCHEMA)
    monkeypatch.setattr(type(pages), "localCheckpoint", capture)
    with pytest.raises(Checkpointed):
        corpus_pipeline_preset(pages, "fineweb")
    plan = plans[0]
    above = plan[: plan.index("Exchange")]
    assert "Exchange hashpartitioning(url#" in plan  # dedup_latest's
    assert "EvalPython" not in plan
    assert above.count("MapInArrow") == 1 and "MapInPandas" not in above


def test_ngram_jaccard_verify_spreads_pairs_and_reads_them_once(spark):
    """The exact-Jaccard verify costs per row but is small in bytes, so
    AQE's byte-sized coalescing would squeeze it onto 1-2 tasks: the pairs
    go through exactly one REPARTITION_BY_NUM exchange (never coalesced)
    below the Jaccard projection. The needed-key list reads the pairs in
    one explode, so the executed plan has no Union (which would run an
    unmaterialized pair table twice)."""
    from final_ocr_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i} alpha beta gamma delta epsilon zeta") for i in range(6)],
        ["doc_id", "text"])
    cand = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5), (0, 1)], ["key_a", "key_b"]).distinct()
    out = ngram_jaccard_pairs(docs, cand, n=3)
    assert len(out.collect()) == 3
    plan = _plan(out)
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0].splitlines()
    proj = next(i for i, line in enumerate(final)
                if line.lstrip(" +-:*()0123456789").startswith("Project")
                and "jaccard" in line)
    assert "\n".join(final[proj + 1:]).count("REPARTITION_BY_NUM") == 1
    assert "Union" not in plan
