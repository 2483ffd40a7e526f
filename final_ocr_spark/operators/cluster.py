"""Distributed k-means over document embeddings (Lloyd's algorithm,
MacQueen 1967 / Lloyd 1982), the clustering layer of the embedding family
(SemDeDup's first stage clusters before intra-cluster dedup — Abbas et al.
2023 — and corpus cartography / mixture design both start from "what are
the k big regions of this corpus?").

Scale shape — the reason this is a broadcast-assign / slim-agg loop and
not a UDF-side library call:

* **Assign+update** (per iteration, r6 shape): one RDD job over cached
  per-partition numpy matrices — each task computes ``X @ C.T`` argmin and
  its partition's (k×dim sums, k counts) partial; partials merge in
  partition-index order (one fixed float association — the r1-r5 SQL agg's
  merge order was fetch-order dependent) through a bounded executor-side
  combine stage, and the driver receives ≤ merge_parts k×dim partials.
  The centroid matrix ships in the task closure (k×dim capped — see
  guard). Why RDD, not the previous pandas-UDF + posexplode/groupBy SQL
  aggregation: Lloyd's submits ``max_iters`` structurally-new plans (the
  closure changes every pass), so each iteration re-paid analysis + AQE +
  whole-stage-codegen compile — measured 0.85s/iteration against 0.10s
  for the identical already-compiled plan at 2k×64, i.e. ~90% of the loop
  was query-compilation overhead, not compute (guide §1.2: fix the
  algorithmic shape first). This is MLlib KMeans' own layout (RDD
  aggregation of per-partition partials).
* **Init**: deterministic — no RNG, no ``Date.now``. ``init='hash'``
  takes the k smallest-``xxhash64(key, seed)`` documents' vectors
  (uniform over the corpus, rerun-stable under any partitioning);
  ``init='kmeanspp'`` (default) runs classic k-means++ driver-side over
  the ``sample_size`` smallest-hash vectors with a seeded numpy
  RandomState — the standard "k-means++ on a sample" initialization
  (the deterministic core of k-means||, Bahmani et al. 2012, without
  its oversampling rounds).

Convergence: Lloyd's iterations stop at ``tol`` (max centroid L2 shift)
or ``max_iters``; the final shift is returned so a capped run is
observably (non-)converged — the same observability contract as
links.pagerank's ``l1_delta``. Float caveat: cluster sums are
partition-order floats, so centroids can jitter in the last bits across
runs; assignments are stable whenever points aren't knife-edge
equidistant (ties break to the LOWEST cluster id deterministically).

Reference provenance: the reference engine (ocr.py/ocr2.py) has no
clustering; this operator exists for the LLM-data-pipeline layer
(SURVEY §2 similarity/semantic family).
"""

from __future__ import annotations

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
try:  # numpy is part of the pinned environment; guard stays for parity
    import numpy as np
except ImportError:  # pragma: no cover
    np = None


def _init_centroids(
    vec_rows: DataFrame,
    k: int,
    dim: int,
    init: str,
    sample_size: int,
    seed: int,
):
    """Deterministic initial k×dim centroid matrix (see module docstring).
    ``vec_rows`` is the cached (k, _v) frame; the hash order makes the
    sample (and therefore the init) independent of partitioning."""
    n_take = k if init == "hash" else max(k, sample_size)
    sample = (
        vec_rows.select(
            "k", "_v", F.xxhash64(F.col("k"), F.lit(seed)).alias("_h")
        )
        .orderBy("_h", "k")  # key tiebreak: hash collisions stay stable
        .limit(n_take)
        .collect()
    )
    pts = np.asarray([r["_v"] for r in sample], dtype=np.float64)
    if len(pts) < k:
        raise ValueError(
            f"k={k} exceeds the {len(pts)} embeddable documents"
        )
    if init == "hash":
        return pts[:k].copy()
    # classic k-means++ over the hash-ordered sample, seeded → deterministic
    rng = np.random.RandomState(seed)
    centroids = np.empty((k, dim), dtype=np.float64)
    centroids[0] = pts[rng.randint(len(pts))]
    d2 = ((pts - centroids[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        tot = d2.sum()
        if tot <= 0.0:  # all remaining points coincide with a centroid
            centroids[i:] = pts[rng.randint(len(pts), size=k - i)]
            break
        centroids[i] = pts[rng.choice(len(pts), p=d2 / tot)]
        d2 = np.minimum(d2, ((pts - centroids[i]) ** 2).sum(axis=1))
    return centroids


def kmeans(
    df: DataFrame,
    k: int,
    *,
    key: str = "url",
    vec_col: str = "embedding",
    max_iters: int = 20,
    tol: float = 1e-6,
    init: str = "kmeanspp",
    sample_size: int = 4096,
    seed: int = 0,
) -> tuple[DataFrame, DataFrame, dict]:
    """Lloyd's k-means over ``(key, vec_col)``. Returns
    ``(assignments, centroids, info)``:

    * ``assignments`` — (key, cluster int, dist double): each embeddable
      doc's cluster and squared L2 distance to its centroid. Docs with a
      NULL vector are EXCLUDED (no vector, no judgment — the same loud-
      absence rule as the embedder); callers union them back explicitly.
    * ``centroids`` — (cluster, centroid array<double>, size long).
    * ``info`` — {"iters", "shift" (last max centroid L2 move),
      "converged", "inertia" (sum of squared distances)}.

    Distance is squared Euclidean; on unit-normalized embeddings (the
    embedder's default) that is equivalent to cosine ordering. Empty
    clusters keep their previous centroid (documented Lloyd's convention;
    their ``size`` reports 0)."""
    if np is None:  # pragma: no cover
        raise ImportError("kmeans requires numpy")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if init not in ("kmeanspp", "hash"):
        raise ValueError(f"init must be 'kmeanspp' or 'hash', got {init!r}")
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")

    spark = df.sparkSession
    vec_rows = (
        df.select(
            F.col(key).alias("k"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
        .localCheckpoint(eager=False)  # scanned once per iteration
    )
    dims = vec_rows.agg(
        F.min(F.size("_v")).alias("lo"), F.max(F.size("_v")).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    if dims["lo"] is None:
        raise ValueError("no non-null vectors to cluster")
    # right-size the per-iteration parallelism to the ROW count: the input
    # partitioning is sized for the upstream corpus, and Lloyd's runs
    # max_iters jobs over it — on a modest vector table, dozens of few-row
    # tasks per iteration cost more in scheduling than the matmul itself.
    # Narrow coalesce over the checkpointed blocks, never a shuffle; at
    # production row counts the target leaves the partitioning untouched.
    target = max(1, min(int(vec_rows.rdd.getNumPartitions()),
                        (int(dims["n"]) + 4095) // 4096))
    work_rows = vec_rows.coalesce(target)
    if dims["lo"] != dims["hi"]:
        raise ValueError(
            f"mixed embedding dims {dims['lo']}..{dims['hi']} — one family "
            "per clustering run"
        )
    dim = int(dims["lo"])
    if k * dim > (1 << 22):
        raise ValueError(
            f"k*dim = {k * dim} exceeds the broadcast-closure cap (2^22 "
            "doubles ≈ 32 MB) — shrink k or the embedding dim"
        )

    centroids = _init_centroids(vec_rows, k, dim, init, sample_size, seed)

    # one numpy matrix per partition, cached: every Lloyd's pass is a plain
    # RDD job over these — no Catalyst/AQE/codegen inside the loop (module
    # docstring). Row order inside a partition is the checkpoint's, fixed.
    def _to_mat(it):
        rows = [r["_v"] for r in it]
        if rows:
            yield np.asarray(rows, dtype=np.float64)

    # MEMORY_AND_DISK: a matrix that does not fit in memory spills instead of
    # being dropped and rebuilt from the checkpoint on every pass
    mats = work_rows.rdd.mapPartitions(_to_mat).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # executor-side combine keeps the driver's merge bounded (≤32 partials
    # of k×dim) at any partition count; consecutive-index association keeps
    # the float sum order FIXED run-to-run (the SQL agg's merge followed
    # shuffle fetch order, which is not)
    merge_parts = max(1, min(32, mats.getNumPartitions()))
    kk, dd = k, dim

    def _merge(it):
        parts = sorted(it, key=lambda t: t[0])
        if not parts:
            return
        acc = parts[0][1].copy()
        cnt = parts[0][2].copy()
        for _, s, n in parts[1:]:
            acc += s
            cnt += n
        yield (parts[0][0], acc, cnt)

    info = {"iters": 0, "shift": float("inf"), "converged": False}
    for _ in range(max_iters):
        info["iters"] += 1
        c = centroids.copy()  # pin this iteration's matrix into the closure
        cn2 = (c * c).sum(axis=1)

        def _partial(idx, it, c=c, cn2=cn2):
            acc = np.zeros((kk, dd), dtype=np.float64)
            cnt = np.zeros(kk, dtype=np.int64)
            seen = False
            for x_mat in it:
                seen = True
                # |x-c|² = |x|² - 2x·c + |c|²; |x|² is constant per row, so
                # argmin needs only the matmul term. Ties → lowest cluster.
                a = (cn2 - 2.0 * (x_mat @ c.T)).argmin(axis=1)
                np.add.at(acc, a, x_mat)
                cnt += np.bincount(a, minlength=kk)
            if seen:
                yield (idx, acc, cnt)

        chunks = sorted(
            mats.mapPartitionsWithIndex(_partial)
            .coalesce(merge_parts)
            .mapPartitions(_merge)
            .collect(),
            key=lambda t: t[0],
        )
        new_c = centroids.copy()  # empty clusters keep their centroid
        counts = np.zeros(k, dtype=np.int64)
        acc = np.zeros((k, dim), dtype=np.float64)
        for _, s, n in chunks:
            acc += s
            counts += n
        nz = counts > 0
        new_c[nz] = acc[nz] / counts[nz, None]
        info["shift"] = float(
            np.sqrt(((new_c - centroids) ** 2).sum(axis=1)).max()
        )
        centroids = new_c
        if info["shift"] <= tol:
            info["converged"] = True
            break
    mats.unpersist(blocking=False)

    # final assignment against the converged centroids, with distances
    c = centroids
    cn2 = (c * c).sum(axis=1)

    @F.pandas_udf("struct<c: int, d: double>")
    def _argmin_d(v: pd.Series) -> pd.DataFrame:
        x = np.asarray(v.tolist(), dtype=np.float64)
        d = (x * x).sum(axis=1)[:, None] + cn2 - 2.0 * (x @ c.T)
        i = d.argmin(axis=1)
        return pd.DataFrame(
            {
                "c": i.astype("int32"),
                # clamp float cancellation: a true distance is never < 0
                "d": np.maximum(d[np.arange(len(i)), i], 0.0),
            }
        )

    assignments = (
        work_rows.withColumn("_cd", _argmin_d("_v"))
        .select(
            F.col("k").alias(key),
            F.col("_cd.c").alias("cluster"),
            F.col("_cd.d").alias("dist"),
        )
        .localCheckpoint(eager=False)  # consumed twice (result + stats)
    )
    # ONE stats job instead of separate inertia + sizes actions: per-cluster
    # (count, sum(dist)) rows, inertia folded driver-side over ≤k partials
    stats = assignments.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"), F.sum("dist").alias("d")
    ).collect()
    info["inertia"] = float(sum((r["d"] or 0.0) for r in stats))
    sizes = {r["cluster"]: r["n"] for r in stats}
    centroids_df = spark.createDataFrame(
        [
            (i, [float(x) for x in centroids[i]], int(sizes.get(i, 0)))
            for i in range(k)
        ],
        "cluster int, centroid array<double>, size long",
    )
    return assignments, centroids_df, info


def prune_prototypes(
    df: DataFrame,
    assignments: DataFrame,
    frac: float,
    *,
    key: str = "url",
    mode: str = "approx",
    accuracy: int = 10000,
) -> DataFrame:
    """SSP prototype pruning (Sorscher et al. 2022 "Beyond neural scaling
    laws"; the second stage of D4, Tirumala et al. 2023): drop the ``frac``
    MOST PROTOTYPICAL documents of each k-means cluster — the ones closest
    to their centroid, i.e. the most redundant mass of each semantic
    region — and keep the informative tail. Composes with
    :func:`~final_ocr_spark.operators.similarity.semantic_dedup_kmeans`
    (dedup first, then prune) to form the full D4 recipe.

    ``assignments`` is :func:`kmeans`'s (key, cluster, dist) output. Rows
    of ``df`` with no assignment row (e.g. NULL embeddings) pass through
    unpruned — no vector, no judgment.

    Scale shape: ``mode="approx"`` (default) computes ONE per-cluster
    ``percentile_approx(dist, frac)`` aggregation and broadcasts the ≤k-row
    cutoff table — no per-cluster sort anywhere, identical plan at any
    corpus size (the lm.py CCNet-band discipline). Ties at the cutoff are
    kept (strict ``<`` drops), so the dropped fraction is ≤ frac.
    ``mode="exact"`` ranks inside each cluster with a window — exact
    count ``floor(frac·size)`` dropped with deterministic (dist, key)
    order, at the cost of a per-cluster sort; use it for modest corpora
    or after a per-cluster cap."""
    if not 0.0 <= frac < 1.0:
        raise ValueError(f"frac must be in [0, 1), got {frac}")
    if mode not in ("approx", "exact"):
        raise ValueError(f"mode must be 'approx' or 'exact', got {mode!r}")
    if frac == 0.0:
        return df
    a = assignments.select(
        F.col(key).alias("_k"), F.col("cluster").alias("_c"),
        F.col("dist").alias("_d"),
    )
    if mode == "approx":
        cuts = a.groupBy("_c").agg(
            F.percentile_approx("_d", frac, accuracy).alias("_cut")
        )
        drops = (
            a.join(F.broadcast(cuts), "_c")
            .filter(F.col("_d") < F.col("_cut"))
            .select(F.col("_k").alias(key))
        )
    else:
        from pyspark.sql import Window

        w = Window.partitionBy("_c").orderBy(
            F.col("_d").asc(), F.col("_k").asc()
        )
        sizes = a.groupBy("_c").agg(F.count(F.lit(1)).alias("_n"))
        drops = (
            a.withColumn("_rn", F.row_number().over(w))
            .join(F.broadcast(sizes), "_c")
            .filter(F.col("_rn") <= F.floor(F.col("_n") * F.lit(float(frac))))
            .select(F.col("_k").alias(key))
        )
    return df.join(drops, key, "left_anti")
