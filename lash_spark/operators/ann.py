"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: broadcast the (small) query set, JVM-side
  zip_with dot products, window top-k. The correctness baseline.
- LSH-bucketed (random hyperplane / SRP) variant: the scale path — probe
  only the query's hash bucket(s) instead of the full corpus.
- Embedding-cosine near-dup pairs: all-pairs above a cosine threshold via
  SRP bucket candidate generation + exact verify (same skeleton as text
  LSH: candidates -> verify -> threshold).

Dot products use F.zip_with + F.aggregate (JVM, codegen) — no Python on
the corpus side. Hyperplane projections are a one-pass pandas UDF (Arrow).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lash_spark.operators.lsh import pairs_from_keys


def dot_expr(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_expr(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a, b):
    """Cosine over double-cast arrays; 0 when either norm is 0."""
    d = dot_expr(a, b)
    n = norm_expr(a) * norm_expr(b)
    return F.when(n > 0, d / n).otherwise(F.lit(0.0))


def cosine_from_norms(a, b, norm_a, norm_b):
    """Cosine with the per-vector norms precomputed ONCE per side instead
    of per scored pair: the interpreted norm aggregate was 2/3 of each
    scored row's HOF work (dot + both norms — guide §1.2 per-task work).
    Numerically identical to :func:`cosine_expr` — a vector's norm is the
    same fold over the same array wherever it is evaluated, and the
    (norm_a * norm_b) product and when(n > 0) guard are unchanged."""
    d = dot_expr(a, b)
    n = norm_a * norm_b
    return F.when(n > 0, d / n).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Broadcast the query side (small by
    contract); the corpus scan stays partition-parallel with no shuffle
    until the per-query top-k aggregation."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("q_norm", norm_expr(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("c_norm", norm_expr(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("item_id"))
        .withColumn(
            "cosine",
            cosine_from_norms(
                F.col("qv"), F.col("cv"), F.col("q_norm"), F.col("c_norm")
            ),
        )
        .select("query_id", "item_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("item_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def make_srp_udf(dim: int, n_planes: int, seed: int, n_tables: int = 1):
    """Signed-random-projection bucket ids: sign bits of V @ P packed into a
    long per hash table. One Arrow pass computes all ``n_tables``
    independent projections (the banded-LSH analog for cosine: a near-dup
    pair collides in at least one table w.p. 1-(1-p^planes)^tables, the
    same S-curve as MinHash bands). P is regenerated deterministically per
    worker. Returns long (n_tables == 1) or array<long>.

    Marked non-deterministic (the value is deterministic) so it runs once
    per row: the ``posexplode`` of the table keys, like the fingerprint
    UDF's ``explode`` (substring.make_fingerprint_udf), would otherwise
    get an inferred ``size(keys) > 0`` filter pushed below the projection
    with the UDF substituted into it."""

    @F.pandas_udf(T.ArrayType(T.LongType()) if n_tables > 1 else T.LongType())
    def srp(vecs: pd.Series) -> pd.Series:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((dim, n_tables * n_planes))
        m = np.zeros((len(vecs), dim), dtype=np.float64)
        for i, v in enumerate(vecs):
            if v is not None:
                m[i, : len(v)] = np.asarray(v, dtype=np.float64)[:dim]
        bits = (m @ planes) >= 0
        weights = (1 << np.arange(n_planes, dtype=np.uint64)).astype(np.uint64)
        packed = (
            bits.reshape(len(vecs), n_tables, n_planes).astype(np.uint64)
            * weights[None, None, :]
        ).sum(axis=2).astype(np.uint64).view(np.int64)
        if n_tables == 1:
            return pd.Series(packed[:, 0])
        return pd.Series(list(packed))

    return srp.asNondeterministic()


def srp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: equi-join on the SRP bucket, exact cosine inside
    the bucket. Probing only the exact bucket trades recall for a ~2^planes
    candidate reduction (multi-probe = flip-1-bit neighbors, future knob)."""
    srp = make_srp_udf(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("bucket", srp(F.col("cv"))).withColumn(
        "c_norm", norm_expr(F.col("cv"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("bucket", srp(F.col("qv"))).withColumn(
        "q_norm", norm_expr(F.col("qv"))
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("item_id"))
        .withColumn(
            "cosine",
            cosine_from_norms(
                F.col("qv"), F.col("cv"), F.col("q_norm"), F.col("c_norm")
            ),
        )
        .select("query_id", "item_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("item_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dup_pairs(
    vectors: DataFrame,
    dim: int,
    cosine_threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 2000,
) -> DataFrame:
    """Embedding-cosine near-dup: banded SRP bucket candidates -> exact
    cosine verify >= threshold. Same candidates->verify shape as text LSH;
    ``n_tables`` independent hash tables give the multi-band recall curve
    (miss probability (1-p^planes)^tables, p = 1 - theta/pi)."""
    srp = make_srp_udf(dim, n_planes, seed, n_tables=n_tables)
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("keys", srp(F.col("v")))
    keyed = v.select(
        F.col(id_col), F.posexplode("keys").alias("band_id", "key")
    )
    pairs = pairs_from_keys(keyed, id_col=id_col, max_bucket=max_bucket)
    a, b = f"{id_col}_a", f"{id_col}_b"
    side = v.select(F.col(id_col), "v").withColumn("vn", norm_expr(F.col("v")))
    return (
        pairs.join(side.withColumnsRenamed({id_col: a, "v": "va", "vn": "na"}), a)
        .join(side.withColumnsRenamed({id_col: b, "v": "vb", "vn": "nb"}), b)
        .withColumn(
            "cosine",
            cosine_from_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
        )
        .filter(F.col("cosine") >= cosine_threshold)
        .select(a, b, "cosine")
    )


def _unit_expr(col):
    # L2-normalize so KMeans cells + centroid L2 probing are consistent
    # with the cosine ranking metric (on the unit sphere, L2 distance is
    # monotone in cosine); ranking still uses the original vectors.
    n = norm_expr(col)
    return F.when(n > 0, F.transform(col, lambda x: x / n)).otherwise(col)


@dataclass(frozen=True)
class IvfIndex:
    """Fitted inverted-file index: the cell-assigned corpus plus the tiny
    centroid table. Build once with :func:`ivf_fit`, reuse across query
    batches with :func:`ivf_probe` — index build is the expensive phase
    (KMeans fit + one full-corpus assignment pass) and amortizes exactly
    like a FAISS IVF index does; persist ``assigned`` when probing more
    than once."""

    assigned: DataFrame  # (item_id, cv, cell)
    centroids: DataFrame  # (cell, centroid) — n_lists rows
    n_lists: int


def _local_kmeans(
    x: np.ndarray, k: int, seed: int, max_iter: int = 25
) -> np.ndarray:
    """Deterministic Lloyd's with k-means++ seeding over the (bounded)
    training sample — numpy on the driver. The sample is capped at
    ``train_per_list * n_lists`` rows by the caller, so this is O(cap·k·dim)
    driver work on a few MB, replacing an MLlib fit whose ~2·maxIter
    scheduler round-trips of near-empty tasks dominated the IVF build at
    bench scale (guide §1.2: fix the algorithm's job count, not the
    config). Centroid QUALITY is the same algorithm family (k-means++ +
    Lloyd iterations); IVF correctness never depends on the centroids —
    cells merely partition the corpus, and n_probe == n_lists remains
    exactly brute force."""
    n = x.shape[0]
    rng = np.random.default_rng(seed)
    centers = np.empty((k, x.shape[1]), dtype=np.float64)
    centers[0] = x[int(rng.integers(n))]
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        tot = float(d2.sum())
        if tot > 0:
            centers[j] = x[int(rng.choice(n, p=d2 / tot))]
        else:  # all remaining points coincide with a chosen center
            centers[j] = x[int(rng.integers(n))]
        d2 = np.minimum(d2, ((x - centers[j]) ** 2).sum(axis=1))
    for _ in range(max_iter):
        dist = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        a = dist.argmin(axis=1)
        new = np.vstack(
            [
                x[a == j].mean(axis=0) if (a == j).any() else centers[j]
                for j in range(k)
            ]
        )
        if np.allclose(new, centers, rtol=0.0, atol=1e-12):
            break
        centers = new
    return centers


def _make_cell_udf(centers: np.ndarray):
    """vector -> index of the nearest centroid (squared L2), one Arrow
    batch at a time: ||x||² − 2·x·Cᵀ + ||c||² argmin via a single numpy
    matmul. A Column-expression formulation was tried first and rejected
    by measurement: inlining k × dim centroid literals produced a
    1000+-node expression tree whose driver-side analysis/codegen cost
    ~9 s PER QUERY PLAN at k=16, dim=64 (guide §7.3 — planning time on
    huge expression trees), dwarfing the 2000-row execution. The UDF keeps
    the plan tiny and the per-batch work is one BLAS call (guide §4.2).
    np.argmin takes the first minimum, so ties break on the lower cell
    index deterministically."""
    C = np.asarray(centers, dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    @F.pandas_udf("int")
    def cell(vs: pd.Series) -> pd.Series:
        m = np.zeros((len(vs), C.shape[1]), dtype=np.float64)
        for i, v in enumerate(vs):
            if v is not None:
                a = np.asarray(v, dtype=np.float64)[: C.shape[1]]
                m[i, : a.size] = a
        d = (m * m).sum(axis=1)[:, None] - 2.0 * (m @ C.T) + c2[None, :]
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return cell


def ivf_fit(
    corpus: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_per_list: int = 256,
) -> IvfIndex:
    """Build the IVF index: centroid training is a driver-local seeded
    k-means over a bounded sample of ``train_per_list * n_lists`` vectors
    (standard IVF practice — centroid quality saturates at a few hundred
    points per cell; the sample cap bounds driver memory per guide §5);
    cell assignment of the FULL corpus is one JVM map pass."""
    spark = corpus.sparkSession
    c = corpus.select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cu", _unit_expr(F.col("cv")))
    cap = max(train_per_list * n_lists, n_lists)
    # Bounded deterministic sample with NO full-corpus count job (ADVICE
    # r3): order by a seeded per-row hash and take the top `cap` — Spark
    # plans this as partial per-partition top-K + one merge (one pass, no
    # head-of-table bias since hash order is content-independent), and it
    # yields exactly min(n, cap) rows, so the fit can never see fewer than
    # n_lists points unless the corpus itself has fewer.
    train = (
        c.withColumn("_h", F.xxhash64(F.col("item_id"), F.lit(seed)))
        .orderBy("_h", "item_id")
        .limit(cap)
        .select("cu")
        .collect()
    )
    x = np.asarray([r["cu"] for r in train], dtype=np.float64)
    centers = _local_kmeans(x, n_lists, seed)
    assigned = c.withColumn("cell", _make_cell_udf(centers)(F.col("cu"))).select(
        "item_id", "cv", "cell", norm_expr(F.col("cv")).alias("c_norm")
    )
    # centroid table is tiny (n_lists rows) — broadcast to score query->cell.
    # Built from a PANDAS frame, not a python list: list-backed
    # createDataFrame plans as a pickled-RDD scan whose Python stage cost
    # ~2.3 s on EVERY action touching the frame (measured round 6 — this
    # was the unexplained 'scheduler floor' of ivf_probe); the pandas/Arrow
    # path plans as a LocalTableScan (~0.1 s).
    cent = spark.createDataFrame(
        pd.DataFrame(
            {"cell": range(len(centers)), "centroid": [list(map(float, c)) for c in centers]}
        ),
        "cell int, centroid array<double>",
    )
    return IvfIndex(assigned=assigned, centroids=cent, n_lists=n_lists)


def ivf_probe(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_round: int | None = None,
) -> DataFrame:
    """Probe a fitted :class:`IvfIndex`: each query scores only the
    ``n_probe`` cells whose centroids are nearest, touching
    ~n_probe/n_lists of the corpus instead of all of it. The probe is an
    equi-join on cell id, so per-query work is bounded and the corpus is
    never broadcast. With ``n_probe == n_lists`` results are exactly brute
    force regardless of centroid quality (used by the correctness oracle);
    recall at n_probe < n_lists is the standard IVF trade-off."""
    cent = index.centroids
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qu", _unit_expr(F.col("qv"))).withColumn(
        "q_norm", norm_expr(F.col("qv"))
    )
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with("qu", "centroid", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("c_dist"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("c_dist", l2)
        .withColumn("c_rank", F.row_number().over(wq))
        .filter(F.col("c_rank") <= n_probe)
        .select("query_id", "qv", "q_norm", "cell")
    )
    cos = cosine_from_norms(F.col("qv"), F.col("cv"), F.col("q_norm"), F.col("c_norm"))
    if cosine_round is not None:  # round-before-rank for oracle-stable order
        cos = F.round(cos, cosine_round)
    scored = (
        # probes = |query batch| x n_probe rows (small by the same contract
        # as brute_force_topk's query side): broadcast them so the corpus
        # side is never shuffled by cell
        index.assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("item_id"))
        .withColumn("cosine", cos)
        .select("query_id", "item_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("item_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_round: int | None = None,
    train_per_list: int = 256,
) -> DataFrame:
    """One-shot IVF top-k: :func:`ivf_fit` + :func:`ivf_probe`. For
    repeated query batches against the same corpus, fit once and reuse the
    :class:`IvfIndex` instead — the fit (KMeans + full-corpus assignment)
    dominates this call's cost at small scale."""
    index = ivf_fit(
        corpus,
        n_lists=n_lists,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        train_per_list=train_per_list,
    )
    return ivf_probe(
        index,
        queries,
        k=k,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        cosine_round=cosine_round,
    )
