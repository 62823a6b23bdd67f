"""Pair verification: MinHash-estimate prefilter + exact shingle Jaccard.

The reference computes sketch-estimated similarity for every pair (U1-U4);
at web scale each candidate pair is first estimated from its MinHash
registers (pure columns in hand, drops most junk candidates), and the
pairs within ``estimate_margin`` of the threshold are confirmed with exact
Jaccard over the documents' shingle-hash sets. One plan builder
(``_verify``) serves both the self mode (``verify_pairs``) and the
two-dataset mode (``cross_verify_pairs``):

1. **Side table per pair role** — ``(id, minhash, shingles)`` restricted
   to candidate members and materialized once. The sets are the signature
   stage's persisted ``shingles`` column; when it is absent the side
   carries the document text instead and ``make_shingle_set_udf`` shingles
   only the members of estimate-passing pairs (each document once, however
   many pairs it is in — boilerplate hubs re-verify hundreds of times).
2. **One stats aggregate** over the side table(s) measures rows and member
   set hashes (projected as one hash per text byte when the sets are not
   persisted). It decides each side's broadcast (``side_fits_broadcast``)
   and the kernel engine: ``lash.verify.intersect`` ``auto`` (default)
   picks the vectorized Arrow kernels at/above 1M member hashes and the JVM
   expressions below (where the Python round-trip costs more than the
   work); ``arrow``/``jvm`` force.
3. **One plan** — a join per role, the estimate filter, an optional
   ``max_pairs_per_doc`` degree cap, exact Jaccard, the threshold filter.
   With persisted sets and no cap the sets ride on the estimate join
   (fused); otherwise the pairs passing the estimate (and the cap) join the
   sets in a second step, so no shingle array passes through the cap
   window and re-shingling touches only surviving members.

Exactness: |A∩B| / |A∪B| over 64-bit shingle hashes; collisions are the
only deviation from string-set Jaccard (P ~ m²/2^64, negligible — the
DuckDB oracle agrees hash-identically at sf0.01).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lash_spark.config import SketchParams
from lash_spark.estimators import minhash_jaccard_expr, with_distance_columns
from lash_spark.hashing import batch_shingle_hash_segments

# auto-engine floor, in measured member-set hashes: the Arrow kernels are 7x
# on the 50k-synth verify (16.5M member hashes) but lose ~0.3-0.5 s per
# call at sf0.1 (~150k hashes), where the per-stage Python round-trip
# exceeds the trivial JVM work
_ARROW_MIN_HASHES = 1_000_000


def _encode(texts: pd.Series) -> "list[bytes]":
    return [t.encode("utf-8") if isinstance(t, str) else b"" for t in texts]


def make_shingle_set_udf(k: int):
    """text -> sorted unique shingle hashes (array<long>), map-only."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def shingle_set(texts: pd.Series) -> pd.Series:
        h, seg = batch_shingle_hash_segments(_encode(texts), k)
        h = h.view(np.int64)
        return pd.Series([h[seg[i] : seg[i + 1]] for i in range(len(texts))])

    return shingle_set


@F.pandas_udf(T.IntegerType())
def _inter_size_udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
    """|A ∩ B| for two sorted-unique shingle-hash arrays per row.

    The sets are produced sorted in UNSIGNED 64-bit order (hashing.py
    batch_shingle_hash_segments sorts as uint64 before the int64 view), so
    one vectorized np.searchsorted of the smaller side into the larger
    computes the exact intersection size. Measured 3-4x faster than JVM
    ``size(array_intersect(...))`` on the 50k-synth verify stage (the JVM
    expression builds a hash set per ROW; guide §4.2 — hand whole batches
    to vectorized native code). Exactness: same integer |A∩B| over the
    same 64-bit hash sets, byte-identical jaccard downstream."""
    out = np.zeros(len(sa), dtype=np.int32)
    for i in range(len(sa)):
        x, y = sa.iat[i], sb.iat[i]
        if x is None or y is None:
            continue
        x = np.asarray(x, dtype=np.int64).view(np.uint64)
        y = np.asarray(y, dtype=np.int64).view(np.uint64)
        if x.size == 0 or y.size == 0:
            continue
        if x.size > y.size:
            x, y = y, x
        idx = np.searchsorted(y, x)
        idx[idx >= y.size] = y.size - 1
        out[i] = int((y[idx] == x).sum())
    return pd.Series(out)


# Marked NON-DETERMINISTIC (value is deterministic): Catalyst's filter
# pushdown checks the PROJECT's determinism, so with a deterministic
# kernel the downstream jaccard-threshold filter was substituted below the
# projection and every est-passing pair evaluated the kernel — and shipped
# both shingle arrays over Arrow — TWICE (guide §4.4's double-eval shape;
# measured: two ArrowEvalPython nodes). The flag blocks that push. The
# 3x-eval trap the flag creates when one expression references the UDF
# three times is avoided structurally: _with_jaccard references the kernel
# exactly ONCE in its own projection and derives jaccard from the column.
_inter_size_udf = _inter_size_udf.asNondeterministic()


@F.pandas_udf(T.DoubleType())
def _minhash_est_udf(ma: pd.Series, mb: pd.Series) -> pd.Series:
    """MinHash register match fraction (U1), vectorized: one np.vstack per
    Arrow batch and a single (A == B) row-sum. Value is EXACTLY
    ``minhash_jaccard_expr``'s — an integer match count divided by the
    register count, both IEEE doubles of the same exact operands — but the
    interpreted zip_with+aggregate fold cost 2.4-2.9 s on the 50k-synth
    verify (318k pairs x 128 registers) where this kernel, transfer
    included, measures 1.2-1.3 s (guide §4.2: hand whole batches to
    vectorized native code).

    Malformed registers follow the JVM fold row by row: a null array gives
    a null estimate (the est filter drops the row) and ragged arrays count
    matches over the common prefix, divided by ``size(a)``."""
    n = len(ma)
    la = np.fromiter((-1 if x is None else len(x) for x in ma), np.int64, n)
    lb = np.fromiter((-1 if x is None else len(x) for x in mb), np.int64, n)
    if n and la[0] > 0 and (la == la[0]).all() and (lb == la[0]).all():
        A = np.vstack(ma.to_numpy())
        B = np.vstack(mb.to_numpy())
        return pd.Series((A == B).sum(axis=1) / float(A.shape[1]))
    out = np.full(n, np.nan)  # NaN travels as null
    for i in np.flatnonzero((la > 0) & (lb >= 0)):
        m = min(la[i], lb[i])
        x = np.asarray(ma.iat[i][:m])
        out[i] = (x == np.asarray(mb.iat[i][:m])).sum() / float(la[i])
    return pd.Series(out)


# same non-determinism rationale as _inter_size_udf: block the est-threshold
# filter from being substituted below the projection (double eval + double
# minhash transfer); call sites reference the column, never the UDF twice
_minhash_est_udf = _minhash_est_udf.asNondeterministic()


def _kernel_engine(spark, set_hashes: int) -> str:
    """``arrow`` or ``jvm`` for both verify kernels, from the MEASURED
    member-set volume of the side table(s): one data-volume story per
    verify call, and ``lash.verify.intersect=jvm`` still forces the all-JVM
    plan."""
    engine = spark.conf.get("lash.verify.intersect", "auto")
    if engine == "auto":
        return "arrow" if set_hashes >= _ARROW_MIN_HASHES else "jvm"
    return engine


def _with_jaccard(df, engine: str, sh_a, sh_b):
    """Attach exact ``jaccard`` = |A∩B| / |A∪B| for the two shingle-set
    columns. The intersection size lands in its own projection, referenced
    exactly once (see the determinism note above); the jaccard expression
    reads the COLUMN, so the optimizer can neither duplicate the kernel
    nor push a threshold filter below it. Under the JVM engine the kernel
    is the deterministic ``array_intersect`` expression instead — there
    the indirection collapses and the threshold pushdown (measured faster
    on the JVM plan) still fires."""
    if engine == "jvm":
        inter = F.size(F.array_intersect(sh_a, sh_b))
    else:
        inter = _inter_size_udf(sh_a, sh_b)
    df = df.withColumn("_iu", inter)
    union = F.size(sh_a) + F.size(sh_b) - F.col("_iu")
    return df.withColumn(
        "jaccard",
        F.when(
            union > 0, F.col("_iu").cast("double") / union.cast("double")
        ).otherwise(F.lit(0.0)),
    ).drop("_iu")


def _broadcast_threshold_bytes(spark) -> int:
    v = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "33554432")
    try:
        return int(v)
    except ValueError:
        try:
            return int(
                spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
            )
        except Exception:
            return 32 * 1024 * 1024


def side_fits_broadcast(spark, rows: int, set_hashes: int, num_perm: int = 0) -> bool:
    """Whether a MEASURED side table is small enough to broadcast: 8 B per
    set hash plus, per row, 4 B per MinHash register (``num_perm``; 0 when
    the joined view carries no registers) and 64 B of id/array overhead.

    The usual auto-broadcast threshold guards against bad ESTIMATES; here
    the bytes come off an exact aggregate of the materialized frame, so a
    higher cap is safe (guide §3.1: a few hundred MB broadcast is fine —
    the cost is one build + per-executor residency, vs shuffling the pair
    table twice with array payloads aboard). ``lash.verify.broadcastBytes``
    overrides it per session; above the cap callers keep the shuffled join,
    so scale behavior is unchanged."""
    side_bytes = set_hashes * 8 + rows * (num_perm * 4 + 64)
    cap = int(spark.conf.get("lash.verify.broadcastBytes", str(128 * 1024 * 1024)))
    return side_bytes < max(cap, _broadcast_threshold_bytes(spark))


def _members(pairs: DataFrame, cols: "list[str]", id_col: str) -> DataFrame:
    return reduce(
        DataFrame.unionByName, [pairs.select(F.col(c).alias(id_col)) for c in cols]
    ).distinct()


def _side_table(sig, docs, ids, id_col: str, text_col: str) -> DataFrame:
    """(id, minhash, shingles) — or (id, minhash, text) when the signature
    table persists no sets — over the member ``ids``, lazily checkpointed:
    the stats aggregate is the frame's first action, so it materializes
    the checkpoint AND returns the exact byte stats in ONE Spark job."""
    side = sig.join(ids, id_col, "left_semi")
    if "shingles" in sig.columns:
        side = side.select(F.col(id_col), F.col("minhash"), F.col("shingles"))
    else:
        # semi-join BEFORE any shingling: the set UDF later runs only over
        # members of estimate-passing pairs, not the whole corpus
        side = side.select(F.col(id_col), F.col("minhash")).join(
            docs.select(F.col(id_col), F.col(text_col)), id_col
        )
    return side.localCheckpoint(eager=False)


def _verify(
    pairs: DataFrame,
    sides: "list[tuple[list[str], DataFrame, DataFrame]]",
    params: SketchParams,
    id_col: str,
    text_col: str,
    threshold: float,
    estimate_margin: float,
    max_pairs_per_doc: int | None,
) -> DataFrame:
    """The one verify plan. ``sides`` holds one (pair columns, signature
    table, documents) entry per side table: the self mode passes a single
    table serving both pair columns, the cross mode one per role.

    Returns ``pairs`` + ``est_jaccard`` + ``jaccard``, thresholded.

    Join strategy is decided from MEASURED bytes, not estimates (guide
    §3.1): at bench scale every side broadcasts and the pair table is never
    shuffled; at 100 TB the sides exceed the cap and the same plan degrades
    to the shuffled join unchanged. Aliased views of ONE materialized side,
    keyed on the same column, canonicalize to the same exchange — the
    second join of the self mode reuses the first's BroadcastExchange (or
    the shuffled fallback's hash exchange) instead of building it twice."""
    spark = pairs.sparkSession
    # pairs feeds the member projections + the joins; candidates from
    # pairs_from_keys arrive checkpointed already (then this is a cheap
    # extra lineage pin), arbitrary caller frames get materialized
    pairs = pairs.localCheckpoint(eager=False)
    tables = [
        (cols, _side_table(sig, docs, _members(pairs, cols, id_col), id_col, text_col))
        for cols, sig, docs in sides
    ]
    stats = reduce(
        DataFrame.unionByName,
        [
            t.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.size("shingles")
                    if "shingles" in t.columns
                    else F.octet_length(text_col)
                ).alias("tot"),
            ).withColumn("_s", F.lit(i))
            for i, (_, t) in enumerate(tables)
        ],
    ).collect()
    st = {r["_s"]: (r["n"] or 0, r["tot"] or 0) for r in stats}
    engine = _kernel_engine(spark, sum(tot for _, tot in st.values()))
    fused = max_pairs_per_doc is None and all("shingles" in t.columns for _, t in tables)
    a, b = [c for pair_cols, _, _ in sides for c in pair_cols]

    def join_views(df, frames, carried, registers):
        for i, (pair_cols, frame) in enumerate(frames):
            n, tot = st[i]
            fits = side_fits_broadcast(
                spark, n, tot if "shingles" in carried else 0, registers
            )
            for c in pair_cols:
                view = frame.select(F.col(id_col), *carried).alias(f"_{c}")
                df = df.join(
                    F.broadcast(view) if fits else view,
                    F.col(c) == F.col(f"_{c}.{id_col}"),
                )
        return df

    mh_a, mh_b = F.col(f"_{a}.minhash"), F.col(f"_{b}.minhash")
    keep = [F.col(c) for c in pairs.columns] + [F.col("est_jaccard")]
    out = (
        join_views(
            pairs,
            tables,
            ["minhash", "shingles"] if fused else ["minhash"],
            params.num_perm,
        )
        .withColumn(
            "est_jaccard",
            minhash_jaccard_expr(mh_a, mh_b)
            if engine == "jvm"
            else _minhash_est_udf(mh_a, mh_b),
        )
        # the est predicate sits below the jaccard projection, so
        # est-failing rows never pay the set intersection
        .filter(F.col("est_jaccard") >= threshold - estimate_margin)
    )
    if not fused:
        out = out.select(*keep)
        if max_pairs_per_doc is not None:
            # degree cap for boilerplate mega-clusters: each document keeps
            # its top-C strongest-estimate neighbors on each side
            for side in (a, b):
                w = Window.partitionBy(side).orderBy(
                    F.desc("est_jaccard"), F.asc(a), F.asc(b)
                )
                out = (
                    out.withColumn("_rk", F.row_number().over(w))
                    .filter(F.col("_rk") <= max_pairs_per_doc)
                    .drop("_rk")
                )
        # the surviving pairs feed the member projections + the set joins:
        # checkpoint (lazily) so the estimate join + cap windows run once
        out = out.localCheckpoint(eager=False)
        shingle_set = make_shingle_set_udf(params.shingle_k)
        sets = [
            (
                pair_cols,
                t.join(_members(out, pair_cols, id_col), id_col, "left_semi")
                .select(
                    F.col(id_col),
                    (
                        F.col("shingles")
                        if "shingles" in t.columns
                        else shingle_set(F.col(text_col))
                    ).alias("shingles"),
                )
                # materialize ONCE: a side feeds both joins of the self
                # mode, and re-shingling is the stage's dominant cost
                .localCheckpoint(eager=False),
            )
            for pair_cols, t in tables
        ]
        out = join_views(out, sets, ["shingles"], 0)
    return (
        _with_jaccard(out, engine, F.col(f"_{a}.shingles"), F.col(f"_{b}.shingles"))
        .filter(F.col("jaccard") >= threshold)
        # explicit final projection: a self-join re-ids the right side's
        # attributes (DeduplicateRelations), so pre-join Column handles
        # cannot name the copies to drop
        .select(*keep, F.col("jaccard"))
    )


def cross_verify_pairs(
    pairs: DataFrame,
    docs_q: DataFrame,
    docs_r: DataFrame,
    params: SketchParams,
    id_col: str = "url",
    text_col: str = "norm_text",
    threshold: float = 0.8,
    estimate_margin: float = 0.15,
    *,
    sig_q: DataFrame,
    sig_r: DataFrame,
) -> DataFrame:
    """Two-dataset verify (query × reference ``dist`` mode): the same plan
    as verify_pairs with one side table per role. The pair (q, r) is
    role-ordered, so no triangular filter; q and r may contain the same
    document (the reference's same-name rows)."""
    q, r = f"{id_col}_q", f"{id_col}_r"
    return _verify(
        pairs,
        [([q], sig_q, docs_q), ([r], sig_r, docs_r)],
        params,
        id_col,
        text_col,
        threshold,
        estimate_margin,
        None,
    ).select(q, r, "jaccard")


def verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    params: SketchParams,
    id_col: str = "url",
    text_col: str = "norm_text",
    threshold: float = 0.8,
    estimate_margin: float = 0.15,
    *,
    sig_df: DataFrame,
    with_distances: bool = True,
    max_pairs_per_doc: int | None = None,
) -> DataFrame:
    """Candidates -> verified near-dup pairs with est_jaccard, exact
    jaccard (+ mash distances); pairs whose estimate falls below
    threshold - estimate_margin are dropped before any set work.

    ``max_pairs_per_doc``: degree cap for boilerplate mega-clusters — an
    m-member template family is a true near-clique with m(m-1)/2 pairs
    (quadratic in m even after bucket-level skew tiers, because OPH
    splinters it across many mid-size buckets). Keeping each document's
    top-C strongest-estimate neighbors bounds verify volume linearly while
    preserving cluster connectivity (every member retains edges into the
    clique). Off by default: leave None when the workload needs the full
    pair set (fixture recall); set for cluster-assignment pipelines.
    """
    a, b = f"{id_col}_a", f"{id_col}_b"
    out = _verify(
        pairs,
        [([a, b], sig_df, docs)],
        params,
        id_col,
        text_col,
        threshold,
        estimate_margin,
        max_pairs_per_doc,
    )
    if with_distances:
        out = with_distance_columns(
            out, "jaccard", k=params.shingle_k, model=params.distance_model, id_col=id_col
        )
    return out
