"""Signature stage: documents -> MinHash/SimHash/band/register columns.

The engine analog of the reference's `sketch` entry point
(``/root/reference/src/main.rs:180-246`` + ``src/utils.rs:437-509``): a
map-only stage (scan → Arrow-batched numpy kernel → write), no shuffle —
which is what makes it embarrassingly scalable (SURVEY.md §3.1).

One pandas UDF computes MinHash + SimHash + LSH band hashes in a single
pass over each Arrow batch (one shingling per document). Register sketches
(HLL/ULL/HMH) are a second optional UDF, only materialized when the sketch-
algebra path needs them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lash_spark.config import LshPlan, SketchParams
from lash_spark.hashing import perm_keys
from lash_spark.sketches import (
    EMPTY_MIN,
    band_hashes,
    sig_to_reg32,
)

# minhash registers travel as int32 (order-preserving high-32-bit view,
# sketches.sig_to_reg32): the estimate prefilter shuffles both sides of
# every candidate pair, so register width is the dominant shuffle cost.
SIGNATURE_SCHEMA = T.StructType(
    [
        T.StructField("minhash", T.ArrayType(T.IntegerType()), False),
        T.StructField("simhash", T.LongType(), False),
        T.StructField("bands", T.ArrayType(T.LongType()), False),
        T.StructField("n_windows", T.LongType(), False),
    ]
)

# `with_shingles` variant: the per-document sorted-unique shingle-hash set,
# computed from the SAME window hashes the signature kernel already has in
# hand (one extra per-segment np.unique — profiled ~25% of the window-hash
# cost). Verify then joins candidate ids against this column and never
# re-shingles a document: the shingle UDF that dominated the verify stage
# (61% post-r4-fix, BENCH/VERIFY_PROFILE.json) disappears entirely.
# Space-time trade: ~8 bytes per unique shingle ≈ the normalized text size
# again, paid only where configured (PipelineConfig.persist_shingles) —
# at low candidate rates re-shingling only candidate members can be
# cheaper, so the verify path accepts either layout.
SIGNATURE_SHINGLES_SCHEMA = T.StructType(
    SIGNATURE_SCHEMA.fields + [T.StructField("shingles", T.ArrayType(T.LongType()), False)]
)

REGISTER_SCHEMA = T.StructType(
    [
        T.StructField("regs", T.ArrayType(T.IntegerType()), False),
        # cached cardinality estimate (S4/S5 — the reference caches
        # hll.len() at load time, utils.rs:214-222): computed once at sketch
        # time so IE-Jaccard pair phases never re-run the estimator per side
        T.StructField("card_est", T.DoubleType(), False),
    ]
)


def _encode(texts: pd.Series) -> "list[bytes]":
    return [t.encode("utf-8") if isinstance(t, str) else b"" for t in texts]


def make_signature_udf(params: SketchParams, plan: LshPlan, with_shingles: bool = False):
    """Scalar pandas UDF: text -> struct(minhash, simhash, bands, n_windows
    [, shingles]).

    Whole pipeline for one Arrow batch: concat-buffer rolling k-gram hashes
    (T4/T6), per-permutation segment-min (A1/A2 analog), SimHash bit-votes
    (O3), band folding (O1). Operates on the window *multiset* — MinHash is
    dedup-invariant (min over multiset == min over set) and SimHash becomes
    the standard frequency-weighted variant — so the kernel is pure linear
    vector ops, no sorting.

    ``with_shingles``: also emit each document's sorted-unique shingle-hash
    set (identical to ``batch_shingle_hash_segments`` output — both are
    np.unique over the same unseeded window hashes), so the verify stage
    can skip its own shingling pass.
    """
    k = params.shingle_k
    num_perm = params.num_perm
    seed = params.seed
    b_, r_ = plan.bands, plan.rows

    mode = params.minhash_mode
    schema = SIGNATURE_SHINGLES_SCHEMA if with_shingles else SIGNATURE_SCHEMA

    @F.pandas_udf(schema)
    def signature_udf(texts: pd.Series) -> pd.DataFrame:
        from lash_spark.hashing import batch_window_hash_segments, mix64
        from lash_spark.sketches import (
            densify_rotation,
            oph_signatures_segments,
            simhash_from_signature,
        )

        hu, seg = batch_window_hash_segments(_encode(texts), k)
        n = len(texts)
        counts = np.diff(seg)
        if mode == "oph":
            # O(total windows): bin by low bits, scatter-min, densify.
            # Seed the stream so different runs/seeds decorrelate.
            hs = mix64(hu ^ np.uint64(seed)) if hu.size else hu
            sigs = densify_rotation(oph_signatures_segments(hs, seg, num_perm))
        else:  # kperm parity mode: O(windows x num_perm), 1-D ops per perm
            sigs = np.full((n, num_perm), EMPTY_MIN, dtype=np.uint64)
            if hu.size:
                ne = np.flatnonzero(counts > 0)
                starts = seg[:-1][counts > 0]
                keys = perm_keys(num_perm, seed)
                for j in range(num_perm):
                    mixed = mix64(hu ^ keys[j])
                    sigs[ne, j] = np.minimum.reduceat(mixed, starts)
        simhashes = simhash_from_signature(sigs)
        bands = band_hashes(sigs, b_, r_, seed).view(np.int64)
        out = {
            "minhash": list(sig_to_reg32(sigs)),
            "simhash": simhashes,
            "bands": list(bands),
            "n_windows": counts,
        }
        if with_shingles:
            out["shingles"] = [
                np.unique(hu[seg[i] : seg[i + 1]]).view(np.int64) for i in range(n)
            ]
        return pd.DataFrame(out)

    return signature_udf


def make_register_udf(params: SketchParams):
    """Scalar pandas UDF: text -> struct(regs: array<int>, card_est) for the
    configured algorithm (hll | ull | hmh), dispatched through the Sketcher
    protocol registry (SURVEY §3.3 — the engine analog of the KmerSketch
    trait + `-a` selection). One segment-scatter pass per Arrow batch — no
    per-document Python dispatch (register inserts are dedup-invariant
    bucket max, so the window multiset feeds them directly)."""
    k, p, seed, alg = params.shingle_k, params.precision, params.seed, params.algorithm
    estimator = params.estimator

    @F.pandas_udf(REGISTER_SCHEMA)
    def register_udf(texts: pd.Series) -> pd.DataFrame:
        from lash_spark.hashing import batch_window_hash_segments
        from lash_spark.sketcher import get_sketcher

        sk = get_sketcher(alg)
        h, seg = batch_window_hash_segments(_encode(texts), k)
        regs = sk.registers_segments(h, seg, p, seed)
        # batch estimator dispatch: ULL `-e fgra` is a vectorized table
        # gather (closed form); MLE paths solve per doc (small: ~55 bins)
        card = sk.cardinality_batch(regs, p, estimator)
        return pd.DataFrame({"regs": list(regs), "card_est": card})

    return register_udf


def add_signatures(
    df: DataFrame,
    params: SketchParams,
    plan: LshPlan | None = None,
    text_col: str = "norm_text",
    with_shingles: bool = False,
) -> DataFrame:
    """Append minhash/simhash/bands/n_windows[/shingles] columns (map-only)."""
    plan = plan or LshPlan.plan(params.num_perm, 0.8)
    udf = make_signature_udf(params, plan, with_shingles)
    sig = df.withColumn("_sig", udf(F.col(text_col)))
    cols = ["_sig.minhash", "_sig.simhash", "_sig.bands", "_sig.n_windows"]
    if with_shingles:
        cols.append("_sig.shingles")
    return sig.select("*", *cols).drop("_sig")


def add_register_sketch(
    df: DataFrame, params: SketchParams, text_col: str = "norm_text", out_col: str = "regs"
) -> DataFrame:
    """Appends the register sketch + its cached cardinality estimate
    (``card_est``, S4/S5) in one map-only pass."""
    tmp = df.withColumn("_rs", make_register_udf(params)(F.col(text_col)))
    return (
        tmp.withColumn(out_col, F.col("_rs.regs"))
        .withColumn("card_est", F.col("_rs.card_est"))
        .drop("_rs")
    )


def build_signatures(
    docs: DataFrame,
    params: SketchParams,
    plan: LshPlan | None = None,
    id_col: str = "url",
    text_col: str = "norm_text",
    min_parallelism: int | None = None,
    with_shingles: bool = False,
    carry_cols: "tuple[str, ...] | list[str]" = (),
) -> DataFrame:
    """The signatures table (D6 analog): (id, minhash, simhash, bands,
    n_shingles[, shingles]). Narrow projection so the parquet scan prunes
    to (id, text) only (plus ``carry_cols`` passthroughs, e.g. the resume
    content fingerprint). The input's partitions are sized to the cluster
    first (``fan_out``): a single small parquet file is repartitioned so
    the map-only UDF stage fans out, and a small input spread over many
    files is coalesced so the UDF does not pay its per-partition cost once
    per file — at real scale inputs arrive as >> cores splits of real size
    and this is a no-op."""
    from lash_spark.operators.normalize import fan_out

    # shuffle only GENUINELY under-partitioned inputs — see fan_out: a
    # 128-partition synth input vs 256 target is not repartitioned (that
    # was a pure-waste 100 MB text shuffle on the 50k bench query).
    narrow = fan_out(docs.select(id_col, text_col, *carry_cols), min_parallelism)
    return add_signatures(narrow, params, plan, text_col, with_shingles).drop(text_col)
