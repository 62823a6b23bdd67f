"""Exact-substring duplication pass (O5) via winnowed rolling hashes.

Flags document pairs sharing an exact substring of length >= L. Instead of
a monolithic distributed suffix array, we use the winnowing fingerprint
scheme (Schleimer, Wilkerson, Aiken, SIGMOD 2003): rolling k-gram hashes, then
keep the minimum hash of every window of w = L - k + 1 consecutive
k-grams. Guarantee: any shared substring of length >= L shares at least one
selected fingerprint, so the fingerprint equi-join is a *complete* candidate
generator.

Verification (the per-candidate hot path) is shaped like the near-dup
verify engine (operators/verify.py): each candidate document's unique
length-L window-hash set is computed ONCE by a map-only Arrow UDF, then the
per-pair check is `arrays_overlap` — pure JVM inside WholeStageCodegen, no
per-pair Python. Two documents share a substring of length >= L iff they
share a length-L window, so overlap of the window-hash sets decides the
pair exactly (64-bit hash collisions are the only deviation, P ~ m²/2^64).

The exact maximal common-substring *length* is an optional second pass
(``common_substring_lengths``) that only confirmed pairs pay.

Scale shape: fingerprinting is map-only (Arrow UDF, O(n) sliding minimum);
the join reuses the skew-tiered pair generator; verification is JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lash_spark.hashing import U64, rolling_window_hashes
from lash_spark.operators.lsh import pairs_from_keys
from lash_spark.operators.verify import side_fits_broadcast

_U64_MAX = U64(0xFFFFFFFFFFFFFFFF)


def sliding_min(h: np.ndarray, w: int) -> np.ndarray:
    """Minimum of every window of ``w`` consecutive elements, O(n).

    Block decomposition (two monotone scans): split into blocks of size w,
    prefix-min and suffix-min within each block; the window starting at i
    is covered exactly by suffix[i] (i to its block end) plus
    prefix[i+w-1] (block start to i+w-1). Replaces the O(n·w)
    sliding_window_view().min(axis=1) hot loop."""
    n = h.size
    if w <= 1:
        return h.copy()
    if n <= w:
        return h.min(keepdims=True) if n else h.copy()
    nw = n - w + 1
    nblocks = -(-n // w)
    pad = nblocks * w - n
    hp = np.concatenate([h, np.full(pad, _U64_MAX, dtype=h.dtype)]) if pad else h
    blocks = hp.reshape(nblocks, w)
    pref = np.minimum.accumulate(blocks, axis=1).reshape(-1)
    suff = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].reshape(-1)
    return np.minimum(suff[:nw], pref[w - 1 : w - 1 + nw])


def winnow_fingerprints(data: bytes, min_len: int, k: int = 32) -> np.ndarray:
    """Selected k-gram hashes of one document (winnowing, window
    w = min_len - k + 1). Returns unique uint64 fingerprints."""
    buf = np.frombuffer(data, dtype=np.uint8)
    if buf.size < min_len:
        return np.empty(0, dtype=np.uint64)
    h = rolling_window_hashes(buf, k)
    w = min_len - k + 1
    return np.unique(sliding_min(h, w))


def make_fingerprint_udf(min_len: int, k: int = 32):
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def fp_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            data = t.encode("utf-8") if isinstance(t, str) else b""
            out.append(winnow_fingerprints(data, min_len, k).view(np.int64))
        return pd.Series(out)

    return fp_udf


def make_window_set_udf(win_len: int):
    """text -> unique hashes of every length-``win_len`` byte window
    (array<long>), map-only. One rolling-hash pass per document."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def win_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            data = t.encode("utf-8") if isinstance(t, str) else b""
            buf = np.frombuffer(data, dtype=np.uint8)
            out.append(np.unique(rolling_window_hashes(buf, win_len)).view(np.int64))
        return pd.Series(out)

    return win_udf


# Ceiling on materialized (pos_a, pos_b) hash-match pairs in the
# seed-and-extend path. Repetitive/periodic text (boilerplate, spam) can
# make every window of a match every window of b — O(|a|·|b|) pairs, which
# at two ~100 KB documents would OOM an executor (ADVICE r3). Above the cap
# we fall back to binary search on the length, which touches O(|a|+|b|)
# unique hashes per probe and never materializes position pairs.
_LCS_MATCH_CAP = 4_000_000


def _lcs_length_bisect(ba: np.ndarray, bb: np.ndarray, min_len: int) -> int:
    """Near-linear-memory fallback: binary search on the answer length.
    A common substring of length >= L exists iff the length-L window-hash
    SETS intersect (np.intersect1d over unique hashes — no position
    pairs). O((|a|+|b|) log|answer|) work, O(|a|+|b|) memory.

    The hash intersection alone could report a collision-inflated length
    (the seed-and-extend path byte-verifies every diagonal; this path must
    not be weaker — ADVICE r4), so the converged length is confirmed by
    byte-comparing witness windows: matching hash positions are located
    and memcmp'd (bounded fan-out per hash value). On mismatch the length
    is excluded and the search retries below it."""

    def hit(ln: int) -> bool:
        return (
            np.intersect1d(
                np.unique(rolling_window_hashes(ba, ln)),
                np.unique(rolling_window_hashes(bb, ln)),
                assume_unique=True,
            ).size
            > 0
        )

    def byte_witness(ln: int) -> bool:
        ha = rolling_window_hashes(ba, ln)
        hb = rolling_window_hashes(bb, ln)
        common = np.intersect1d(np.unique(ha), np.unique(hb), assume_unique=True)
        for v in common[:64]:
            for i in np.flatnonzero(ha == v)[:8]:
                wa = ba[i : i + ln]
                for j in np.flatnonzero(hb == v)[:8]:
                    if np.array_equal(wa, bb[j : j + ln]):
                        return True
        return False

    hi_cap = min(ba.size, bb.size)
    while hi_cap >= min_len:
        lo, hi = min_len, hi_cap
        if not hit(lo):
            return 0
        if hit(hi):
            lo = hi
        else:
            # invariant: hit(lo) true, hit(hi) false
            while hi - lo > 1:
                mid = (lo + hi) // 2
                if hit(mid):
                    lo = mid
                else:
                    hi = mid
        if byte_witness(lo):
            return lo
        hi_cap = lo - 1  # collision-only length: exclude it and retry
    return 0


def _lcs_length(a: bytes, b: bytes, min_len: int) -> int:
    """Longest common substring length (>= min_len, else 0) by
    seed-and-extend: ONE rolling pass of length-min_len window hashes per
    side (the same statistic the verify stage matched on), then — because
    any common substring of length >= min_len necessarily STARTS at a
    matching window — only diagonals (pos_a - pos_b) holding at least one
    hash match can carry the answer. Each such diagonal is scanned once
    with a vectorized aligned byte comparison for its longest equal run.
    No binary search, no re-hashing at log(L) different widths; hash
    collisions merely waste one diagonal scan (byte compare decides).

    Highly repetitive pairs (where the match-pair count would exceed
    ``_LCS_MATCH_CAP``) route to :func:`_lcs_length_bisect` instead, so
    memory stays near-linear on the worst-case inputs this pass actually
    sees (it runs on confirmed near-dup pairs, i.e. boilerplate)."""
    na, nb = len(a), len(b)
    if na < min_len or nb < min_len:
        return 0
    ba = np.frombuffer(a, np.uint8)
    bb = np.frombuffer(b, np.uint8)
    ha = rolling_window_hashes(ba, min_len)
    hb = rolling_window_hashes(bb, min_len)
    # all matching (i, j) position pairs via sort + searchsorted
    order = np.argsort(hb, kind="stable")
    hbs = hb[order]
    left = np.searchsorted(hbs, ha, side="left")
    cnt = np.searchsorted(hbs, ha, side="right") - left
    total = int(cnt.sum())
    if total == 0:
        return 0
    if total > _LCS_MATCH_CAP:
        return _lcs_length_bisect(ba, bb, min_len)
    jj = order[np.repeat(left, cnt) + (np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt))]
    ii = np.repeat(np.arange(ha.size), cnt)
    best = 0
    for d in np.unique(ii.astype(np.int64) - jj.astype(np.int64)):
        sa, sb = (int(d), 0) if d >= 0 else (0, int(-d))
        ln = min(na - sa, nb - sb)
        eq = (ba[sa : sa + ln] == bb[sb : sb + ln]).view(np.int8)
        edges = np.flatnonzero(np.diff(np.concatenate(([0], eq, [0]))))
        if edges.size:
            best = max(best, int((edges[1::2] - edges[0::2]).max()))
    return best if best >= min_len else 0


def make_lcs_udf(min_len: int):
    @F.pandas_udf("int")
    def lcs_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = np.zeros(len(ta), dtype=np.int32)
        for i, (x, y) in enumerate(zip(ta, tb)):
            bx = x.encode("utf-8") if isinstance(x, str) else b""
            by = y.encode("utf-8") if isinstance(y, str) else b""
            out[i] = _lcs_length(bx, by, min_len)
        return pd.Series(out)

    return lcs_udf


def exact_substring_pairs(
    docs: DataFrame,
    min_len: int = 256,
    k: int = 32,
    id_col: str = "url",
    text_col: str = "norm_text",
    max_bucket: int = 2000,
    candidates: DataFrame | None = None,
    star_threshold: int | None = None,
    star_pair_budget: int = 8_000_000,
) -> DataFrame:
    """(id_a, id_b) for pairs sharing an exact substring of length
    >= min_len. If ``candidates`` is given (e.g. urls already inside
    near-dup clusters), the pass is restricted to those docs (left_semi) —
    the bounded-pass mode SURVEY.md O5 describes.

    Winnowed-fingerprint equi-join (complete generator) -> per-doc
    length-min_len window-hash sets computed once (map-only Arrow UDF) ->
    JVM `arrays_overlap` verify. No per-pair Python anywhere.

    ``star_threshold``: boilerplate families (one shared block across m
    docs) put that block's fingerprints in m-sized buckets, and pair
    volume is quadratic in m even through the salt tier — a 10k-doc
    template family is ~50M pairs. Passing a star threshold routes such
    buckets to star-linking (linear volume, connectivity preserved) —
    the web-scale configuration, same trade-off as the near-dup tier-3
    (measured: the 500k-doc bench corpus's 2% template family without it
    dominates the whole pass). Default None derives the boundary from
    ``star_pair_budget`` (largest per-bucket pair volume the salt tier may
    expand; a routed bucket logs a warning) — the exhaustive configuration
    measured non-viable at 500k docs is opt-in via an explicit huge
    ``star_threshold``."""
    d = docs.select(F.col(id_col), F.col(text_col))
    if candidates is not None:
        d = d.join(candidates.select(id_col).distinct(), id_col, "left_semi")
    fp = make_fingerprint_udf(min_len, k)
    keyed = (
        d.withColumn("fp", fp(F.col(text_col)))
        .select(F.col(id_col), F.explode("fp").alias("key"))
        .withColumn("band_id", F.lit(0))
    )
    pairs = pairs_from_keys(
        keyed,
        id_col=id_col,
        max_bucket=max_bucket,
        star_threshold=star_threshold,
        star_pair_budget=star_pair_budget,
    )
    a, b = f"{id_col}_a", f"{id_col}_b"
    cand_ids = (
        pairs.select(F.col(a).alias(id_col))
        .unionByName(pairs.select(F.col(b).alias(id_col)))
        .distinct()
    )
    wsets = (
        d.join(cand_ids, id_col, "left_semi")
        .select(
            F.col(id_col), make_window_set_udf(min_len)(F.col(text_col)).alias("ws")
        )
        # materialize ONCE: the set subtree feeds both join sides, and the
        # window UDF (plus the semi-join above it) must not run twice.
        # Eager: the measured-broadcast decision needs the real footprint.
        .localCheckpoint(eager=True)
    )
    st = wsets.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("ws")).alias("tot")
    ).first()
    # aliased views of the one materialized relation, keyed on the same
    # column: the second join reuses the first's broadcast (or shuffled)
    # exchange instead of building it twice (see verify._verify)
    wa, wb = wsets.alias("_wa"), wsets.alias("_wb")
    if side_fits_broadcast(pairs.sparkSession, st["n"] or 0, st["tot"] or 0):
        wa, wb = F.broadcast(wa), F.broadcast(wb)
    return (
        pairs.join(wa, F.col(a) == F.col(f"_wa.{id_col}"))
        .join(wb, F.col(b) == F.col(f"_wb.{id_col}"))
        .filter(F.arrays_overlap(F.col("_wa.ws"), F.col("_wb.ws")))
        .select(a, b)
    )


def cross_substring_overlap(
    docs_q: DataFrame,
    docs_r: DataFrame,
    min_len: int = 256,
    k: int = 32,
    id_col: str = "url",
    text_col: str = "norm_text",
    max_bucket: int = 2000,
) -> DataFrame:
    """Train/eval DECONTAMINATION: ({id}_q, {id}_r) pairs where a query
    (eval) document shares an exact substring of length >= min_len with a
    reference (train) document — the benchmark-leakage check an LLM data
    pipeline runs before training. Role-ordered like the near-dup
    cross-dataset mode (a document present in both sets pairs with
    itself: that IS contamination).

    Same two-phase shape as exact_substring_pairs, crossed: winnowed
    fingerprints are a complete candidate generator (any shared substring
    of length >= min_len shares a selected fingerprint), candidates come
    from the symmetric skew-tiered cross equi-join (either side's
    boilerplate family salts), verification is the JVM `arrays_overlap`
    window-set check. No per-pair Python."""
    from lash_spark.operators.lsh import cross_pairs_from_keys

    dq = docs_q.select(F.col(id_col), F.col(text_col))
    dr = docs_r.select(F.col(id_col), F.col(text_col))
    fp = make_fingerprint_udf(min_len, k)

    def keys(d):
        return (
            d.withColumn("fp", fp(F.col(text_col)))
            .select(F.col(id_col), F.explode("fp").alias("key"))
            .withColumn("band_id", F.lit(0))
        )

    pairs = cross_pairs_from_keys(keys(dq), keys(dr), id_col=id_col, max_bucket=max_bucket)
    qc, rc = f"{id_col}_q", f"{id_col}_r"
    win = make_window_set_udf(min_len)
    wq = dq.join(pairs.select(F.col(qc).alias(id_col)).distinct(), id_col, "left_semi").select(
        F.col(id_col).alias(qc), win(F.col(text_col)).alias("ws_q")
    )
    wr = dr.join(pairs.select(F.col(rc).alias(id_col)).distinct(), id_col, "left_semi").select(
        F.col(id_col).alias(rc), win(F.col(text_col)).alias("ws_r")
    )
    return (
        pairs.join(wq, qc)
        .join(wr, rc)
        .filter(F.arrays_overlap("ws_q", "ws_r"))
        .select(qc, rc)
    )


def common_substring_lengths(
    pairs: DataFrame,
    docs: DataFrame,
    min_len: int = 256,
    id_col: str = "url",
    text_col: str = "norm_text",
) -> DataFrame:
    """Optional second pass: exact maximal common-substring length for
    already-confirmed pairs (seed-and-extend, one hash pass per pair)."""
    a, b = f"{id_col}_a", f"{id_col}_b"
    texts = docs.select(F.col(id_col), F.col(text_col))
    lcs = make_lcs_udf(min_len)
    return (
        pairs.join(texts.withColumnsRenamed({id_col: a, text_col: "ta"}), a)
        .join(texts.withColumnsRenamed({id_col: b, text_col: "tb"}), b)
        .withColumn("common_len", lcs(F.col("ta"), F.col("tb")))
        .filter(F.col("common_len") >= min_len)
        .select(a, b, "common_len")
    )
