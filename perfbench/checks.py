"""Output checks that do not trust the engine.

Everything here is plain Python over collected rows: the exact k-gram
Jaccard re-implements normalization (v1) and byte shingling without any
hashing, so a bug shared by the engine's kernels cannot hide in it.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

import pandas as pd

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def normalize_v1(text: str) -> str:
    """Normalization profile v1: lower, collapse whitespace runs, trim."""
    return _WS.sub(" ", text.lower()).strip(" ")


def shingles(text: str, k: int) -> frozenset:
    """Set of UTF-8 byte k-grams of the normalized text."""
    b = normalize_v1(text).encode("utf-8")
    return frozenset(b[i : i + k] for i in range(len(b) - k + 1))


def jaccard(sa: frozenset, sb: frozenset) -> float:
    if not sa and not sb:
        return 0.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def digest_rows(rows) -> str:
    """sha256 over the sorted tab-joined rendering of ``rows``."""
    h = hashlib.sha256()
    for r in sorted("\t".join(str(v) for v in row) for row in rows):
        h.update(r.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def planted_reference(
    pdf: pd.DataFrame, id_col: str, k: int, threshold: float
) -> set:
    """(lo, hi) id pairs inside one planted cluster whose exact Jaccard is
    at or above ``threshold``."""
    groups: dict = defaultdict(list)
    for i, c in zip(pdf[id_col], pdf["planted_cluster"]):
        groups[c].append(i)
    texts = dict(zip(pdf[id_col], pdf["text"]))
    sets: dict = {}
    ref: set = set()
    for members in groups.values():
        if len(members) < 2:
            continue
        for m in members:
            sets[m] = shingles(texts[m], k)
        members = sorted(members)
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                if jaccard(sets[a], sets[b]) >= threshold:
                    ref.add((a, b))
    return ref


def reverify_sample(
    pairs: "list[tuple]", texts: dict, k: int, threshold: float, n: int = 200
) -> "list[str]":
    """Recompute the exact Jaccard of an evenly spaced sample of emitted
    (a, b, jaccard) rows; return one message per row that disagrees with
    the engine or falls below the threshold."""
    rows = sorted(pairs)
    step = max(1, len(rows) // n)
    bad = []
    for a, b, jac in rows[::step]:
        j = jaccard(shingles(texts[a], k), shingles(texts[b], k))
        if j < threshold or abs(j - jac) > 1e-9:
            bad.append(f"pair ({a}, {b}): engine {jac:.6f}, exact {j:.6f}")
    return bad


def recall(found: set, reference: set) -> float:
    if not reference:
        return 1.0
    return len(found & reference) / len(reference)


def substring_reference(texts: dict, min_len: int) -> set:
    """Every (lo, hi) id pair whose normalized texts share a substring of at
    least ``min_len`` UTF-8 bytes, the unit ``exact_substring_pairs`` is
    defined in (its windows are byte windows).

    A shared substring of length >= min_len covers a whole aligned block
    of length min_len // 2 in either text, so indexing each text's aligned
    blocks and probing every position of every other text finds every
    pair; each hit is then extended byte by byte to its full match length."""
    half = min_len // 2
    norm = {i: normalize_v1(t).encode("utf-8") for i, t in texts.items()}
    blocks: dict = defaultdict(list)
    for i, t in norm.items():
        for p in range(0, len(t) - half + 1, half):
            blocks[t[p : p + half]].append((i, p))
    out: set = set()
    for j, u in norm.items():
        for q in range(len(u) - half + 1):
            hits = blocks.get(u[q : q + half])
            if not hits:
                continue
            for i, p in hits:
                if i == j or (min(i, j), max(i, j)) in out:
                    continue
                t = norm[i]
                lo = 0
                while p - lo > 0 and q - lo > 0 and t[p - lo - 1] == u[q - lo - 1]:
                    lo += 1
                hi = half
                while p + hi < len(t) and q + hi < len(u) and t[p + hi] == u[q + hi]:
                    hi += 1
                if lo + hi >= min_len:
                    out.add((min(i, j), max(i, j)))
    return out
