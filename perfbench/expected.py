"""Pinned digests (perfbench/expected.json), read-only.

``corpus``: per workload and seed, the digest of the generated input; a
changed digest means the generator changed and the run fails.
``outputs``: per workload, for the default seed, the digests of the
sorted pair set, the cluster assignment and (segment_dedup) the substring
pairs, or (stream_ingest) each drop's pair set.

A seed with no pin is run without that comparison; the run's record says
which comparisons applied (``pinned_corpus``, ``pinned_outputs``).
"""

from __future__ import annotations

import json
import os

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def load() -> dict:
    """The pin file; a missing file is an error, never an empty pin set."""
    with open(PATH, encoding="utf-8") as f:
        return json.load(f)


def corpus(workload: str, seed: int) -> "str | None":
    return load()["corpus"][workload].get(str(seed))


def outputs(workload: str, seed: int) -> "dict | None":
    return load()["outputs"][workload].get(str(seed))
