#!/usr/bin/env python3
"""Pin the corpus digest of every workload for a range of seeds in
perfbench/expected.json (no Spark needed):

    python3 perfbench/pin.py 0 100

Re-run only on purpose: a changed digest is how a change to
``lash_spark.synth`` that alters a workload's input shows up.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import corpus, expected  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402


def main(argv) -> int:
    lo, hi = int(argv[0]), int(argv[1])
    data = expected.load()
    for w in WORKLOADS:
        slot = data.setdefault("corpus", {}).setdefault(w, {})
        for seed in range(lo, hi):
            slot[str(seed)] = corpus.digest(w, corpus.make_corpus(w, seed))
    with open(expected.PATH, "w", encoding="utf-8") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
