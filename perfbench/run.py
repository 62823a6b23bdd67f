#!/usr/bin/env python3
"""lash_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload segment_dedup --seed 42 --seconds 5 --trace 0

Run from the repository root. Workloads (closed loop, one client):

- segment_dedup  ``dedup_pipeline(PipelineConfig())`` on a 1.5k-doc synth
                 crawl segment keyed by int64 ``doc_id``, then
                 ``exact_substring_pairs``
- stream_ingest  ``stream_near_dup`` into a ``ParquetCatalog``, one
                 ``availableNow`` trigger per 1k-doc drop

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
timed loop with the Spark event log on, then the per-layer trace, and
prints the per-layer metrics. The last stdout line is the result JSON; the
line before it (``# record ...``) holds the environment, every timed job
and every check message. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("segment_dedup", "stream_ingest")
DEFAULT_SEED = 42


def parse_args(argv):
    p = argparse.ArgumentParser(description="lash_spark benchmark run")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv) -> int:
    args = parse_args(argv)
    for need in ("lash_spark/__init__.py", "bench_extra.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"{need} is missing under {ROOT}: run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        from perfbench.harness import prepare_env

        prepare_env(ROOT, work)
        from perfbench import workload

        result, record = workload.run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:  # another run still works in it
            pass
    print("# record " + json.dumps(record, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
