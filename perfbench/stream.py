"""stream_ingest: drops land one at a time in a file-stream source and each
runs one ``availableNow`` trigger of ``stream_near_dup`` into a
``ParquetCatalog``.

Every timed drop lands on the state the set-up drop left (source
directory, streaming checkpoint and catalog are restored from a snapshot
first), so each timed drop is the same operation: ~1k new documents
probing a ~1k-document store."""

from __future__ import annotations

import glob
import os
import shutil
import time

from lash_spark.config import SketchParams
from lash_spark.lakeio import ParquetCatalog
from lash_spark.streaming import stream_near_dup
from lash_spark.synth import PAGES_SCHEMA


def dir_usage(path: str) -> "tuple[int, int]":
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class StreamDrops:
    def __init__(self, spark, work: str, slices: str):
        self.spark = spark
        self.slices = slices
        self.src = os.path.join(work, "src")
        self.ckpt = os.path.join(work, "ckpt")
        self.cat_dir = os.path.join(work, "cat")
        self.snap = os.path.join(work, "snapshot")
        os.makedirs(self.src)
        self.catalog = ParquetCatalog(spark, self.cat_dir)
        self.params = SketchParams()

    def _state(self):
        return [(p, os.path.join(self.snap, os.path.basename(p)))
                for p in (self.src, self.ckpt, self.cat_dir)]

    def snapshot(self) -> None:
        for live, saved in self._state():
            shutil.copytree(live, saved)

    def restore(self) -> None:
        for live, saved in self._state():
            shutil.rmtree(live)
            shutil.copytree(saved, live)

    def drop(self, d: int) -> dict:
        """Land drop ``d`` and run its trigger. The timed interval starts
        once the drop's files are in the source directory and ends when the
        trigger has committed."""
        before = dir_usage(self.cat_dir)
        for i, f in enumerate(sorted(glob.glob(f"{self.slices}/drop={d}/*.parquet"))):
            shutil.copy(f, os.path.join(self.src, f"d{d}_{i}.parquet"))
        stream = (
            self.spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", 10_000)  # the whole drop is one batch
            .parquet(self.src)
        )
        t0 = time.monotonic()
        q = stream_near_dup(
            stream, self.catalog, self.params, checkpoint_dir=self.ckpt,
            trigger_once=True,
        )
        q.awaitTermination()
        wall = time.monotonic() - t0
        if q.exception() is not None:
            raise RuntimeError(f"drop {d} trigger failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(progress) != 1:
            raise RuntimeError(f"drop {d} ran {len(progress)} data triggers, expected 1")
        p = progress[0]
        after = dir_usage(self.cat_dir)
        return {
            "wall": wall,
            "batch_id": p["batchId"],
            "run_id": str(q.runId),
            "durations_ms": dict(p["durationMs"]),
            "written_bytes": after[0] - before[0],
            "files": after[1] - before[1],
        }

    def pairs(self, batch_id: int) -> "set[tuple]":
        """(a, b) of every pair the trigger ``batch_id`` stored."""
        if not self.catalog.exists("stream_dup_pairs"):
            return set()
        return {
            (r[0], r[1])
            for r in self.catalog.read("stream_dup_pairs")
            .where(f"batch_id = {int(batch_id)}")
            .select("url_a", "url_b")
            .collect()
        }
