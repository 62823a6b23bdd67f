"""Workload inputs: synthetic crawls from ``lash_spark.synth``, a pure
function of (workload, seed).

The frames are built in the benchmark process with ``generate_pages_pdf``
(the in-process twin of the distributed generator; same rows), digested, and
written once per run as parquet that every timed job then reads. The
write goes through pyarrow, not Spark, so ``synth.generate_s`` measures
generation and the write rather than the session's first (cold) job.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lash_spark.synth import generate_pages_pdf

from perfbench.checks import digest_rows

SEGMENT_DOCS = 1_500
SEGMENT_FILES = 32  # what Spark's createDataFrame + write gives at 32 partitions
DROP_FILES = 4
STREAM_DOCS_PER_DROP = 1_000
STREAM_DROPS = 4  # drop 0 is set-up; drops 1-3 are timed in turn

DIGEST_COLS = ["url", "text", "lang", "planted_cluster", "planted_kind"]


def make_corpus(workload: str, seed: int) -> pd.DataFrame:
    if workload == "segment_dedup":
        pdf = generate_pages_pdf(SEGMENT_DOCS, seed=seed)
        # int64 ids: the document index the url carries
        pdf["doc_id"] = pdf["url"].str.extract(r"/p/(\d+)$")[0].astype("int64")
        return pdf
    if workload == "stream_ingest":
        pdf = generate_pages_pdf(STREAM_DOCS_PER_DROP * STREAM_DROPS, seed=seed)
        # hash split, not a planted-cluster split: duplicate families
        # straddle drops, so every store probe finds cross-drop pairs
        pdf["drop"] = [zlib.crc32(u.encode()) % STREAM_DROPS for u in pdf["url"]]
        return pdf
    raise ValueError(f"unknown workload {workload!r}")


def digest(workload: str, pdf: pd.DataFrame) -> str:
    extra = {"segment_dedup": ["doc_id"], "stream_ingest": ["drop"]}[workload]
    return digest_rows(pdf[DIGEST_COLS + extra].itertuples(index=False, name=None))


def write_parquet(pdf: pd.DataFrame, path: str, files: int) -> None:
    """``pdf`` as ``files`` parquet files of consecutive rows. Timestamps
    are stored as UTC microseconds, which Spark reads as TimestampType."""
    os.makedirs(path)
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC").astype("datetime64[us, UTC]"))
    bounds = np.linspace(0, len(pdf), files + 1).astype(int)
    for i in range(files):
        part = pdf.iloc[bounds[i] : bounds[i + 1]]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def write_drops(pdf: pd.DataFrame, path: str) -> None:
    """One ``drop=<d>`` directory per drop, ``DROP_FILES`` files each."""
    for d in range(STREAM_DROPS):
        write_parquet(
            pdf[pdf["drop"] == d].drop(columns="drop"), f"{path}/drop={d}", DROP_FILES
        )
