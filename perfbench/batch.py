"""The batch workload (segment_dedup): the timed job, its output collection,
and the traced replica that splits a job by layer."""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lash_spark.config import PipelineConfig
from lash_spark.operators.components import assign_clusters
from lash_spark.operators.exact import exact_dup_pairs
from lash_spark.operators.lsh import band_census, explode_bands, lsh_candidate_pairs
from lash_spark.operators.normalize import with_normalized_text
from lash_spark.operators.signatures import build_signatures
from lash_spark.operators.substring import exact_substring_pairs
from lash_spark.operators.verify import verify_pairs
from lash_spark.pipeline import _resolve_persist_shingles, dedup_pipeline

BATCH_LAYERS = (
    "normalize", "signatures", "lsh", "verify", "exact", "components", "substring",
)


def sink(df: DataFrame) -> None:
    """Run every column of ``df`` to completion and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def materialize(df: DataFrame) -> int:
    """Aggregate over every output column (a bare count() lets Spark prune
    UDF columns out of the plan); returns the row count."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")
    ).first()
    return int(row["n"])


class BatchJob:
    """One closed-loop job: ``dedup_pipeline`` from the input table to
    materialized ``dup_pairs`` and ``clusters``, then
    ``exact_substring_pairs`` at ``PipelineConfig().substring_min_len``."""

    def __init__(self, id_col: str = "doc_id"):
        self.cfg = PipelineConfig()
        self.id_col = id_col

    def run(self, docs: DataFrame) -> dict:
        """The timed part. Returns the output frames, all materialized."""
        r = dedup_pipeline(docs, self.cfg, id_col=self.id_col)
        out = {"pairs": r.dup_pairs, "clusters": r.clusters}
        sink(out["pairs"])
        sink(out["clusters"])
        normed = with_normalized_text(docs.select(self.id_col, "text"), "text")
        out["substring"] = exact_substring_pairs(
            normed, min_len=self.cfg.substring_min_len, id_col=self.id_col
        )
        sink(out["substring"])
        return out

    def collect(self, out: dict) -> dict:
        """Outputs as Python rows, for the checks (outside the timed region)."""
        a, b = f"{self.id_col}_a", f"{self.id_col}_b"
        return {
            "pairs": [tuple(r) for r in out["pairs"].select(a, b, "jaccard").collect()],
            "clusters": [
                tuple(r) for r in out["clusters"].select(self.id_col, "cluster_id").collect()
            ],
            "substring": [tuple(r) for r in out["substring"].select(a, b).collect()],
        }

    def traced(self, spark, docs: DataFrame) -> "tuple[dict, dict]":
        """Replica of ``run`` that calls each layer's public function in the
        order and with the arguments ``dedup_pipeline`` uses, materializing
        every output before the next call, each layer under its own job
        group. Returns (outputs, trace)."""
        sc = spark.sparkContext
        cfg, params, id_col = self.cfg, self.cfg.params, self.id_col
        a, b = f"{id_col}_a", f"{id_col}_b"
        walls: dict = {}
        rows: dict = {}

        @contextmanager
        def span(layer: str):
            sc.setJobGroup(f"layer:{layer}", layer)
            t0 = time.monotonic()
            try:
                yield
            finally:
                walls[layer] = time.monotonic() - t0
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

        t_job = time.monotonic()
        with span("normalize"):
            normed = with_normalized_text(
                docs.select(id_col, "text"), text_col="text",
                version=params.normalize_version,
            ).persist()
            rows["normalize"] = materialize(normed)
        with span("signatures"):
            shingles = _resolve_persist_shingles(cfg, normed)
            sigs = build_signatures(
                normed, params, cfg.lsh_plan(), id_col=id_col, with_shingles=shingles
            ).persist()
            rows["signatures"] = materialize(sigs)
        with span("lsh"):
            candidates = lsh_candidate_pairs(
                sigs,
                id_col=id_col,
                max_bucket=cfg.max_band_bucket,
                salt_buckets=cfg.salt_buckets,
                star_threshold=cfg.star_threshold,
                star_pair_budget=cfg.star_pair_budget,
            )
            rows["lsh"] = materialize(candidates)
        with span("verify"):
            verified = verify_pairs(
                candidates,
                normed,
                params,
                id_col=id_col,
                threshold=cfg.jaccard_threshold,
                sig_df=sigs,
                max_pairs_per_doc=cfg.max_pairs_per_doc,
            ).persist()
            rows["verify"] = materialize(verified)
        with span("exact"):
            exact = exact_dup_pairs(normed, id_col=id_col).persist()
            rows["exact"] = materialize(exact)
        with span("components"):
            edges = verified.select(a, b).unionByName(exact).dropDuplicates([a, b])
            clusters = assign_clusters(
                docs.select(id_col), edges, id_col=id_col,
                max_iterations=cfg.cc_max_iterations,
            )
            rows["components"] = materialize(clusters)
        with span("substring"):
            substring = exact_substring_pairs(
                normed, min_len=cfg.substring_min_len, id_col=id_col
            )
            rows["substring"] = materialize(substring)
        out = {"pairs": verified, "clusters": clusters, "substring": substring}
        job_wall = time.monotonic() - t_job

        # extras, outside every span
        census = band_census(explode_bands(sigs, id_col), id_col)
        trace = {
            "walls": walls,
            "rows": rows,
            "job_wall": job_wall,
            "max_bucket": int(census.agg(F.max("bucket_n")).first()[0] or 0),
            "edges": materialize(edges),
            "persist_shingles": bool(shingles),
        }
        return out, trace
