"""Table catalog + lineage/metrics + checkpoint/resume (O6).

One backend, ``ParquetCatalog``: directory-of-parquet tables plus a JSON
sidecar for table properties. Its semantics are Iceberg-shaped so an
Iceberg backend could sit behind the same API — append, dynamic partition
overwrite (``overwritePartitions()``), staged replace (MERGE INTO /
row-level delete), table properties for run params — but no such backend
exists: no Iceberg jars ship with the engine.

Resume semantics (north_rule): every stage records a completion marker
keyed by params_hash; a rerun with the same params skips completed stages,
and the signature stage additionally supports row-level delta resume via
left_anti on already-signed ids.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

METRICS_TABLE = "stage_metrics"
_METRICS_FIELDS = (
    ("stage", "string"),
    ("params_hash", "string"),
    ("wall_ms", "double"),
    ("input_rows", "bigint"),
    ("output_rows", "bigint"),
    ("status", "string"),
    ("ts", "double"),
    ("extra", "string"),
)


class ParquetCatalog:
    """Directory-backed table catalog with Iceberg-shaped semantics."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # ---- tables
    def path(self, table: str) -> str:
        return str(self.root / table)

    def exists(self, table: str) -> bool:
        # recursive glob: partitioned tables keep their files under
        # part=<v>/ dirs, and the dynamic-overwrite committer writes no
        # _SUCCESS marker at the table root
        p = self.root / table
        return p.exists() and (
            any(p.glob("**/*.parquet")) or any(p.glob("**/_SUCCESS"))
        )

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def write(self, df: DataFrame, table: str, mode: str = "overwrite", partition_by=None):
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def append(self, df: DataFrame, table: str):
        df.write.mode("append").parquet(self.path(table))

    def overwrite_partitions(self, df: DataFrame, table: str, partition_by):
        """Dynamic partition overwrite (the Iceberg
        ``writeTo().overwritePartitions()`` analog): only the partitions
        present in ``df`` are replaced; everything else is untouched. This
        is what makes a partition-wave write idempotent under replay."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self.path(table))
        )

    def drop(self, table: str):
        import shutil

        p = self.root / table
        if p.exists():
            shutil.rmtree(p)

    def replace(self, df: DataFrame, table: str):
        """Full-table replace that is safe when ``df``'s plan reads from
        ``table`` itself (MERGE-style upsert emulation): stage the result
        to a sibling dir, then swap directories. The Iceberg seam is a
        real ``MERGE INTO`` / row-level delete; this parquet fallback pays
        one columnar rewrite of the surviving rows, and only on runs that
        actually detected mutated rows. Properties/markers are sidecar
        files, untouched by the swap.

        Swap order (ADVICE r5): the old table is renamed ASIDE first and
        deleted only after the staged dir took its place, so the
        table-missing crash window shrinks from the whole drop+rename span
        to the instant between two renames; a crash then leaves the old
        data recoverable under ``__old``. Leftover ``__staged``/``__old``
        dirs from a previously crashed replace are cleaned up on entry
        (the staged write itself is mode=overwrite)."""
        staged = f"{table}__staged"
        old = f"{table}__old"
        self.drop(old)  # leftover from a crashed replace
        df.write.mode("overwrite").parquet(self.path(staged))
        p_table = self.root / table
        if p_table.exists():
            p_table.rename(self.root / old)
        (self.root / staged).rename(p_table)
        self.drop(old)

    # ---- properties (Iceberg table-properties analog; holds run params —
    # the reference's *_parameters.json, main.rs:254-276)
    def set_properties(self, table: str, props: dict):
        p = self.root / f"{table}.properties.json"
        merged = self.properties(table)
        merged.update(props)
        p.write_text(json.dumps(merged, sort_keys=True, indent=1))

    def properties(self, table: str) -> dict:
        p = self.root / f"{table}.properties.json"
        return json.loads(p.read_text()) if p.exists() else {}

    # ---- stage checkpoints
    def _marker(self, stage: str) -> Path:
        d = self.root / "_stages"
        d.mkdir(exist_ok=True)
        return d / f"{stage}.json"

    def stage_complete(self, stage: str, params_hash: str) -> bool:
        info = self.stage_info(stage)
        return info.get("params_hash") == params_hash and info.get("status") == "complete"

    def stage_info(self, stage: str) -> dict:
        """The stage's completion-marker record ({} when never marked)."""
        m = self._marker(stage)
        return json.loads(m.read_text()) if m.exists() else {}

    def mark_stage(self, stage: str, params_hash: str, **extra):
        self._marker(stage).write_text(
            json.dumps({"stage": stage, "params_hash": params_hash, "status": "complete", **extra})
        )

    def clear_stage(self, stage: str):
        m = self._marker(stage)
        if m.exists():
            m.unlink()
        # a stale stage invalidates its per-partition completion manifest
        # too (partition-granular stages, run_partitioned_stage)
        self.drop(self._manifest(stage))

    # ---- per-partition completion manifests (O6 north_rule: "restarts
    # without recomputing completed signature or band partitions")
    def _manifest(self, stage: str) -> str:
        return f"{stage}_partitions"

    def completed_partitions(self, stage: str, params_hash: str) -> "set[str]":
        t = self._manifest(stage)
        if not self.exists(t):
            return set()
        rows = (
            self.read(t)
            .filter(F.col("params_hash") == params_hash)
            .select("part")
            .collect()
        )
        return {r.part for r in rows}

    def mark_partitions(self, stage: str, params_hash: str, parts, output_rows=None):
        now = time.time()
        import pandas as pd

        # pandas-backed (LocalTableScan): list-backed createDataFrame plans
        # as a pickled-RDD scan costing ~2.3 s per commit (measured r6) —
        # paid per stage commit AND per streaming trigger
        df = self.spark.createDataFrame(
            pd.DataFrame(
                [(stage, params_hash, str(p), output_rows, now) for p in parts],
                columns=["stage", "params_hash", "part", "output_rows", "ts"],
                dtype=object,
            ),
            "stage string, params_hash string, part string, output_rows bigint, ts double",
        )
        self.append(df, self._manifest(stage))

    # ---- lineage / metrics rows (O6)
    def log_metrics(
        self,
        stage: str,
        params_hash: str,
        wall_ms: float,
        input_rows: int | None = None,
        output_rows: int | None = None,
        status: str = "complete",
        **extra,
    ):
        row = {
            "stage": stage,
            "params_hash": params_hash,
            "wall_ms": float(wall_ms),
            "input_rows": input_rows,
            "output_rows": output_rows,
            "status": status,
            "ts": time.time(),
            "extra": json.dumps(extra, sort_keys=True) if extra else None,
        }
        import pandas as pd

        # pandas-backed (LocalTableScan) — same rationale as mark_partitions.
        # The DDL schema maps pandas columns by POSITION, so the frame's
        # columns are pinned to the schema order, not the dict's.
        df = self.spark.createDataFrame(
            pd.DataFrame([row], columns=[c for c, _ in _METRICS_FIELDS], dtype=object),
            ", ".join(f"{c} {t}" for c, t in _METRICS_FIELDS),
        )
        self.append(df, METRICS_TABLE)

    def metrics(self) -> DataFrame:
        return self.read(METRICS_TABLE)


def run_stage(
    catalog: ParquetCatalog,
    stage: str,
    params_hash: str,
    builder,
    output_table: str | None = None,
    partition_by=None,
    count_output: bool = True,
):
    """Idempotent stage runner: skip when (stage, params_hash) completed and
    the output table exists; otherwise build, write, log metrics, mark.

    Returns the output DataFrame (read back from the table when skipped,
    giving downstream stages a clean scan instead of a long lineage).
    """
    table = output_table or stage
    if catalog.stage_complete(stage, params_hash) and catalog.exists(table):
        return catalog.read(table), True
    t0 = time.monotonic()
    df = builder()
    catalog.write(df, table, partition_by=partition_by)
    # stamp this writer's provenance: if the table was previously produced
    # by run_partitioned_stage under a different (e.g. wave-suffixed)
    # params_hash, the stale sidecar would otherwise let a later
    # partitioned run trust its manifest against a flat-layout table and
    # write part_col= dirs alongside flat files (conflicting directory
    # structures on read)
    catalog.set_properties(table, {"params_hash": params_hash})
    out = catalog.read(table)
    n = out.count() if count_output else None
    catalog.log_metrics(stage, params_hash, (time.monotonic() - t0) * 1000, output_rows=n)
    catalog.mark_stage(stage, params_hash, output_rows=n)
    return out, False


def run_partitioned_stage(
    catalog: ParquetCatalog,
    stage: str,
    params_hash: str,
    part_values,
    builder,
    part_col: str = "part",
    wave_size: int = 1,
    output_table: str | None = None,
):
    """Partition-granular resumable stage (O6): the north-rule promise that
    a killed run "restarts without recomputing completed signature or band
    partitions", at sub-stage granularity.

    ``part_values`` is the full deterministic list of partition-unit values
    for this stage; ``builder(values)`` returns a DataFrame whose
    ``part_col`` column only holds those values. Values run in
    deterministic waves of ``wave_size``:

    1. the wave's output dynamically OVERWRITES only its partitions
       (idempotent replay — a wave that crashed between the data commit
       and the manifest append is simply rewritten);
    2. partition-completion rows append to the ``{stage}_partitions``
       manifest, keyed by params_hash;
    3. a metrics row records the wave (lineage evidence).

    A rerun anti-joins the value list against the manifest and recomputes
    NOTHING already manifested; when every value is manifested the stage
    is marked complete and skipped wholesale. A params_hash change drops
    the table + manifest and rebuilds from scratch (F6 semantics).
    """
    table = output_table or stage
    prior = catalog.properties(table).get("params_hash")
    if prior != params_hash and (prior is not None or catalog.exists(table)):
        # params changed, OR the table exists without a partitioned-runner
        # provenance tag (e.g. written by single-job run_stage with a
        # different layout): drop and rebuild
        catalog.drop(table)
        catalog.drop(catalog._manifest(stage))
        catalog.clear_stage(stage)
    elif catalog.exists(table) and part_col not in catalog.read(table).columns:
        # provenance tag matches but the durable layout is flat (a
        # non-partitioned writer rewrote the table between partitioned
        # runs): trusting the manifest would mix part_col= dirs with flat
        # files — drop and rebuild under the partitioned layout
        catalog.drop(table)
        catalog.drop(catalog._manifest(stage))
        catalog.clear_stage(stage)
    catalog.set_properties(table, {"params_hash": params_hash})
    done = catalog.completed_partitions(stage, params_hash)
    if not catalog.exists(table):
        if catalog.stage_complete(stage, params_hash) and catalog.stage_info(
            stage
        ).get("empty_output"):
            # the stage completed and its marker records that every wave
            # legitimately produced zero rows: the manifest is the truth,
            # nothing to replay (previously this path re-ran the whole
            # stage on every invocation of an empty-output stage)
            pass
        else:
            # nothing durable on disk and no known-empty marker (table was
            # lost, or a prior run died mid-stage with only empty waves
            # manifested): replay everything — dynamic overwrite makes the
            # replay idempotent
            done = set()
    todo = [v for v in part_values if str(v) not in done]
    if not todo:
        if not catalog.stage_complete(stage, params_hash):
            catalog.mark_stage(stage, params_hash, empty_output=not catalog.exists(table))
        if catalog.exists(table):
            return catalog.read(table), True
        # known-empty completed stage: surface an empty frame WITHOUT
        # invoking the builder (ADVICE r5: builders may run eager work —
        # pairs_from_keys checkpoints and probes — so "no wave executes"
        # was only true for lazy builders). The completing run records the
        # output schema in the marker; a marker written before that
        # (legacy) falls back to one builder call. Returns None when
        # ``part_values`` itself is empty (nothing to derive a schema
        # from — documented contract).
        schema_json = catalog.stage_info(stage).get("schema")
        if schema_json is not None:
            from pyspark.sql import types as T

            return (
                catalog.spark.createDataFrame(
                    [], T.StructType.fromJson(json.loads(schema_json))
                ),
                True,
            )
        return builder([part_values[0]]).limit(0) if part_values else None, True
    last_df = None
    for i in range(0, len(todo), wave_size):
        wave = todo[i : i + wave_size]
        t0 = time.monotonic()
        df = last_df = builder(list(wave))
        catalog.overwrite_partitions(df, table, [part_col])
        catalog.mark_partitions(stage, params_hash, wave)
        catalog.log_metrics(
            stage,
            params_hash,
            (time.monotonic() - t0) * 1000,
            status="wave_complete",
            parts=[str(p) for p in wave],
        )
    # record the output schema so empty-output resumes never have to call
    # the (possibly eager) builder just to learn it
    catalog.mark_stage(
        stage,
        params_hash,
        empty_output=not catalog.exists(table),
        schema=last_df.schema.json(),
    )
    if catalog.exists(table):
        return catalog.read(table), False
    # every wave was empty: dynamic overwrite wrote no files — return an
    # empty frame with the builder's schema (the marker's empty_output
    # flag lets reruns trust the manifest instead of replaying)
    return last_df.limit(0), False


def resume_delta(
    incoming: DataFrame,
    existing: DataFrame | None,
    id_col: str = "url",
    fp_col: str | None = None,
) -> DataFrame:
    """Row-level resume: rows of ``incoming`` not yet present in
    ``existing`` — SURVEY.md §2.8.

    With ``fp_col`` (present in both frames) the delta keys on
    ``(id, fingerprint)``: url identity is NOT content identity — a
    re-crawled page can arrive with mutated text, and an id-only anti-join
    would silently keep the stale signature row (the downstream verify
    stage then trusts stale persisted shingle sets). Falls back to the
    id-only delta when ``existing`` predates the fingerprint column."""
    if existing is None:
        return incoming
    if fp_col is not None and fp_col in existing.columns:
        return incoming.join(
            existing.select(id_col, fp_col).distinct(), [id_col, fp_col], "left_anti"
        )
    return incoming.join(existing.select(id_col).distinct(), id_col, "left_anti")
