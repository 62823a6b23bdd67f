"""Python-stage contracts: every Python UDF is evaluated once per row, a
small input spread over many files runs its Python stages over at most the
scheduler's task slots, and the rows do not depend on the input layout."""

from __future__ import annotations

import re
import uuid
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

SLOTS = 4  # the session fixture's local[4]

_SCHEMA = pa.schema([("doc_id", pa.int64()), ("norm_text", pa.string())])


def _udf_counts(plan: str) -> Counter:
    """ArrowEvalPython nodes per UDF name in the EXECUTED tree of a
    formatted plan: under AQE only the final plans count, so every
    ``== Initial Plan ==`` subtree (nested ones included, e.g. inside a
    cached relation) is dropped; a node printed twice (a cached relation
    scanned twice) keeps its one id."""
    tree, _, details = plan.partition("\n\n\n")
    kept, skip = [], None
    for line in tree.splitlines():
        ind = len(line) - len(line.lstrip(" :|"))
        if skip is not None and ind > skip:
            continue
        skip = None
        if "== Initial Plan ==" in line:
            skip = ind
        else:
            kept.append(line)
    out = Counter()
    for nid in set(re.findall(r"ArrowEvalPython \((\d+)\)", "\n".join(kept))):
        args = re.search(
            rf"^\({nid}\) ArrowEvalPython\n(?:.*\n)*?Arguments: \[(.*?)\], \[", details, re.M
        )
        out[re.match(r"\w+", args.group(1)).group(0)] += 1
    return out


def _executed_udfs(spark, action) -> "list[Counter]":
    """Runs ``action``; returns the UDF counts of every query it ran that
    evaluates a Python UDF (read from the SQL status store, which holds
    each query's final executed plan)."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        xs = store.executionsList()
        return [xs.apply(i) for i in range(xs.size())]

    seen = {x.executionId() for x in executions()}
    action()
    counts = [
        _udf_counts(x.physicalPlanDescription())
        for x in executions()
        if x.executionId() not in seen
    ]
    return [c for c in counts if c]


def _python_stage_tasks(spark, action) -> "list[int]":
    """Runs ``action`` under its own job group; returns the task count of
    every stage its jobs planned that evaluates a Python UDF (an
    ArrowEvalPython scope in the stage's RDD operation graph)."""
    sc = spark.sparkContext
    group = f"python-stages-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "python-stages")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st, store = sc.statusTracker(), sc._jsc.sc().statusStore()

    def scopes(cluster):
        kids = cluster.childClusters()
        return [cluster.name()] + [n for i in range(kids.size()) for n in scopes(kids.apply(i))]

    stages = [s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds]
    return [
        st.getStageInfo(s).numTasks
        for s in stages
        if any(n.startswith("ArrowEvalPython") for n in scopes(store.operationGraphForStage(s).rootCluster()))
    ]


def _write(pdf: pd.DataFrame, path, files: int) -> str:
    """``pdf`` as ``files`` parquet files of consecutive rows (empty files
    included when there are fewer rows than files)."""
    path.mkdir()
    bounds = np.linspace(0, len(pdf), files + 1).astype(int)
    for i in range(files):
        part = pdf.iloc[bounds[i] : bounds[i + 1]]
        pq.write_table(
            pa.Table.from_pandas(part, schema=_SCHEMA, preserve_index=False),
            str(path / f"part-{i:05d}.parquet"),
        )
    return str(path)


@pytest.fixture(scope="module")
def corpus_pdf():
    """Synth pages plus the edge texts: empty, shorter than the shingle
    and substring windows, and non-BMP characters."""
    from lash_spark.synth import generate_pages_pdf

    pages = generate_pages_pdf(240, seed=7)
    pdf = pd.DataFrame(
        {"doc_id": np.arange(len(pages), dtype=np.int64), "norm_text": pages["text"].str.lower()}
    )
    edge = pd.DataFrame(
        {
            "doc_id": np.arange(1000, 1005, dtype=np.int64),
            "norm_text": ["", "tiny", "tiny", "\U0001f600 " * 40, "\U0001f600 " * 40],
        }
    )
    return pd.concat([pdf, edge], ignore_index=True)


@pytest.fixture
def many_file_scans(spark):
    """Plan file scans the way a 32-way default-parallelism session does
    (the engine default at up to 16 cores): one scan partition per small
    file, so 32 files read as ~32 partitions."""
    spark.conf.set("spark.sql.files.minPartitionNum", "32")
    yield
    spark.conf.unset("spark.sql.files.minPartitionNum")


def _sink(df):
    df.write.format("noop").mode("overwrite").save()


def _substring(docs):
    from lash_spark.operators.substring import exact_substring_pairs

    return exact_substring_pairs(docs, min_len=64, id_col="doc_id")


def _signatures(docs):
    from lash_spark.config import SketchParams
    from lash_spark.operators.signatures import build_signatures

    return build_signatures(docs, SketchParams(), id_col="doc_id")


def test_each_python_udf_runs_once(spark, tmp_path, corpus_pdf, many_file_scans):
    """One ArrowEvalPython per UDF in every executed plan. Left
    deterministic, the fingerprint (and, crossed, the window-set) UDF runs
    twice: the filter Catalyst infers from explode / the overlap check is
    pushed below the projection with the UDF substituted into it."""
    from pyspark.sql import functions as F

    from lash_spark.operators.ann import embedding_near_dup_pairs
    from lash_spark.operators.substring import cross_substring_overlap

    docs = spark.read.parquet(_write(corpus_pdf, tmp_path / "docs", 32))
    q, r = docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)
    rng = np.random.default_rng(3)
    base = rng.standard_normal((20, 8))
    vecs = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(200, dtype=np.int64),
                "embedding": list(base[np.arange(200) % 20] + 0.01 * rng.standard_normal((200, 8))),
            }
        ),
        "vec_id bigint, embedding array<double>",
    )
    cases = [
        (lambda: _sink(_substring(docs)), {"fp_udf": 1, "win_udf": 1}),
        # one evaluation per side: the query and the reference set each
        # carry their own fingerprint and window-set projection
        (
            lambda: _sink(cross_substring_overlap(q, r, min_len=64, id_col="doc_id")),
            {"fp_udf": 2, "win_udf": 2},
        ),
        (lambda: _sink(_signatures(docs)), {"signature_udf": 1}),
        (lambda: _sink(embedding_near_dup_pairs(vecs, dim=8)), {"srp": 1}),
    ]
    for action, expected in cases:
        plans = _executed_udfs(spark, action)
        assert plans, expected
        seen = Counter()
        for counts in plans:
            for udf, n in counts.items():
                assert n == expected.get(udf), (counts, expected)
            seen.update(counts.keys())
        assert set(seen) == set(expected), (seen, expected)


def test_many_small_files_run_python_stages_over_task_slots(
    spark, tmp_path, corpus_pdf, many_file_scans
):
    """A small input written as 32 parquet files scans as ~32 partitions;
    the signature and substring Python stages must run over at most the
    task-slot count of partitions (fan_out coalesces them). Every other
    stage stays as it was (the JVM-only scan feeding the candidate
    semi-join still reads every file partition)."""
    docs = spark.read.parquet(_write(corpus_pdf, tmp_path / "docs", 32))
    assert docs.rdd.getNumPartitions() > 2 * SLOTS
    for op in (_signatures, _substring):
        tasks = _python_stage_tasks(spark, lambda: _sink(op(docs)))
        assert tasks and max(tasks) <= SLOTS, (op.__name__, tasks)


@pytest.mark.parametrize("single_doc", [False, True], ids=["corpus", "single_doc"])
def test_rows_do_not_depend_on_input_layout(
    spark, tmp_path, corpus_pdf, many_file_scans, single_doc
):
    """Run-both-and-compare: substring pairs and signature rows are
    identical for the same documents read from one file, from 32 files
    (coalesced by fan_out) and from 32 files explicitly coalesced to 3."""
    pdf = corpus_pdf.iloc[:1] if single_doc else corpus_pdf
    one = spark.read.parquet(_write(pdf, tmp_path / "one", 1))
    many = spark.read.parquet(_write(pdf, tmp_path / "many", 32))
    layouts = {"one_file": one, "32_files": many, "coalesced": many.coalesce(3)}

    def rows(df, cols):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*cols).collect()
        )

    sig_cols = ["doc_id", "minhash", "simhash", "bands", "n_windows"]
    got = {
        name: (rows(_substring(d), ["doc_id_a", "doc_id_b"]), rows(_signatures(d), sig_cols))
        for name, d in layouts.items()
    }
    ref_pairs, ref_sigs = got["one_file"]
    assert len(ref_sigs) == len(pdf)
    if not single_doc:
        assert ref_pairs  # the synth families share long substrings
        # equal texts shorter than the substring window never pair; the
        # equal non-BMP texts do
        assert not {p for p in ref_pairs if 1001 in p or 1002 in p}
        assert (1003, 1004) in ref_pairs
        # shorter than the shingle: no windows
        assert [r[4] for r in ref_sigs if r[0] in (1000, 1001)] == [0, 0]
    for name, (pairs, sigs) in got.items():
        assert pairs == ref_pairs, name
        assert sigs == ref_sigs, name


def test_log_metrics_fields_read_back_by_name(spark, tmp_path):
    """Every field ``ParquetCatalog.log_metrics`` writes reads back under
    its own column name (the pandas frame is pinned to the schema order)."""
    from lash_spark.lakeio import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    cat.log_metrics("verify", "h1", 12.5, input_rows=7, output_rows=3, status="partial", k=1)
    (row,) = cat.metrics().collect()
    got = row.asDict()
    assert set(got) == {
        "stage", "params_hash", "wall_ms", "input_rows", "output_rows", "status", "ts", "extra"
    }
    assert got["stage"] == "verify"
    assert got["params_hash"] == "h1"
    assert got["wall_ms"] == 12.5
    assert got["input_rows"] == 7
    assert got["output_rows"] == 3
    assert got["status"] == "partial"
    assert got["ts"] > 1e9
    assert got["extra"] == '{"k": 1}'
