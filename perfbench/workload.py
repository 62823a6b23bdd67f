"""One benchmark run: set-up, the closed-loop timed jobs, the output checks
(outside the timed region), the optional trace, and the metrics."""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

from bench_extra import throttle_probe
from lash_spark.config import PipelineConfig, SketchParams

from perfbench import checks, corpus, expected, harness
from perfbench.batch import BATCH_LAYERS, BatchJob

MIN_RECALL = 0.99
MIN_TIMED_DROPS = 3
STREAM_LAYER_KEYS = (
    "trigger_s", "add_batch_s", "planning_s", "commit_s", "outside_trigger_s",
    "jobs", "tasks", "task_s", "shuffle_mb", "pairs",
)
LAYER_KEYS = (
    ("wall_s", "s"), ("task_s", "s"), ("cpu_s", "s"), ("jobs", "count"),
    ("tasks", "count"), ("shuffle_mb", "MB"), ("rows", "count"),
)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def run(args, work: str) -> "tuple[dict, dict]":
    probe = throttle_probe()
    t_setup = time.monotonic()
    spark = harness.start_session(work, bool(args.trace))
    start_s = time.monotonic() - t_setup
    env = harness.environment(spark, probe)
    try:
        if args.workload == "stream_ingest":
            res = _run_stream(spark, args, work, t_setup)
        else:
            res = _run_batch(spark, args, work, t_setup)
    finally:
        harness.stop_session(spark)

    problems = list(res["problems"])
    pinned_corpus = expected.corpus(args.workload, args.seed)
    if pinned_corpus is not None and pinned_corpus != res["digests"]["corpus"]:
        problems.append("corpus digest differs from the pinned one")
    jobs = res["jobs"]
    attempted = len(jobs)
    failed = sum(1 for j in jobs if j["problems"])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "setup_s": res["setup_s"],
        "session_start_s": start_s,
        "generate_s": res["generate_s"],
        "jobs": [{k: v for k, v in j.items() if k != "got"} for j in jobs],
        "setup_job": res.get("setup_job"),
        "problems": problems,
        "digests": res["digests"],
        "fail_ratio": failed / attempted if attempted else 1.0,
        "reference_pairs": res["reference_pairs"],
        "run_s": time.monotonic() - t_setup,
        "pinned_corpus": pinned_corpus is not None,
        "pinned_outputs": expected.outputs(args.workload, args.seed) is not None,
    }
    walls = [j["wall"] for j in jobs if "wall" in j]
    if args.trace:
        metrics = _layer_metrics(work, res, start_s)
        if res.get("trace_problems"):
            problems.extend(res["trace_problems"])
        record["trace"] = res.get("trace_record")
    else:
        metrics = {
            "job_s": (_median(walls), "s"),
            "setup_s": (res["setup_s"], "s"),
            "cache_mb": (_median([j["cache_mb"] for j in jobs if "cache_mb" in j]), "MB"),
            "recall": (res["recall"], "ratio"),
        }
    result = {
        "correct": failed == 0 and not problems and attempted > 0,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record


# ---------------------------------------------------------------- batch


def _run_batch(spark, args, work: str, t_setup: float) -> dict:
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.suffixarray import substring_pairs_sa

    id_col = "doc_id"
    t0 = time.monotonic()
    pdf = corpus.make_corpus(args.workload, args.seed)
    path = f"{work}/corpus"
    corpus.write_parquet(pdf, path, corpus.SEGMENT_FILES)
    generate_s = time.monotonic() - t0
    docs = spark.read.parquet(path)
    job = BatchJob(id_col)
    # warm-up: starts the Python workers, fills the codegen cache and
    # warms the JIT on every plan shape the timed jobs run
    job.run(docs)
    harness.release(spark)
    setup_s = time.monotonic() - t_setup

    jobs = _timed_loop(spark, args.seconds, lambda: job.run(docs), job.collect)

    # ---- checks (outside the timed region)
    cfg = PipelineConfig()
    k, thr = cfg.params.shingle_k, cfg.jaccard_threshold
    ids = pdf[id_col].tolist()
    texts = dict(zip(ids, pdf["text"]))
    ref = checks.planted_reference(pdf, id_col, k, thr)
    sub_ref = checks.substring_reference(texts, cfg.substring_min_len)
    pinned = expected.outputs(args.workload, args.seed)
    first = None
    recalls = []
    for j in jobs:
        got = j.get("got")
        if got is None:
            continue
        d = _batch_digests(got)
        j["digests"] = d
        pairs = {(a, b) for a, b, _ in got["pairs"]}
        j["recall"] = checks.recall(pairs, ref)
        recalls.append(j["recall"])
        if j["recall"] < MIN_RECALL:
            j["problems"].append(f"recall {j['recall']:.4f} < {MIN_RECALL}")
        j["problems"] += checks.reverify_sample(got["pairs"], texts, k, thr)
        sub = set(got["substring"])
        if sub != sub_ref:
            j["problems"].append(
                f"substring: {len(sub - sub_ref)} pairs share no "
                f"{cfg.substring_min_len}-byte substring, {len(sub_ref - sub)} missing"
            )
        first = first or d
        if d != first:
            j["problems"].append("outputs differ from the first timed job")
    for j in jobs:
        if pinned is not None and j.get("digests") not in (None, pinned):
            j["problems"].append("output digests differ from the pinned ones")
    digests = dict(first or {}, corpus=corpus.digest(args.workload, pdf))

    res = {
        "jobs": jobs,
        "setup_s": setup_s,
        "generate_s": generate_s,
        "recall": _median(recalls),
        "digests": digests,
        "problems": [],
        "reference_pairs": len(ref),
    }
    if args.trace:
        out, tr = job.traced(spark, docs)
        traced = _batch_digests(job.collect(out))
        del out
        tr["retained_mb"] = harness.release(spark)
        problems = []
        if first is not None and traced != first:
            problems.append("traced replica's outputs differ from the untraced job's")
        # the suffix-array engine counts characters; on a Latin-1 view of
        # the UTF-8 bytes every character is one byte, so it answers the
        # byte-unit question hash-free. Too slow to run in every timed run
        normed = with_normalized_text(docs.select(id_col, "text"), "text")
        normed = normed.withColumn(
            "norm_text", F.decode(F.encode("norm_text", "UTF-8"), "ISO-8859-1")
        )
        sa = {
            tuple(r)
            for r in substring_pairs_sa(
                normed, min_len=cfg.substring_min_len, id_col=id_col
            ).collect()
        }
        harness.release(spark)
        if sa != sub_ref:
            problems.append(
                f"substring_pairs_sa: {len(sa - sub_ref)} extra, "
                f"{len(sub_ref - sa)} missing against the reference"
            )
        res["trace"] = tr
        res["trace_problems"] = problems
    return res


def _batch_digests(got: dict) -> dict:
    return {
        "pairs": checks.digest_rows((a, b) for a, b, _ in got["pairs"]),
        "clusters": checks.digest_rows(got["clusters"]),
        "substring": checks.digest_rows(got["substring"]),
    }


def _timed_loop(spark, seconds: float, run_job, collect) -> "list[dict]":
    """Closed loop: the next job starts when the previous one (and its
    release) finished; at least one job, none started after ``seconds``."""
    jobs = []
    t_loop = time.monotonic()
    while True:
        rec: dict = {"problems": []}
        out = None
        t0 = time.monotonic()
        try:
            out = run_job()
            rec["wall"] = time.monotonic() - t0
            rec["cache_mb"] = harness.storage_mb(spark)
            rec["got"] = collect(out)
        except Exception as e:  # a failed job counts against fail_ratio
            rec["problems"].append(f"raised {type(e).__name__}: {e}")
        out = None
        rec["retained_mb"] = harness.release(spark)
        jobs.append(rec)
        if time.monotonic() - t_loop >= seconds:
            return jobs


# ---------------------------------------------------------------- stream


def _run_stream(spark, args, work: str, t_setup: float) -> dict:
    from lash_spark.pipeline import cross_dataset_pairs

    from perfbench.stream import StreamDrops

    t0 = time.monotonic()
    pdf = corpus.make_corpus(args.workload, args.seed)
    slices = f"{work}/slices"
    corpus.write_drops(pdf, slices)
    generate_s = time.monotonic() - t0
    drops = StreamDrops(spark, work, slices)
    first = drops.drop(0)
    first["got"] = drops.pairs(first["batch_id"])
    first["retained_mb"] = harness.release(spark)
    drops.snapshot()
    setup_s = time.monotonic() - t_setup

    jobs = []
    t_loop = time.monotonic()
    while True:
        d = 1 + len(jobs) % (corpus.STREAM_DROPS - 1)
        rec: dict = {"problems": [], "drop": d}
        drops.restore()
        try:
            rec.update(drops.drop(d))
            rec["cache_mb"] = harness.storage_mb(spark)
            rec["got"] = drops.pairs(rec["batch_id"])
        except Exception as e:  # a failed drop counts against fail_ratio
            rec["problems"].append(f"raised {type(e).__name__}: {e}")
            rec.pop("wall", None)
        rec["retained_mb"] = harness.release(spark)
        jobs.append(rec)
        # three drops at least: the first timed drop runs the store-probe
        # plans cold, and the median of three discounts it
        if len(jobs) >= MIN_TIMED_DROPS and time.monotonic() - t_loop >= args.seconds:
            break

    # ---- checks: the batch triangular pass over the union of the landed
    # drops is the reference (prefix closure, streaming.py); a drop's
    # trigger must store exactly the reference pairs it completes
    landed = sorted({0} | {j["drop"] for j in jobs})
    union = spark.read.parquet(slices).where(F.col("drop").isin(landed))
    ref = {
        (r[0], r[1])
        for r in cross_dataset_pairs(
            union, union, SketchParams(), threshold=0.8, same_files=True
        ).collect()
    }
    harness.release(spark)
    drop_of = dict(zip(pdf["url"], pdf["drop"].tolist()))

    def want(d: int) -> set:
        ends = {0, d}
        return {
            (a, b) for a, b in ref
            if drop_of[a] in ends and drop_of[b] in ends and d in (drop_of[a], drop_of[b])
        }

    problems = []
    found, wanted, per_drop = set(), set(), {}
    setup = dict(first, drop=0, problems=problems)
    checked = [j for j in [setup] + jobs if "got" in j]
    for j in checked:
        d, g, w = j["drop"], j.pop("got"), want(j["drop"])
        j["pairs"] = len(g)
        found |= g
        wanted |= w
        per_drop[d] = checks.digest_rows(g)
        if g != w:
            j["problems"].append(
                f"drop {d}: {len(g - w)} pairs not in the batch pass, "
                f"{len(w - g)} batch pairs missing"
            )
    pinned = expected.outputs(args.workload, args.seed)
    for j in checked:
        if pinned is not None and per_drop[j["drop"]] != pinned["drops"][j["drop"]]:
            j["problems"].append(f"drop {j['drop']} pair digest differs from the pinned one")
    return {
        "jobs": jobs,
        "setup_job": setup,
        "setup_s": setup_s,
        "generate_s": generate_s,
        "recall": checks.recall(found, wanted),
        "digests": {
            "drops": [per_drop.get(d) for d in range(corpus.STREAM_DROPS)],
            "corpus": corpus.digest(args.workload, pdf),
        },
        "problems": problems,
        "reference_pairs": len(wanted),
    }


# ---------------------------------------------------------------- trace


def _layer_metrics(work: str, res: dict, start_s: float) -> dict:
    """Every per-layer metric. A layer the workload does not run on its
    own (batch layers inside a streaming trigger, streaming on the batch
    workload) reads 0."""
    from perfbench.eventlog import harvest

    groups = harvest(harness.event_log_dir(work))
    zero = {"jobs": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0, "shuffle_mb": 0.0}
    m: dict = {}
    tr = res.get("trace")
    problems = res.setdefault("trace_problems", [])
    for layer in BATCH_LAYERS:
        g = groups.get(f"layer:{layer}", zero)
        ran = tr is not None and layer in tr["walls"]
        if ran and g["task_s"] <= 0:
            problems.append(f"layer {layer} reported no executor time")
        vals = {
            "wall_s": tr["walls"][layer] if ran else 0.0,
            "rows": tr["rows"][layer] if ran else 0,
            **{key: g[key] for key in zero},
        }
        for key, unit in LAYER_KEYS:
            m[f"{layer}.{key}"] = (vals[key], unit)
    job_s = _median([j["wall"] for j in res["jobs"] if "wall" in j])
    if tr is not None:
        covered = sum(tr["walls"].values())
        m["lsh.max_bucket"] = (tr["max_bucket"], "count")
        m["verify.yield"] = (
            tr["rows"]["verify"] / tr["rows"]["lsh"] if tr["rows"]["lsh"] else 0.0, "ratio"
        )
        m["components.edges"] = (tr["edges"], "count")
        m["pipeline.coverage"] = (covered / tr["job_wall"], "ratio")
        m["pipeline.trace_overhead_s"] = (tr["job_wall"] - job_s, "s")
        res["trace_record"] = {k: v for k, v in tr.items()}
    else:
        for name, unit in (
            ("lsh.max_bucket", "count"), ("verify.yield", "ratio"),
            ("components.edges", "count"), ("pipeline.coverage", "ratio"),
            ("pipeline.trace_overhead_s", "s"),
        ):
            m[name] = (0.0, unit)
    m["pipeline.retained_mb"] = (
        _median([j["retained_mb"] for j in res["jobs"]]), "MB"
    )

    # streaming, per timed drop (medians)
    per: dict = {key: [] for key in STREAM_LAYER_KEYS}
    written, files = [], []
    for j in res["jobs"]:
        if "durations_ms" not in j:
            continue
        dm = j["durations_ms"]
        g = groups.get(j["run_id"], zero)
        trig = dm.get("triggerExecution", 0) / 1e3
        per["trigger_s"].append(trig)
        per["add_batch_s"].append(dm.get("addBatch", 0) / 1e3)
        per["planning_s"].append(dm.get("queryPlanning", 0) / 1e3)
        per["commit_s"].append((dm.get("walCommit", 0) + dm.get("commitOffsets", 0)) / 1e3)
        per["outside_trigger_s"].append(j["wall"] - trig)
        for key in ("jobs", "tasks", "task_s", "shuffle_mb"):
            per[key].append(g[key])
        per["pairs"].append(j.get("pairs", 0))
        written.append(j["written_bytes"] / 1e6)
        files.append(j["files"])
        if g["task_s"] <= 0:
            problems.append(f"drop {j['drop']} reported no executor time")
    units = {"jobs": "count", "tasks": "count", "pairs": "count", "shuffle_mb": "MB"}
    for key in STREAM_LAYER_KEYS:
        m[f"streaming.{key}"] = (_median(per[key]), units.get(key, "s"))
    m["lakeio.written_mb"] = (_median(written), "MB")
    m["lakeio.files"] = (_median(files), "count")
    m["session.start_s"] = (start_s, "s")
    m["synth.generate_s"] = (res["generate_s"], "s")
    return m
