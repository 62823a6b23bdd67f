"""Round-6 optimization-round tests: changed operator internals must keep
their contracts (results identical, resume semantics intact)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- SA rewrite


def test_sa_hash_prefilter_exact_groups(spark):
    """The hash-census prefilter must be complete (no lost pair) and the
    final grouping must be decided by raw characters: same-doc-only
    repeats produce no pair, cross-doc shared windows always do, and
    near-miss windows (1 char off) never do."""
    from lash_spark.operators.suffixarray import substring_pairs_sa

    # non-periodic block: a truncated copy must NOT share any 64-window
    block = "".join(chr(97 + (i * 7) % 26) for i in range(80))
    solo = "".join(chr(97 + (i * 11) % 26) for i in range(90))
    rows = [
        (1, "aa " + block + " tail one"),
        (2, "bb " + block + " tail two"),            # shares block with 1
        (3, "cc~" + block[:63] + "99 tail three"),   # 63 shared chars: no pair
        (4, solo + " solo " + solo),                 # in-doc repeat only
        (5, "short doc"),
    ]
    df = spark.createDataFrame(rows, "url bigint, norm_text string")
    got = {(r.url_a, r.url_b) for r in substring_pairs_sa(df, min_len=64).collect()}
    assert got == {(1, 2)}


def test_sa_matches_winnow_engine_on_synth(spark):
    """Same truth set as the winnowing engine on a corpus with planted
    template/substring families (the property the driver oracle checks)."""
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.substring import exact_substring_pairs
    from lash_spark.operators.suffixarray import substring_pairs_sa
    from lash_spark.synth import generate_pages

    d = with_normalized_text(
        generate_pages(spark, 600, seed=7, partitions=4).select("url", "text"), "text"
    # ASCII-ize: the synth vocab contains a Cyrillic word, and the two
    # engines intentionally differ off-ASCII (winnow = byte windows, SA =
    # character windows; same as r5 — the driver corpus is pure ASCII)
    ).withColumn("norm_text", F.regexp_replace("norm_text", "был", "byl"))
    sa = {(r.url_a, r.url_b) for r in substring_pairs_sa(d, min_len=64).collect()}
    win = {
        (r.url_a, r.url_b)
        for r in exact_substring_pairs(d, min_len=64, k=32).collect()
    }
    assert sa == win and len(sa) > 0


# ----------------------------------------------------------- verify fast path


def test_verify_fused_path_matches_staged_path(spark):
    """The fused single-join verify (persisted sets, no cap) must produce
    exactly the staged path's rows/values — including est_jaccard and the
    distance columns."""
    from lash_spark.config import LshPlan, SketchParams
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.operators.verify import verify_pairs
    from lash_spark.synth import generate_pages

    params = SketchParams()
    plan = LshPlan.plan(params.num_perm, 0.8, 0.995)
    d = with_normalized_text(
        generate_pages(spark, 400, seed=5, partitions=4).select("url", "text"), "text"
    )
    sigs = build_signatures(d, params, plan, id_col="url", with_shingles=True).persist()
    cands = lsh_candidate_pairs(sigs, id_col="url", max_bucket=256, star_threshold=512)
    fused = verify_pairs(cands, d, params, id_col="url", threshold=0.8, sig_df=sigs)
    # force the staged path by stripping the shingles column from sig_df
    # (verify then re-shingles members — the r5 layout)
    staged = verify_pairs(
        cands, d, params, id_col="url", threshold=0.8, sig_df=sigs.drop("shingles")
    )
    cols = ["url_a", "url_b", "jaccard", "frac", "distance"]
    f = {tuple(r) for r in fused.select(*cols).collect()}
    s = {tuple(r) for r in staged.select(*cols).collect()}
    assert f == s and len(f) > 0
    sigs.unpersist()


def test_verify_fused_broadcast_decision_small_and_large(spark):
    """The measured-bytes broadcast decision must not change results in
    either regime (forced tiny cap => shuffled join; default => broadcast)."""
    from lash_spark.config import LshPlan, SketchParams
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.operators.verify import verify_pairs
    from lash_spark.synth import generate_pages

    params = SketchParams()
    plan = LshPlan.plan(params.num_perm, 0.8, 0.995)
    d = with_normalized_text(
        generate_pages(spark, 300, seed=9, partitions=4).select("url", "text"), "text"
    )
    sigs = build_signatures(d, params, plan, id_col="url", with_shingles=True).persist()
    cands = lsh_candidate_pairs(sigs, id_col="url", max_bucket=256, star_threshold=512)

    def rows():
        return {
            (r.url_a, r.url_b, r.jaccard)
            for r in verify_pairs(
                cands, d, params, id_col="url", threshold=0.8, sig_df=sigs
            ).select("url_a", "url_b", "jaccard").collect()
        }

    default = rows()
    old_auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("lash.verify.broadcastBytes", "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try:
        forced_shuffle = rows()
    finally:
        spark.conf.set("lash.verify.broadcastBytes", str(128 * 1024 * 1024))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_auto)
    assert default == forced_shuffle and len(default) > 0
    sigs.unpersist()


# ------------------------------------------------------------- IVF local fit


def test_local_kmeans_deterministic_and_partitioning(spark):
    from lash_spark.operators.ann import _local_kmeans

    rng = np.random.default_rng(0)
    x = rng.standard_normal((300, 16))
    c1 = _local_kmeans(x, 8, seed=4)
    c2 = _local_kmeans(x, 8, seed=4)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, 16)
    # degenerate input: fewer distinct points than k must not crash
    y = np.zeros((3, 4))
    c3 = _local_kmeans(y, 4, seed=1)
    assert c3.shape == (4, 4)


# ------------------------------------------------- adaptive persist_shingles


def test_persist_shingles_auto_resolves_by_projected_bytes(spark):
    """persist_shingles=None resolves from projected set bytes vs the
    lash.shingles.persistBytes budget; results are identical either way
    (the r6 500k A/B measured the perf sign flip this rule encodes)."""
    from lash_spark.config import PipelineConfig
    from lash_spark.pipeline import dedup_pipeline
    from lash_spark.synth import generate_pages

    pages = generate_pages(spark, 300, seed=3, partitions=4)
    res_auto = dedup_pipeline(pages, PipelineConfig())
    assert "shingles" in res_auto.signatures.columns  # tiny corpus: persist
    old = spark.conf.get("lash.shingles.persistBytes", None)
    spark.conf.set("lash.shingles.persistBytes", "1")
    try:
        res_off = dedup_pipeline(pages, PipelineConfig())
        assert "shingles" not in res_off.signatures.columns
        a = {(r.url_a, r.url_b) for r in res_auto.dup_pairs.select("url_a", "url_b").collect()}
        b = {(r.url_a, r.url_b) for r in res_off.dup_pairs.select("url_a", "url_b").collect()}
        assert a == b and len(a) > 0
    finally:
        if old is None:
            spark.conf.unset("lash.shingles.persistBytes")
        else:
            spark.conf.set("lash.shingles.persistBytes", old)


# ------------------------------------------------------- lakeio ADVICE fixes


def test_replace_survives_stale_staged_and_old_dirs(spark, tmp_path):
    from lash_spark.lakeio import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    cat.write(spark.range(5).withColumnRenamed("id", "v"), "t")
    # simulate a previously crashed replace: leftover __staged and __old
    (tmp_path / "cat" / "t__staged").mkdir()
    (tmp_path / "cat" / "t__staged" / "junk.txt").write_text("stale")
    (tmp_path / "cat" / "t__old").mkdir()
    cat.replace(cat.read("t").filter(F.col("v") < 3), "t")
    assert {r.v for r in cat.read("t").collect()} == {0, 1, 2}
    assert not (tmp_path / "cat" / "t__staged").exists()
    assert not (tmp_path / "cat" / "t__old").exists()


def test_partitioned_stage_empty_resume_skips_builder(spark, tmp_path):
    """After an all-empty partitioned stage completes, a resume must surface
    the recorded schema WITHOUT invoking the builder (ADVICE r5: builders
    may run eager work)."""
    from lash_spark.lakeio import ParquetCatalog, run_partitioned_stage

    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    calls = []

    def build(values):
        calls.append(list(values))
        return (
            spark.range(0)
            .select(
                F.col("id").alias("x"),
                F.lit(0).alias("_wave"),
            )
        )

    df1, skipped1 = run_partitioned_stage(
        cat, "s", "h1", [0, 1], build, part_col="_wave"
    )
    assert not skipped1 and df1.count() == 0
    n_calls = len(calls)
    df2, skipped2 = run_partitioned_stage(
        cat, "s", "h1", [0, 1], build, part_col="_wave"
    )
    assert skipped2 and df2.count() == 0
    assert len(calls) == n_calls, "builder invoked on empty-output resume"
    assert [f.name for f in df2.schema.fields] == ["x", "_wave"]


def test_cc_local_and_distributed_paths_agree(spark):
    """connected_components routes edge sets <= lash.cc.localEdgeCap to a
    driver-local union-find; labels must be identical to the distributed
    star rounds (component = min node id) on random graphs, and the
    distributed path must stay exercised (cap=0 disables the local route)."""
    import random

    from lash_spark.operators.components import connected_components

    rnd = random.Random(7)
    for trial in range(3):
        n = 80
        edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(90)]
        edges = [(a, b) for a, b in edges if a != b]
        e = spark.createDataFrame(edges, "src bigint, dst bigint")
        local = {
            (r["node"], r["component"])
            for r in connected_components(e, "src", "dst").collect()
        }
        spark.conf.set("lash.cc.localEdgeCap", "0")
        try:
            dist = {
                (r["node"], r["component"])
                for r in connected_components(e, "src", "dst").collect()
            }
        finally:
            spark.conf.unset("lash.cc.localEdgeCap")
        assert local == dist and local


def test_cc_local_path_string_ids(spark):
    """The driver-local route must handle string node ids (urls) with the
    same min-label semantics the pipeline's cluster_id contract needs."""
    from lash_spark.operators.components import connected_components

    e = spark.createDataFrame(
        [("u/b", "u/c"), ("u/c", "u/a"), ("u/x", "u/y")],
        "src string, dst string",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(e, "src", "dst").collect()
    }
    assert got == {
        "u/a": "u/a", "u/b": "u/a", "u/c": "u/a", "u/x": "u/x", "u/y": "u/x"
    }


def test_intersect_arrow_kernel_matches_jvm(spark):
    """The Arrow |A∩B| kernel (forced — the auto default would pick the
    JVM engine at this tiny set volume) and the JVM array_intersect plan
    must produce identical verified pairs and jaccards — including empty
    sets and doc pairs with no overlap."""
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.operators.verify import verify_pairs
    from lash_spark.config import SketchParams
    from lash_spark.synth import generate_pages

    pages = generate_pages(spark, 260, seed=23, partitions=2)
    params = SketchParams()
    normed = with_normalized_text(pages.select("url", "text"), "text")
    sigs = build_signatures(normed, params, with_shingles=True).persist()
    cands = lsh_candidate_pairs(sigs, id_col="url").persist()

    def run(engine):
        spark.conf.set("lash.verify.intersect", engine)
        try:
            return {
                (r["url_a"], r["url_b"], round(r["jaccard"], 12))
                for r in verify_pairs(
                    cands, normed, params, id_col="url", sig_df=sigs,
                    with_distances=False,
                ).collect()
            }
        finally:
            spark.conf.unset("lash.verify.intersect")

    arrow = run("arrow")
    jvm = run("jvm")
    assert arrow and arrow == jvm
    sigs.unpersist()
    cands.unpersist()


def test_intersect_udf_single_eval_in_plan(spark):
    """The verify plan must evaluate each Arrow kernel ONCE per row and
    keep the est short-circuit: exactly two ArrowEvalPython nodes (the
    vectorized est kernel below, the intersect kernel above), each with a
    single pythonUDF slot — if ExtractPythonUDFs fused them into one node
    the intersect (and its shingle-array transfer) would run below the
    est-threshold filter for every pair — and the est filter must sit
    BETWEEN the two nodes so est-failing rows never reach the
    intersection. No row-at-a-time BatchEvalPython anywhere."""
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.operators.verify import verify_pairs
    from lash_spark.config import SketchParams
    from lash_spark.synth import generate_pages

    pages = generate_pages(spark, 200, seed=13, partitions=2)
    params = SketchParams()
    normed = with_normalized_text(pages.select("url", "text"), "text")
    sigs = build_signatures(normed, params, with_shingles=True).persist()
    cands = lsh_candidate_pairs(sigs, id_col="url")
    spark.conf.set("lash.verify.intersect", "arrow")  # auto would pick jvm here
    try:
        verified = verify_pairs(
            cands, normed, params, id_col="url", sig_df=sigs, with_distances=False
        )
        assert verified.count() > 0
        plan = verified._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 2 and "BatchEvalPython" not in plan
        # one slot per node: a fused node would name a second slot
        assert "pythonUDF0" in plan and "pythonUDF1" not in plan
        # single eval of each kernel
        assert plan.count("_inter_size_udf") == 1
        assert plan.count("_minhash_est_udf") == 1
        # plan prints top-down: intersect node above, est node below, and
        # the est-threshold filter between them (rows failing est never
        # cross Arrow with shingle arrays)
        i_inter = plan.index("_inter_size_udf")
        i_est = plan.index("_minhash_est_udf")
        i_filter = plan.index("Filter (isnotnull(pythonUDF0", i_inter)
        assert i_inter < i_filter < i_est
    finally:
        spark.conf.unset("lash.verify.intersect")
    sigs.unpersist()


def test_dedup_result_clusters_lazy_no_catalog(spark):
    """On the no-catalog path DedupResult.clusters is a deferred thunk:
    connected components (an eager operator) must not run unless clusters
    is read, and reading it twice returns the same frame."""
    from lash_spark.config import PipelineConfig
    from lash_spark.pipeline import dedup_pipeline
    from lash_spark.synth import generate_pages

    pages = generate_pages(spark, 120, seed=5, partitions=2)
    res = dedup_pipeline(pages, PipelineConfig(), id_col="url", text_col="text")
    assert res._clusters is None and res._clusters_thunk is not None
    c1 = res.clusters
    assert res._clusters is c1 and res.clusters is c1
    assert c1.count() == 120


def test_intersect_auto_picks_jvm_at_tiny_volume(spark):
    """The auto engine must route tiny member-set volumes to the JVM
    expression (the Python round-trip measured slower than the whole JVM
    intersection below ~1M member hashes): at this scale the verify plan
    contains no Python evaluation — in the self mode over persisted sets
    and in the cross mode that re-shingles."""
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.operators.verify import verify_pairs
    from lash_spark.config import SketchParams
    from lash_spark.synth import generate_pages

    pages = generate_pages(spark, 200, seed=13, partitions=2)
    params = SketchParams()
    normed = with_normalized_text(pages.select("url", "text"), "text")
    sigs = build_signatures(normed, params, with_shingles=True).persist()
    cands = lsh_candidate_pairs(sigs, id_col="url")
    verified = verify_pairs(
        cands, normed, params, id_col="url", sig_df=sigs, with_distances=False
    )
    assert verified.count() > 0
    plan = verified._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    sigs.unpersist()

    # the cross mode without persisted sets measures the same volume gate
    from lash_spark.pipeline import cross_dataset_pairs

    # split by url, so duplicate families straddle the two sides
    q = pages.filter("pmod(hash(url), 2) = 0")
    r = pages.filter("pmod(hash(url), 2) = 1")
    held = []
    cross = cross_dataset_pairs(q, r, persist_shingles=False, unpersist_into=held)
    assert cross.count() > 0
    plan = cross._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    for df in held:
        df.unpersist()
