"""Verify-plan contracts: both kernel engines agree on malformed registers,
and the degree cap bounds each document's pairs without depending on where
the shingle sets come from."""

from __future__ import annotations

from collections import Counter


def test_est_kernel_parity_on_malformed_registers(spark):
    """A null register array drops its pairs on both engines; a ragged one
    counts matches over the common prefix divided by size(a), as the JVM
    zip_with fold does."""
    from lash_spark.config import SketchParams
    from lash_spark.operators.verify import verify_pairs

    full = list(range(1, 9))
    sigs = spark.createDataFrame(
        [
            ("a", full, [1, 2, 3]),
            ("b", full[:7] + [99], [1, 2, 3]),
            ("c", None, [1, 2, 3]),
            ("d", [1, 2, 3, 4], [1, 2, 3]),
            ("e", full, [1, 2, 3]),
        ],
        "url string, minhash array<int>, shingles array<bigint>",
    )
    docs = sigs.select("url").withColumn("norm_text", sigs.url)
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("c", "e"), ("d", "e")],
        "url_a string, url_b string",
    )

    def run(engine):
        spark.conf.set("lash.verify.intersect", engine)
        try:
            return sorted(
                tuple(r)
                for r in verify_pairs(
                    pairs, docs, SketchParams(), threshold=0.3, sig_df=sigs,
                    with_distances=False,
                ).collect()
            )
        finally:
            spark.conf.unset("lash.verify.intersect")

    arrow = run("arrow")
    assert arrow == run("jvm")
    assert arrow == [
        ("a", "b", 0.875, 1.0), ("a", "d", 0.5, 1.0), ("d", "e", 1.0, 1.0)
    ]


def test_degree_cap_bounds_pairs_per_doc(tiny_pages, spark):
    """max_pairs_per_doc on a corpus with a boilerplate family: the capped
    pairs are a subset of the uncapped ones, every id keeps at most C pairs
    per side, and persisted and re-shingled sets give identical rows."""
    from lash_spark.config import SketchParams
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.operators.verify import verify_pairs

    cap = 4
    params = SketchParams()
    normed = with_normalized_text(tiny_pages.select("url", "text"), "text")
    sigs = build_signatures(normed, params, with_shingles=True).persist()
    cands = lsh_candidate_pairs(sigs, id_col="url").persist()

    def rows(sig_df, max_pairs_per_doc):
        return {
            tuple(r)
            for r in verify_pairs(
                cands, normed, params, sig_df=sig_df, with_distances=False,
                max_pairs_per_doc=max_pairs_per_doc,
            ).collect()
        }

    full = rows(sigs, None)
    capped = rows(sigs, cap)
    assert capped and capped < full
    for side in (0, 1):
        assert max(Counter(r[side] for r in capped).values()) <= cap
    assert rows(sigs.drop("shingles"), cap) == capped
    sigs.unpersist()
    cands.unpersist()
