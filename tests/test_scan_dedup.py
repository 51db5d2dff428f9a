"""Single-scan pins for the r11 duplicated-subtree fixes.

Catalyst does not CSE plan subtrees, so an operator that references a
small derived frame N times re-runs the frame's full input lineage N
times — at corpus scale, N full scans for one logical pass. The r11
optimization round checkpointed the small frames in kmv_pair_overlap,
hdr_quantiles, and drift_report's counts family; these tests pin the
resulting plans so a refactor that quietly reintroduces the
multi-scan shape fails CI.

The pin: build each operator over an input with a recognizable leaf
(`Range`), then count `Range` occurrences in the final physical plan.
With the checkpoint, the input lineage is materialized once and the
final plan reads `ExistingRDD` — zero (kmv/hdr) or bounded (drift)
`Range` leaves. Without it, the leaf appears once per reference.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_kmv_pair_overlap_materializes_sketch_once(spark):
    from h3ron_spark.pipeline.sketch import kmv_pair_overlap, kmv_sketch

    src = spark.range(2000).select(
        (F.col("id") % 4).cast("string").alias("src"),
        F.concat(F.lit("tok"), (F.col("id") % 700).cast("string")).alias(
            "v"
        ),
    )
    sk = kmv_sketch(src, "v", "src", k=16)
    out = kmv_pair_overlap(sk, k=16)
    plan = _final_plan(out)
    # the sketch lineage (Range leaf) must not be re-planned into the
    # pair query: the checkpoint replaces it with ExistingRDD scans
    assert "Range (0, 2000" not in plan
    assert plan.count("Scan ExistingRDD") >= 2
    # value sanity on the same data: estimator fields are consistent
    rows = out.collect()
    assert rows and all(r.union_k >= r.inter_k >= 0 for r in rows)


def test_hdr_quantiles_builds_histogram_once(spark):
    from h3ron_spark.pipeline.sketch import hdr_histogram, hdr_quantiles

    src = spark.range(5000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 97 + 1).cast("double").alias("v"),
    )
    hist = hdr_histogram(src, "v", ["g"], sub_bits=5)
    qs = hdr_quantiles(hist, ["g"], (0.5, 0.9, 0.99), 5)
    plan = _final_plan(qs)
    # three quantile branches, ONE histogram build: the Range leaf
    # (and the histogram aggregation over it) may not appear once per
    # quantile in the final plan
    assert "Range (0, 5000" not in plan
    assert qs.count() == 9  # 3 groups x 3 quantiles


def test_minhash_lsh_candidates_materializes_signatures_once(spark):
    """minhash_lsh_candidates builds its own document features and
    checkpoints the banded signatures before the self-join; without
    the checkpoint BOTH self-join sides re-run the scan + shingle +
    hash + min-agg lineage (the 6-scan shape)."""
    from h3ron_spark.pipeline.dedup import minhash_lsh_candidates

    src = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("alpha beta gamma delta"),
            (F.col("id") % 9).cast("string"),
            (F.col("id") % 4).cast("string"),
        ).alias("text"),
    )
    out = minhash_lsh_candidates(src)
    plan = _final_plan(out)
    # the signature lineage (Range leaf) must appear in NEITHER join
    # side: the checkpoint replaces both with ExistingRDD scans
    assert "Range (0, 300" not in plan
    assert plan.count("Scan ExistingRDD") >= 2
    # value sanity: identical docs (id % 36 collides) pair up
    assert out.count() > 0


def _assert_single_documents_scan(spark, name):
    """Run registry query ``name`` at sf0.001 and require that its only
    corpus scan is the one building the persisted features frame.
    executedPlan prints each InMemoryTableScan leaf with its cached
    build plan nested under "+- InMemoryRelation"; a "Scan parquet"
    line in the top-level segment before the first such marker would
    be a fresh corpus scan."""
    from h3ron_spark import queries as Q

    df = Q.queries()[name](spark, "/root/testdata/sf0.001")
    head = _final_plan(df).split("InMemoryRelation", 1)[0]
    assert "Scan parquet" not in head, head[-2000:]
    return df


def test_corpus_curation_single_documents_scan(spark):
    """pipeline_corpus_curation's four stage families (exact dedup,
    minhash near-dup, decontamination, quality stats) must all ride
    ONE persisted corpus scan — without the shared features frame the
    final plan read documents.parquet five times and tokenized the
    corpus three times."""
    df = _assert_single_documents_scan(spark, "pipeline_corpus_curation")
    rows = {r.source: r for r in df.collect()}
    assert rows and all(
        r.n_docs
        == r.n_drop_exact + r.n_drop_neardup + r.n_drop_quality + r.n_keep
        for r in rows.values()
    )


def test_quality_gate_single_documents_scan(spark):
    """pipeline_quality_gate's token stats and decontamination (corpus
    and eval-set sides) ride one document_features frame; the
    per-family derivations read documents.parquet three times."""
    df = _assert_single_documents_scan(spark, "pipeline_quality_gate")
    rows = df.collect()
    assert rows and all(0 <= r.n_keep <= r.n_docs for r in rows)


def test_text_decontaminate_single_documents_scan(spark):
    """text_decontaminate's corpus grams and eval-set grams come from
    one document_features frame; deriving each side from raw text
    read documents.parquet twice."""
    df = _assert_single_documents_scan(spark, "text_decontaminate")
    rows = df.collect()
    assert rows and all(0 <= r.n_matched <= r.n_grams for r in rows)
    # every eval-set document matches all of its own grams
    assert all(r.contamination == 1.0 for r in rows if r.doc_id % 97 == 0)


def test_drift_report_counts_family_single_scan(spark):
    from h3ron_spark.pipeline.drift import drift_report

    a = spark.range(0, 4000, 2).select(
        F.col("id").cast("double").alias("num"),
        F.concat(F.lit("t"), (F.col("id") % 50).cast("string")).alias(
            "txt"
        ),
    )
    b = spark.range(1, 4001, 2).select(
        F.col("id").cast("double").alias("num"),
        F.concat(F.lit("t"), (F.col("id") % 60).cast("string")).alias(
            "txt"
        ),
    )
    out = drift_report(a, b, numeric_cols=["num"], string_cols=["txt"])
    plan = _final_plan(out)
    # n_rows + two null_rate families ride the checkpointed 2-row
    # counts frame; only the lazy single-reference HLL and HDR
    # families may still carry the input leaves (one Range pair each)
    assert plan.count("Range (0, 4000") <= 2
    assert plan.count("Range (1, 4001") <= 2
    rows = {(r.metric, r.column): r for r in out.collect()}
    assert rows[("n_rows", "*")].batch_a == 2000
    assert rows[("n_rows", "*")].batch_b == 2000
    assert rows[("null_rate_e4", "num")].delta == 0


def test_document_features_shape(spark):
    """document_features: one persisted frame carrying the id, the
    pass-through columns, and the derived hash/token/shingle columns;
    the shingle array is distinct even when the text repeats a
    trigram."""
    from h3ron_spark.pipeline.dedup import document_features

    src = spark.createDataFrame(
        [(1, "s0", "a b c a b c"), (2, "s1", "x")],
        "doc_id long, source string, text string",
    )
    f = document_features(src)
    assert f.is_cached
    assert f.columns == ["id", "source", "h", "n", "top_tok", "sh"]
    rows = {r.id: r for r in f.collect()}
    assert sorted(rows[1].sh) == ["a b c", "b c a", "c a b"]
    assert (rows[1].n, rows[1].top_tok, rows[1].source) == (6, 0.3333, "s0")
    assert (rows[2].sh, rows[2].n) == (["x"], 1)
    f.unpersist()
