"""Physical-plan assertions: the scale properties SURVEY §4 promises
(predicate pushdown, column pruning, partial aggregation, broadcast
joins, no Python in bit-math paths) must be visible in the plans
Catalyst actually produces — these tests pin them so a refactor that
silently loses one fails CI.
"""

from __future__ import annotations

from h3ron_spark import queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    df = Q.queries()[name](spark, SF)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    return df._jdf.queryExecution().explainString(jmode)


def test_pricing_summary_pushdown_pruning_partial_agg(spark):
    plan = plan_of(spark, "rel_pricing_summary")
    # filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: comment/tax/etc never read
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_comment" not in read and "l_tax" not in read
    # map-side partial aggregation before the exchange
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_top_revenue_broadcasts_the_dimension(spark):
    plan = plan_of(spark, "rel_top_revenue_orders")
    assert "BroadcastHashJoin" in plan
    # the customer mktsegment filter is pushed to its scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_bit_math_rollup_stays_jvm_side(spark):
    """h3_parent_rollup (S6+D6+agg) must compile to pure codegen —
    no Python evaluation node anywhere in the plan."""
    plan = plan_of(spark, "h3_parent_rollup")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "partial_count" in plan  # map-side combine


def test_text_stats_stay_jvm_side(spark):
    plan = plan_of(spark, "text_token_counts")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_polyfill_filter_is_broadcast_semi_join(spark):
    """X4: the AOI probe must reach the fact side as a broadcast
    (semi) join, never a shuffle of the events table."""
    plan = plan_of(spark, "geo_polyfill_filter")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_uncompact_mapping_join_broadcasts(spark):
    plan = plan_of(spark, "h3_uncompact_join")
    assert "BroadcastHashJoin" in plan


def test_compact_two_phase_partitions_on_subtree_root(spark):
    """The distributed compact must hash-partition on the res-5
    ancestor (bit-math expression) feeding the Arrow kernel."""
    from pyspark.sql import functions as F

    from h3ron_spark.operators.compact import compact_dataframe
    from h3ron_spark.util import local_df

    import h3ron_spark.h3core as h3c

    cells = h3c.uncompact_cells(
        h3c.grid_disk(h3c.latlng_to_cell(10.0, 20.0, 5), 1), 7
    )
    df = local_df(spark, [(c,) for c in cells], "cell long")
    out = compact_dataframe(df, "cell", partition_res=5)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(jmode)
    assert "hashpartitioning" in plan
    assert "MapInArrow" in plan


def test_parent_partition_layout_prunes_files(spark, tmp_path):
    """The cell_parent_r{N} layout (SURVEY §4 convention replacing the
    X1-X3 indexes) must produce real partition pruning: a region
    filter appears in the scan's PartitionFilters and non-matching
    partition directories are never read."""
    import h3ron_spark.h3core as h3c
    from h3ron_spark.operators.layout import (
        parent_col_name,
        read_cells_in_region,
        write_partitioned_cells,
    )
    from h3ron_spark.util import local_df

    # two geographically distant res-7 disks -> disjoint res-3 parents
    a = h3c.grid_disk(h3c.latlng_to_cell(10.0, 20.0, 7), 3)
    b = h3c.grid_disk(h3c.latlng_to_cell(-40.0, 150.0, 7), 3)
    df = local_df(spark, [(c,) for c in a + b], "cell long")
    path = str(tmp_path / "cells")
    write_partitioned_cells(df, path, parent_res=3)

    region = {h3c.cell_to_parent(c, 3) for c in a}
    got = read_cells_in_region(spark, path, 3, region)
    assert sorted(r.cell for r in got.collect()) == sorted(a)

    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(jmode)
    pc = parent_col_name(3)
    assert "PartitionFilters" in plan and pc in plan.split("PartitionFilters")[1].splitlines()[0]


def test_lsh_bucketing_is_arrow_not_rowwise(spark):
    """The banded-LSH bucket computation must be the Arrow matmul
    kernel (one vectorized ArrowEvalPython), never a row-at-a-time
    BatchEvalPython, and never a nest of per-plane aggregate lambdas
    (which would show as many HigherOrderFunction evals)."""
    plan = plan_of(spark, "ann_lsh_topk")
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_refgraph_read_is_pure_columnar(spark):
    """The cached reference-graph table must read as a plain parquet
    scan with no Python in the plan (destinations were materialized
    at decode time)."""
    import os

    import pytest as _pytest

    path = "/root/reference/data/graph-germany_r7_f64.bincode.lz"
    if not os.path.exists(path):
        _pytest.skip("reference data not available")
    from h3ron_spark.sources.refgraph import reference_graph_to_edges

    df = reference_graph_to_edges(spark, path)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "Scan parquet" in plan


def test_sssp_round_broadcasts_frontier_not_edges(spark):
    """One frontier-relaxation round must broadcast the FRONTIER side
    of the join; the edge table must not move through a shuffle
    exchange for the join."""
    from pyspark.sql import functions as F

    from h3ron_spark.graph.synthetic import torus_grid_graph

    edges = torus_grid_graph(spark, 20).select(
        F.col("origin").alias("_u"),
        F.col("destination").alias("_v"),
        F.col("weight").alias("_w"),
    )
    frontier = spark.createDataFrame(
        [(0, 0, 0.0)], "origin long, cell long, weight double"
    )
    relaxed = F.broadcast(frontier).join(edges, frontier.cell == edges._u)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = relaxed._jdf.queryExecution().explainString(jmode)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sssp_cogroup_round_reuses_cached_edge_layout(spark):
    """The beyond-broadcast cogroup round must reuse the prepared
    edge cache's hash layout and within-partition sort: exactly ONE
    hash exchange in the round plan (the small frontier side), zero
    on the edge side, and the edge scan reads the in-memory
    relation."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from h3ron_spark.graph import algorithms as A
    from h3ron_spark.graph.synthetic import torus_grid_graph

    def tile(o):
        return (o / 8).cast("long")

    e = A.prepare_sssp_edges(torus_grid_graph(spark, 8), tile)
    front = (
        spark.createDataFrame(
            [(0, 0, 0.0)], "origin long, cell long, weight double"
        )
        .withColumn("_tile", tile(F.col("cell")))
        .withColumn(
            "_bucket",
            A._bucket_of(tile(F.col("cell")), e._sssp_npart),
        )
    )
    schema = StructType(
        [
            StructField("origin", LongType()),
            StructField("cell", LongType()),
            StructField("weight", DoubleType()),
        ]
    )
    relax = A._make_tile_relax(None, False, ("origin", "cell", "weight"))
    cand = (
        e.filter(F.col("_tile").isin([0, 1]))
        .groupby("_bucket")
        .cogroup(front.groupby("_bucket"))
        .applyInPandas(relax, schema)
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    # exactly one round-inserted exchange (ENSURE_REQUIREMENTS = the
    # frontier side); the cached build plan's REPARTITION_BY_NUM
    # exchanges are one-time prepare cost, not per-round
    assert plan.count("ENSURE_REQUIREMENTS") == 1
    try:
        e.unpersist()
    except Exception:
        pass


def test_star_join_broadcasts_all_dimensions(spark):
    """The five-table star join must broadcast every dimension (4
    BroadcastHashJoins) and push the region/size filters to the
    dimension scans — the fact table shuffles only for the final
    aggregate."""
    plan = plan_of(spark, "rel_supplier_part_pricing")
    # formatted explain lists each node twice (tree + details)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "EqualTo(r_name,ASIA)" in plan
    assert "LessThanOrEqual(p_size,20)" in plan


def test_bucketed_cell_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed by cell the same way must SortMergeJoin
    with ZERO shuffle exchanges (the co-located join layout)."""
    from pyspark.sql import functions as F

    from h3ron_spark.operators.layout import (
        read_bucketed_cells,
        write_bucketed_cells,
    )

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bkt_t LOCATION '{tmp_path}/wh'"
    )
    try:
        cells = spark.range(5000).select(
            (F.col("id") + 599718752904445951).alias("cell"),
            (F.col("id") % 7).alias("v1"),
        )
        other = spark.range(5000).select(
            (F.col("id") + 599718752904445951).alias("cell"),
            (F.col("id") % 11).alias("v2"),
        )
        write_bucketed_cells(cells, "bkt_t.a", 8)
        write_bucketed_cells(other, "bkt_t.b", 8)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = read_bucketed_cells(spark, "bkt_t.a").join(
                read_bucketed_cells(spark, "bkt_t.b"), "cell"
            )
            jmode = (
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            plan = j._jdf.queryExecution().explainString(jmode)
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan
            assert j.count() == 5000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP DATABASE IF EXISTS bkt_t CASCADE")


def test_paragraph_dedup_avoids_window_sort(spark):
    """dedup_paragraphs' first-occurrence must be the skew-safe
    groupBy-min + hash join, never a row_number window (whose per-key
    sort dies on a corpus-hot boilerplate paragraph)."""
    plan = plan_of(spark, "dedup_paragraphs")
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine on the line hash
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """text_decontaminate: the benchmark gram set must reach the
    corpus as a broadcast join — no corpus-side shuffle on the gram
    key, no Python."""
    plan = plan_of(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_vocab_topk_is_take_ordered(spark):
    """text_vocab_topk: the top-k must compile to TakeOrdered(AndProject),
    not a global sort, with map-side partial counts."""
    plan = plan_of(spark, "text_vocab_topk")
    assert "TakeOrdered" in plan
    assert "partial_count" in plan


def test_assume_partitioned_compact_drops_child_shuffle(spark):
    """uncompact(partition_res) -> compact(assume_partitioned) must
    save exactly the child-level exchange versus the default two-phase
    plan, with identical results (the pipeline co-locates once on the
    parent set, never on the exploded children)."""
    from h3ron_spark.operators.compact import (
        compact_dataframe,
        uncompact_dataframe,
    )
    from h3ron_spark.util import local_df

    import h3ron_spark.h3core as h3c

    base = [(c,) for c in h3c.grid_disk(h3c.latlng_to_cell(10.0, 20.0, 5), 2)]
    src = local_df(spark, base, "cell long")
    children = uncompact_dataframe(src, 8, "cell", partition_res=5)
    fast = compact_dataframe(
        children, "cell", partition_res=5, assume_partitioned=True
    )
    slow = compact_dataframe(children, "cell", partition_res=5)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    p_fast = fast._jdf.queryExecution().explainString(jmode)
    p_slow = slow._jdf.queryExecution().explainString(jmode)
    # the child-level repartition subtree prints in both consumer
    # branches of the formatted plan, so assert strictly fewer
    # exchange nodes rather than an exact delta
    assert p_slow.count("Exchange") > p_fast.count("Exchange")
    assert sorted(r[0] for r in fast.collect()) == sorted(
        r[0] for r in slow.collect()
    )


def test_assume_partitioned_survives_no_auto_broadcast(spark):
    """The subtree co-location contract must not depend on the
    auto-broadcast threshold: with auto-broadcast disabled the
    partition_res uncompact still pins a broadcast of the (small)
    source side, so compact(assume_partitioned=True) stays exact
    (regression: a SortMergeJoin re-hashed children by source cell and
    silently under-compacted)."""
    from h3ron_spark.operators.compact import (
        compact_dataframe,
        uncompact_dataframe,
    )
    from h3ron_spark.util import local_df

    import h3ron_spark.h3core as h3c

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        parent = h3c.latlng_to_cell(10.0, 20.0, 5)
        srcs = h3c.cell_to_children(parent, 6)  # 7 sibling sources
        df = local_df(spark, [(c,) for c in srcs], "cell long")
        children = uncompact_dataframe(df, 8, "cell", partition_res=5)
        fast = compact_dataframe(
            children, "cell", partition_res=5, assume_partitioned=True
        )
        got = sorted(r[0] for r in fast.collect())
        assert got == [parent]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_asof_is_single_shuffle_no_join(spark):
    """rel_events_asof must lower to the merge idiom: one hash
    exchange on user_id feeding a window — and NO join node (the
    naive as-of translation is a range self-join that explodes
    quadratically under per-user skew)."""
    import re

    plan = plan_of(spark, "rel_events_asof")
    assert "Join" not in plan
    assert len(set(re.findall(r"\(\d+\) Exchange", plan))) == 1
    assert "hashpartitioning(user_id" in plan
    assert "Window" in plan


def test_substring_coverage_stays_jvm_and_hash_joined(spark):
    """Gram explode, dup filter, and the gaps-and-islands windows are
    all JVM-side; the mark-back join must be a hash join, never a
    cartesian."""
    plan = plan_of(spark, "dedup_substring_coverage")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_broadcasts_probes_no_cartesian(spark):
    """ann_ivfpq_topk: candidate generation is a broadcast equi-join
    on list_id (queries are the small side); the PQ/IVF Arrow kernels
    are map-side projections — no cartesian anywhere."""
    plan = plan_of(spark, "ann_ivfpq_topk")
    assert "BroadcastHashJoin" in plan
    assert "[list_id" in plan
    assert "CartesianProduct" not in plan


def test_pq_adc_codes_join_is_broadcast(spark):
    """ann_pq_adc_topk scans all candidates BY DESIGN (flat ADC
    baseline) — but the code table must ride a broadcast, never a
    shuffled cartesian."""
    plan = plan_of(spark, "ann_pq_adc_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_quality_classifier_scan_local_features(spark):
    """Classifier features are higher-order JVM expressions over one
    documents scan: no Python, no join, map-side partial agg."""
    plan = plan_of(spark, "text_quality_classifier")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_pricing_cube_single_expand(spark):
    """CUBE lowers to exactly one Expand feeding a partial+final hash
    aggregate — all four grouping sets in one scan."""
    import re

    plan = plan_of(spark, "rel_pricing_cube")
    assert "Expand" in plan
    assert len(set(re.findall(r"\(\d+\) Scan parquet", plan))) == 1
    assert "partial_count" in plan


def test_curated_sink_readback_prunes_partitions(spark, tmp_path):
    """pipeline_curated_sink's readback filter must become a
    PARTITION filter on the hive layout — listing only the one
    source=... directory, not a row-level filter over all files."""
    from h3ron_spark.testdata import load

    docs = load(spark, SF, "documents").select("doc_id", "n_chars", "source")
    out = str(tmp_path / "curated")
    docs.write.partitionBy("source").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).filter("source = 'src7'")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = back._jdf.queryExecution().explainString(jmode)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "src7" in seg
    # and NOT pushed as a data filter over every file (a pure
    # partition predicate produces no PushedFilters entry at all)
    if "PushedFilters:" in plan:
        pushed = plan.split("PushedFilters:")[1].splitlines()[0]
        assert "src7" not in pushed


def test_hll_sketch_stays_jvm_with_partial_agg(spark):
    """sketch_hll_distinct: md5+bin bit math must compile to pure
    codegen (no Python node), and the (group, register) -> max(rho)
    aggregate must combine map-side — the property that makes the
    sketch O(groups * 2^p) past the first exchange at 100 TB."""
    plan = plan_of(spark, "sketch_hll_distinct")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "partial_max" in plan


def test_weighted_sample_single_hash_exchange(spark):
    """pipeline_weighted_sample: the A-ES key is a scan-local
    expression; the only hash shuffle is the per-source window (the
    final presentation sort is a range exchange), and Catalyst's
    WindowGroupLimit applies the rank<=k bottom-k BEFORE the exchange
    — the mergeable pre-shrink the A-ES docstring promises, for free."""
    plan = plan_of(spark, "pipeline_weighted_sample")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("hashpartitioning") == 1
    assert "WindowGroupLimit" in plan


def test_kmv_overlap_no_data_scale_join(spark):
    """dedup_source_overlap: the only aggregate over corpus-scale rows
    is the distinct (source, hash) sketch build; the pair comparison
    joins SKETCH rows (<= groups*k). No Python anywhere, and the
    bottom-k window gets the WindowGroupLimit pre-shrink."""
    plan = plan_of(spark, "dedup_source_overlap")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "WindowGroupLimit" in plan
    # the pair join must broadcast (tiny sketch side), never sort-merge
    assert "SortMergeJoin" not in plan


def test_cms_build_partial_agg_and_broadcast_lookup(spark):
    """text_cms_heavy_hitters: the sketch build must partial-agg
    map-side (the property that bounds shuffle to d*w rows — now a
    partial_sum over the weighted count table rather than a
    partial_count over raw occurrences), the lookup must broadcast
    the counter table, and nothing drops to Python."""
    plan = plan_of(spark, "text_cms_heavy_hitters")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan


def test_range_join_is_equi_not_nested_loop(spark):
    """rel_range_join: the BETWEEN-only join must execute as a hash
    equi join on the bucket id — never BroadcastNestedLoopJoin (the
    O(n*m) plan Spark produces for a bare theta join)."""
    plan = plan_of(spark, "rel_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_zorder_readback_pushes_z_range_to_parquet(spark, tmp_path):
    """The z-range predicate must reach the parquet scan as
    PushedFilters (row-group min/max skipping at scale) and the z-key
    itself must be pure codegen — no UDF node anywhere."""
    from pyspark.sql import functions as F2

    from h3ron_spark.operators.layout import write_zordered

    df = spark.range(2000).select(
        (F2.col("id") % 251).alias("a"), (F2.col("id") % 97).alias("b")
    )
    write_zordered(
        df.withColumn("_qa", F2.col("a") % 256).withColumn(
            "_qb", F2.col("b") % 256
        ),
        str(tmp_path / "t"),
        ["_qa", "_qb"],
        bits=8,
    )
    back = spark.read.parquet(str(tmp_path / "t")).filter(
        F2.col("z").between(1000, 3000)
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(z,1000)" in plan
    assert "LessThanOrEqual(z,3000)" in plan
    assert "Python" not in plan


def test_cohort_retention_broadcasts_sizes_and_stays_jvm(spark):
    """rel_cohort_retention: the |cohorts|-row sizes side must come in
    as a broadcast (never a shuffled join for a dimension that small),
    and the whole query must be pure codegen."""
    plan = plan_of(spark, "rel_cohort_retention")
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_triangles_all_equi_joins_no_nested_loop(spark):
    """graph_triangles: every join in the wedge/close cascade must be
    a hash equi-join — a BroadcastNestedLoopJoin or CartesianProduct
    here means the struct-order condition stopped being recognized as
    an equi key + filter and the plan is quadratic."""
    plan = plan_of(spark, "graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pagerank_iteration_is_join_plus_partial_agg(spark):
    """graph_pagerank: the per-iteration contribution aggregate must
    partial-combine map-side (partial_sum before the exchange), the
    plan must stay JVM-only, and nothing may degrade to a nested-loop
    join. Exchange budget, counted by walking the physical tree: the
    localCheckpointed edge and node frames scan without partitioning,
    so each of the 5 iterations re-keys the ranks onto ``src`` and the
    contributions onto ``dst`` — at most 2 exchanges per iteration."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "scripts")
    )
    from plan_report import digest

    plan = plan_of(spark, "graph_pagerank")
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    d = digest(Q.queries()["graph_pagerank"](spark, SF))["nodes"]
    assert d.get("Exchange", 0) <= 10, d


def test_incremental_rollup_partial_aggs_both_shards(spark):
    """pipeline_incremental_rollup: both shard partials and the merge
    re-aggregate must map-side combine; register state stays JVM."""
    plan = plan_of(spark, "pipeline_incremental_rollup")
    assert "partial_sum" in plan and "partial_max" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_trajectory_similarity_pushes_user_filter(spark):
    """geo_trajectory_similarity (r7 sf-robust redesign): the bounded
    user universe must reach the parquet scan as a pushed filter
    (the 100-TB cost model depends on pruning BEFORE the window
    ranks), the plan stays JVM-only, and the hop inverted-index join
    never degrades to a cartesian."""
    plan = plan_of(spark, "geo_trajectory_similarity")
    assert "LessThan(user_id,400)" in plan, "user cap not pushed to scan"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_editdistance_join_stays_jvm_and_bounded(spark):
    """dedup_editdistance_join (r7 plan-side cap): the visible plan
    (after the checkpointed gram index) must stay JVM-only with no
    cartesian join — the q-gram count gate, not an all-pairs product,
    bounds the Levenshtein DP. The 1-row cap cross-join lives inside
    the checkpoint build and never appears in the per-run plan."""
    plan = plan_of(spark, "dedup_editdistance_join")
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "levenshtein" in plan  # the DP is the JVM built-in


def test_redact_pii_stays_jvm_side(spark):
    """text_redact_pii: the whole redaction chain is JVM
    regexp_replace — zero Python boundaries of any kind, filters
    reach the scan."""
    plan = plan_of(spark, "text_redact_pii")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node


def test_chunk_documents_is_shuffle_free(spark):
    """pipeline.text.chunk_documents claims 'no shuffle at all'
    (explode is pipeline-local): pin it — one Generate, zero shuffle
    exchanges, zero Python — on the operator itself (the registered
    query adds a presentation orderBy, which legitimately range-
    partitions)."""
    from pyspark.sql import functions as F2

    from h3ron_spark.pipeline.text import chunk_documents

    docs = spark.range(200).select(
        F2.col("id").alias("doc_id"),
        F2.concat_ws(
            " ",
            *[F2.concat(F2.lit(f"w{i}_"), F2.col("id")) for i in range(40)],
        ).alias("text"),
    )
    df = chunk_documents(docs, chunk_tokens=16, overlap=4)
    jmode = (
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "Generate" in plan
    assert "Exchange" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
